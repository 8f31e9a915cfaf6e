"""Golden-fixture parity suite against the reference's own test corpus.

Mirrors /root/reference/test/ReadabilityTest.php:23-112: every directory under
test-pages is one case; content compared against expected.html, metadata
against expected-metadata.json, images against expected-images.json.

The reference goldens encode libxml2 parse + C14N bytes.  This engine runs a
pure-Python parser (no lxml in this environment), so:

- ``test_content_text_parity`` asserts normalized-token similarity ≥ 0.99 on
  every fixture (whitespace-insensitive token multiset Jaccard);
- ``test_content_byte_exact`` asserts byte-identical content_html for the
  fixtures where we currently achieve full parse parity (ratcheted set —
  grow it, never shrink);
- metadata fields are asserted exactly (assertSame semantics), except
  SiteName, which the reference harness itself never asserts
  (ReadabilityTest.php:60-65) and whose goldens are stale (e.g. marketwatch
  has og:site_name in the source but null in the golden).

KNOWN_DELTAS lists the currently-unexplained divergences (tracked, expected
to shrink): they xfail rather than pass silently.
"""

import json
import os
import re
from collections import Counter

import pytest

from readability_php_spark.config import Configuration
from readability_php_spark.dom import parse_html
from readability_php_spark.kernel import extract

TEST_PAGES = "/root/reference/test/test-pages"

pytestmark = pytest.mark.requires_reference

HARNESS_OPTS = {
    "OriginalURL": "http://fakehost/test/test.html",
    "FixRelativeURLs": True,
    "SubstituteEntities": True,
    "ArticleByLine": True,
}

# fixture → set of fields that diverge from the golden (under investigation).
# Empty since the Direction deltas were resolved: aclu needed the A10 climb
# to stop at the Document boundary (libxml documents always hold a DTD child,
# so PHP's only-child count is never 1 there) and document-level comments to
# not imply <html>; yahoo-3 needed libxml's discard-duplicate-<body>-tag
# behavior (attributes of a late <body> are dropped, not merged).
KNOWN_DELTAS: dict[str, set[str]] = {}

CASES = sorted(
    d for d in os.listdir(TEST_PAGES) if os.path.isdir(os.path.join(TEST_PAGES, d))
) if os.path.isdir(TEST_PAGES) else []


def _norm(s):
    return re.sub(r"\s+", " ", (s or "")).strip()


def _jaccard(a, b):
    ca, cb = Counter(a.split()), Counter(b.split())
    union = sum((ca | cb).values())
    return sum((ca & cb).values()) / union if union else 1.0


_results = {}


def run_case(case):
    if case in _results:
        return _results[case]
    d = os.path.join(TEST_PAGES, case)
    with open(os.path.join(d, "source.html"), encoding="utf-8", errors="replace") as f:
        src = f.read()
    over = {}
    cfg_path = os.path.join(d, "config.json")
    if os.path.exists(cfg_path):
        with open(cfg_path) as f:
            over = json.load(f)
    cfg = Configuration.from_params({**over, **HARNESS_OPTS})
    _results[case] = extract(src, cfg)
    return _results[case]


@pytest.mark.parametrize("case", CASES)
def test_content_text_parity(case):
    r = run_case(case)
    assert r.error is None, f"{case}: unexpected error {r.error}"
    with open(os.path.join(TEST_PAGES, case, "expected.html"), encoding="utf-8") as f:
        expected = f.read()
    exp_text = _norm(parse_html(expected).text_content)
    got_text = _norm(r.extracted_text)
    sim = _jaccard(exp_text, got_text)
    assert sim >= 0.99, f"{case}: text similarity {sim:.4f} < 0.99"


# Ratchet: fixtures whose content_html is byte-identical to the golden.
BYTE_EXACT = set()
_byte_exact_path = os.path.join(os.path.dirname(__file__), "byte_exact_cases.txt")
if os.path.exists(_byte_exact_path):
    with open(_byte_exact_path) as f:
        BYTE_EXACT = {line.strip() for line in f if line.strip()}


@pytest.mark.parametrize("case", sorted(BYTE_EXACT))
def test_content_byte_exact(case):
    r = run_case(case)
    with open(os.path.join(TEST_PAGES, case, "expected.html"), encoding="utf-8") as f:
        expected = f.read()
    assert (r.content_html or "").strip() == expected.strip(), (
        f"{case}: content_html no longer byte-identical (regression)"
    )


@pytest.mark.parametrize("case", CASES)
def test_metadata(case):
    r = run_case(case)
    with open(
        os.path.join(TEST_PAGES, case, "expected-metadata.json"), encoding="utf-8"
    ) as f:
        meta = json.load(f)
    deltas = KNOWN_DELTAS.get(case, set())
    checks = {
        "Author": r.byline,
        "Direction": r.direction,
        "Excerpt": r.excerpt,
        "Image": r.image,
        "Title": r.title,
    }
    failures = []
    for key, got in checks.items():
        exp = meta.get(key)
        if exp != got:
            if key in deltas:
                continue  # tracked divergence
            failures.append(f"{key}: expected {exp!r}, got {got!r}")
        else:
            assert key not in deltas or exp == got
    assert not failures, f"{case}: " + "; ".join(failures)


@pytest.mark.parametrize("case", [c for c, d in KNOWN_DELTAS.items()])
def test_known_deltas_still_present(case):
    """If a tracked delta starts passing, remove it from KNOWN_DELTAS."""
    r = run_case(case)
    with open(
        os.path.join(TEST_PAGES, case, "expected-metadata.json"), encoding="utf-8"
    ) as f:
        meta = json.load(f)
    attr = {"Direction": r.direction, "Author": r.byline}
    still_diverging = any(
        meta.get(k) != attr[k] for k in KNOWN_DELTAS[case] if k in attr
    )
    assert still_diverging, (
        f"{case}: tracked delta now matches the golden — remove from KNOWN_DELTAS"
    )


@pytest.mark.parametrize("case", CASES)
def test_images(case):
    r = run_case(case)
    path = os.path.join(TEST_PAGES, case, "expected-images.json")
    if not os.path.exists(path):
        pytest.skip("no expected-images.json")
    with open(path, encoding="utf-8") as f:
        exp = json.load(f)
    # PHP's array_unique keeps original (sparse) indices; json encodes those
    # as an object — compare the value sequence
    exp_list = list(exp.values()) if isinstance(exp, dict) else exp
    assert r.images == exp_list, f"{case}: images mismatch"


def test_error_invalid_html():
    # ReadabilityTest.php:119-127
    assert extract("<html>").error == "invalid_html"


def test_error_unparseable():
    # ReadabilityTest.php:129-138
    r = extract("<html><body><p></p></body></html>")
    assert r.error == "unparseable"
