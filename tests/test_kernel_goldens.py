"""Kernel self-goldens: the extraction operator's per-document output,
pinned by hash in ``tests/kernel_goldens.json``.

Each page goes through the operator's own batch function
(``make_extract_batches``, no Spark session): charset sniffing of the raw
bytes, then the kernel with the page url as ``original_url``, under
``run_extract_job``'s default configuration.  Every ``ParseResult`` field
is hashed, ``error`` and ``attempts`` included, so any change to what the
kernel emits fails here with the doc and the field named.

Inputs are generated in-repo: the benchmark corpora (``article_mix`` and
``short_retry`` at seeds 7 and 11, at the benchmark's doc counts) plus a
fixed adversarial list (empty input, garbage bytes, 100k-deep and 50k-wide
pages, seeded tag soup).

These goldens check the kernel against itself, not against the reference
implementation.  After an intended output change, regenerate with

    KERNEL_GOLDENS_REGEN=1 python -m pytest tests/test_kernel_goldens.py

and say why in the change log.  If ``extractbench/corpus.py`` changes its
pages, the goldens must be regenerated in the same change.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pandas as pd
import pytest

from extractbench import corpus
from readability_php_spark.config import Configuration
from readability_php_spark.operators.extract import make_extract_batches

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "kernel_goldens.json")
REGEN_ENV = "KERNEL_GOLDENS_REGEN"

#: the ParseResult fields, in the operator's output order
FIELDS = (
    "url", "title", "byline", "content_html", "extracted_text", "excerpt",
    "image", "images", "site_name", "direction", "error", "attempts",
)
#: run_extract_job's default configuration
CONFIG = Configuration(fix_relative_urls=True, article_byline=True, substitute_entities=True)
#: the benchmark's docs per corpus (extractbench/run.py WORKLOADS)
BENCH_DOCS = {"article_mix": 112, "short_retry": 280}
SEEDS = (7, 11)

_SOUP_TAGS = (
    "div", "p", "span", "a", "table", "tr", "td", "ul", "li", "b", "i",
    "h1", "h2", "section", "article", "aside", "nav", "footer", "form",
    "font", "center", "pre", "blockquote", "img", "br", "hr", "script", "style",
)
_SOUP_ATTRS = (
    "content", "article", "body", "comment", "sidebar", "footer", "ad-break",
    "share", "menu", "post", "entry", "hidden", "main", "byline", "author",
)


def _tag_soup(rng: random.Random, tokens: int) -> bytes:
    words = corpus.WORDS
    out = ["<html><head><title>" + " ".join(rng.choices(words, k=6)) + "</title></head><body>"]
    for _ in range(tokens):
        r = rng.random()
        tag = rng.choice(_SOUP_TAGS)
        if r < 0.35:
            attrs = ""
            if rng.random() < 0.6:
                attrs += f' class="{rng.choice(_SOUP_ATTRS)} {rng.choice(_SOUP_ATTRS)}"'
            if rng.random() < 0.3:
                attrs += f' id="{rng.choice(_SOUP_ATTRS)}"'
            if tag == "a" and rng.random() < 0.7:
                attrs += f' href="/{rng.choice(words)}"'
            if tag == "img":
                attrs += f' src="img/{rng.randint(0, 99)}.png"'
            out.append(f"<{tag}{attrs}>")
        elif r < 0.55:
            out.append(f"</{tag}>")
        elif r < 0.6:
            out.append(rng.choice(("<!-- c -->", "&amp;", "&nbsp;", "&#8217;", "<", ">", "&bogus;")))
        else:
            out.append(" ".join(rng.choices(words, k=rng.randint(1, 40))) + rng.choice((". ", ", ", " ")))
    return "".join(out).encode()


def _floor_page(n: int) -> bytes:
    """Paragraphs of exactly ``n`` chars, comma-heavy, beside a few long
    comma-free ones: which block wins depends on whether the kernel scores
    ``n``-char paragraphs, so a shifted scoring floor changes the output."""
    short = ("ab, " * 10)[: n - 1] + "z"
    long = " ".join(["word"] * 12)
    return (
        "<html><head><title>floor page</title></head><body>"
        f'<div class="a">{"".join(f"<p>{short}</p>" for _ in range(12))}</div>'
        f'<div class="b">{"".join(f"<p>{long}</p>" for _ in range(4))}</div>'
        "</body></html>"
    ).encode()


def _pages() -> list[tuple[str, str, bytes]]:
    """(golden key, url, raw html bytes) for every input."""
    pages = []
    for name, n_docs in BENCH_DOCS.items():
        for seed in SEEDS:
            c = getattr(corpus, name)(seed, n_docs)
            pages += [(f"{name}/{seed}/{i:03d}", u, h) for i, (u, h) in enumerate(zip(c.urls, c.htmls))]
    rng = random.Random("kernel-goldens")
    adversarial = {
        "empty": b"",
        "garbage": bytes(rng.getrandbits(8) for _ in range(4000)),
        "deep_100k": b"<html><body>" + b"<div>" * 100_000 + b"x" + b"</div>" * 100_000 + b"</body></html>",
        "wide_50k": b"<html><body>"
        + b"".join(b"<p>paragraph %d with some words.</p>" % i for i in range(50_000))
        + b"</body></html>",
    }
    adversarial.update({f"soup_{k:02d}": _tag_soup(rng, 120 + 40 * k) for k in range(16)})
    adversarial.update({f"floor_{n}": _floor_page(n) for n in range(22, 29)})
    pages += [(f"adversarial/{k}", f"http://adversarial.test/{k}.html", raw) for k, raw in adversarial.items()]
    return pages


def _digest(value) -> str:
    return hashlib.sha256(json.dumps(value, ensure_ascii=False).encode()).hexdigest()


def _extract_all() -> dict[str, list]:
    """golden key → [sha256 over all fields, [sha256[:8] per field]]."""
    pages = _pages()
    pdf = pd.DataFrame({"url": [u for _, u, _ in pages], "html": [h for _, _, h in pages]})
    (out,) = list(make_extract_batches(CONFIG)(iter([pdf])))
    got = {}
    for (key, _, _), rec in zip(pages, out.to_dict("records")):
        values = [rec[f] for f in FIELDS]
        values[FIELDS.index("attempts")] = int(rec["attempts"])
        got[key] = [_digest(values), [_digest(v)[:8] for v in values]]
    return got


def test_kernel_output_matches_goldens():
    got = _extract_all()
    if os.environ.get(REGEN_ENV) == "1":
        with open(GOLDENS, "w", encoding="utf-8") as f:
            f.write('{"fields": ' + json.dumps(FIELDS) + ', "docs": {\n')
            f.write(",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in got.items()))
            f.write("\n}}\n")
        pytest.skip(f"regenerated {GOLDENS} ({len(got)} docs)")
    with open(GOLDENS, encoding="utf-8") as f:
        pinned = json.load(f)
    assert tuple(pinned["fields"]) == FIELDS, "ParseResult fields changed; regenerate"
    want = pinned["docs"]
    problems = [f"missing golden: {k}" for k in got.keys() - want.keys()]
    problems += [f"golden without input: {k}" for k in want.keys() - got.keys()]
    for key in sorted(got.keys() & want.keys()):
        if got[key][0] != want[key][0]:
            fields = [f for f, a, b in zip(FIELDS, got[key][1], want[key][1]) if a != b]
            problems.append(f"{key}: {', '.join(fields) or 'field encoding'} differ")
    assert not problems, (
        f"{len(problems)} kernel output(s) differ from {os.path.basename(GOLDENS)} "
        f"(set {REGEN_ENV}=1 to regenerate after an intended change):\n  "
        + "\n  ".join(problems[:50])
    )
