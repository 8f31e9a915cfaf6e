"""Seeded page corpora with ground truth by construction.

Every page is built from a ``random.Random`` seeded by (workload, seed), so
one seed always yields the same pages and the same parquet bytes.  The
program under test only ever sees the parquet ``(url string, html binary)``;
the ground truth (inserted title, inserted article paragraphs, expected
attempt count, expected error code) stays in the benchmark process and is
checked against the extraction output by :func:`check_rows`.

Text is drawn from the same small vocabulary as the generated
``documents.text`` tables, so no data outside the benchmark is read.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

#: vocabulary of the generated ``documents.text`` tables
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query big stream order "
    "group filter vector"
).split()
#: extra words with non-ASCII letters, all encodable in windows-1252
LEGACY_WORDS = "café naïve über façade résumé señor déjà crème".split()
NAMES = "Ada Lin Omar Ruth Ivo Mei Tomas Zora Kai Noor Eli Sana".split()
SURNAMES = "Reyes Okafor Lund Tanaka Weber Costa Novak Haddad Brandt Ito".split()

#: class/id tokens are built from consonants and digits only, so no random
#: token can contain a keyword of the kernel's scoring regexes
_TOKEN_CHARS = "bcdfgjkqvwxz0123456789"
_TOKEN_PREFIXES = ("blk", "wrp", "grd", "cel", "box", "pnl", "zn")

#: files per corpus: one row group each, so the scan runs as this many tasks
#: whatever the core count (see run.py's ``maxPartitionBytes`` setting)
CORPUS_FILES = 8

EXPECTED_INVALID = "invalid_html"


@dataclass
class Truth:
    url: str
    title: Optional[str]
    paragraphs: list[str]
    attempts: int
    error: Optional[str]


@dataclass
class Corpus:
    urls: list[str]
    htmls: list[bytes]
    truths: dict[str, Truth]

    @property
    def n_docs(self) -> int:
        return len(self.urls)

    @property
    def n_bytes(self) -> int:
        return sum(len(h) for h in self.htmls)


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def _sentence(rng: random.Random, words: list[str]) -> str:
    ws = [rng.choice(words) for _ in range(rng.randint(6, 14))]
    return ws[0].capitalize() + " " + " ".join(ws[1:]) + "."


def _paragraph(rng: random.Random, words: list[str], sentences: int) -> str:
    return " ".join(_sentence(rng, words) for _ in range(sentences))


def _title(rng: random.Random, words: list[str]) -> str:
    return " ".join(w.capitalize() for w in (rng.choice(words) for _ in range(rng.randint(5, 9))))


def _token_pool(rng: random.Random, n: int) -> list[str]:
    return [
        rng.choice(_TOKEN_PREFIXES) + "-" + "".join(rng.choice(_TOKEN_CHARS) for _ in range(5))
        for _ in range(n)
    ]


def _nav(rng: random.Random, tokens: list[str], links: int) -> str:
    items = "".join(
        f'<li class="{rng.choice(tokens)}"><a href="/{rng.choice(WORDS)}/{i}">'
        f"{rng.choice(WORDS).capitalize()} {rng.choice(WORDS)}</a></li>"
        for i in range(links)
    )
    return f'<div class="header {rng.choice(tokens)}"><ul class="menu">{items}</ul></div>'


def _sidebar(rng: random.Random, tokens: list[str], links: int) -> str:
    items = "".join(
        f'<li><a href="/topic/{rng.choice(WORDS)}-{i}">{rng.choice(WORDS)} '
        f"{rng.choice(WORDS)} {rng.choice(WORDS)}</a></li>"
        for i in range(links)
    )
    return (
        f'<div class="sidebar {rng.choice(tokens)}"><h3>Related</h3><ul>{items}</ul></div>'
    )


_FOOTER = (
    '<div class="footer"><p>Copyright the publisher. All rights reserved.</p>'
    '<a href="/contact">Contact</a></div>'
)


def _data_table(rng: random.Random) -> str:
    rows = "".join(
        "<tr>" + "".join(f"<td>{rng.randint(0, 9999)}</td>" for _ in range(4)) + "</tr>"
        for _ in range(rng.randint(3, 8))
    )
    head = "".join(f"<th>{rng.choice(WORDS)}</th>" for _ in range(4))
    return f"<table><caption>Figures</caption><thead><tr>{head}</tr></thead><tbody>{rows}</tbody></table>"


def _layout_table(rng: random.Random, words: list[str]) -> str:
    return (
        '<table width="100%"><tr><td><span>'
        + _sentence(rng, words)
        + "</span></td></tr></table>"
    )


def _br_chain(rng: random.Random, words: list[str]) -> str:
    return "<div>" + "<br><br>".join(_sentence(rng, words) for _ in range(3)) + "</div>"


def _head(rng, title, site, charset, og, base) -> str:
    parts = [f'<meta charset="{charset}">']
    if og:
        parts.append(f"<title>{title} | {site}</title>")
        parts.append(f'<meta property="og:title" content="{title}">')
        parts.append(f'<meta property="og:site_name" content="{site}">')
        parts.append(f'<meta name="twitter:title" content="{title}">')
        parts.append(f'<meta property="og:image" content="/img/lead-{rng.randint(0, 99)}.jpg">')
        parts.append(f'<meta name="description" content="{_sentence(rng, WORDS)}">')
    else:
        parts.append(f"<title>{title}</title>")
    if base:
        parts.append(f'<base href="http://{site.lower()}.example/news/">')
    return "<head>" + "".join(parts) + "</head>"


def _article_page(rng, tokens, url, target_bytes, legacy) -> tuple[bytes, Truth]:
    words = WORDS + LEGACY_WORDS if legacy else WORDS
    site = rng.choice(("Dailywire", "Metropost", "Valleyherald", "Techdesk"))
    title = _title(rng, words)
    og = rng.random() < 0.6
    charset = "windows-1252" if legacy else "utf-8"
    author = f"{rng.choice(NAMES)} {rng.choice(SURNAMES)}"
    body = [
        f"<h1>{title}</h1>",
        f'<p class="byline">By {author}</p>',
    ]
    paragraphs: list[str] = []
    size = 0
    while size < target_bytes or len(paragraphs) < 3:
        p = _paragraph(rng, words, rng.randint(3, 8))
        paragraphs.append(p)
        body.append(f'<p class="{rng.choice(tokens)}">{p}</p>')
        size += len(p) + 40
        r = rng.random()
        if r < 0.04:
            body.append(_data_table(rng))
        elif r < 0.07:
            body.append(_layout_table(rng, words))
        elif r < 0.10:
            body.append(_br_chain(rng, words))
        elif r < 0.13:
            body.append(f'<figure><img src="../img/{rng.randint(0, 999)}.jpg" alt="x"></figure>')
    html = (
        "<!DOCTYPE html><html>"
        + _head(rng, title, site, charset, og, base=rng.random() < 0.3)
        + "<body>"
        + _nav(rng, tokens, rng.randint(8, 30))
        + f'<div id="{rng.choice(tokens)}" class="{rng.choice(tokens)}">'
        + f'<div class="article-body {rng.choice(tokens)}">'
        + "".join(body)
        + "</div></div>"
        + _sidebar(rng, tokens, rng.randint(5, 20))
        + _FOOTER
        + "</body></html>"
    )
    raw = html.encode("cp1252") if legacy else html.encode("utf-8")
    return raw, Truth(url, title, paragraphs, attempts=1, error=None)


def _short_page(rng, tokens, url, template) -> tuple[bytes, Truth]:
    """Under 500 chars of article text inside heavy boilerplate: the kernel
    runs all four attempts of its retry ladder on every such page."""
    title = _title(rng, WORDS)
    paragraphs: list[str] = []
    while True:
        p = _paragraph(rng, WORDS, rng.randint(1, 2))
        if sum(len(x) for x in paragraphs) + len(p) > 420:
            break
        paragraphs.append(p)
    if not paragraphs:
        paragraphs.append(_sentence(rng, WORDS))
    article = "".join(f"<p>{p}</p>" for p in paragraphs)
    nav = _nav(rng, tokens, 40 + 10 * template)
    side = _sidebar(rng, tokens, 20 + 5 * template)
    if template == 0:
        layout = nav + f'<div class="main"><article>{article}</article></div>' + side
    elif template == 1:
        layout = nav + side + f'<div class="{rng.choice(tokens)}"><div class="text">{article}</div></div>'
    else:
        layout = (
            nav
            + '<table width="100%"><tr>'
            + f"<td>{side}</td><td><div class=\"story\">{article}</div></td>"
            + "</tr></table>"
        )
    html = (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>{title}</title></head><body>{layout}{_FOOTER}</body></html>"
    )
    return html.encode("utf-8"), Truth(url, title, paragraphs, attempts=4, error=None)


def _empty_page(rng, url) -> tuple[bytes, Truth]:
    html = f"<!DOCTYPE html><html><head><title>{_title(rng, WORDS)}</title></head><body></body></html>"
    return html.encode("utf-8"), Truth(url, None, [], attempts=0, error=EXPECTED_INVALID)


#: article_mix sizes: quantiles of a log-spread, heavy-tailed law from
#: 5 KB to 500 KB (``5 KB * 100**(u**3)``); one draw per stratum keeps the
#: total corpus bytes nearly constant across seeds
ARTICLE_MIN_BYTES = 5_000
ARTICLE_SPAN = 100.0


def article_mix(seed: int, n_docs: int) -> Corpus:
    rng = _rng("article_mix", seed)
    tokens = _token_pool(rng, 1500)
    # doc i takes size stratum strata[i]; the page kind goes with the
    # stratum, not the position, so every seed gives up the same strata to
    # empty and short pages and only the order of the docs is shuffled
    strata = list(range(n_docs))
    rng.shuffle(strata)
    urls, htmls, truths = [], [], {}
    for i, j in enumerate(strata):
        u = (j + rng.random()) / n_docs
        url = f"http://site{rng.randint(0, 49)}.example/{seed}/article/{i}.html"
        kind = j % 50
        if kind == 7:
            raw, t = _empty_page(rng, url)
        elif kind in (13, 31):
            raw, t = _short_page(rng, tokens, url, i % 3)
        else:
            target = int(ARTICLE_MIN_BYTES * ARTICLE_SPAN ** (u ** 3))
            raw, t = _article_page(rng, tokens, url, target, legacy=(kind % 10 == 3))
        urls.append(url)
        htmls.append(raw)
        truths[url] = t
    return Corpus(urls, htmls, truths)


def short_retry(seed: int, n_docs: int) -> Corpus:
    rng = _rng("short_retry", seed)
    tokens = _token_pool(rng, 200)
    urls, htmls, truths = [], [], {}
    for i in range(n_docs):
        url = f"http://site{rng.randint(0, 49)}.example/{seed}/brief/{i}.html"
        raw, t = _short_page(rng, tokens, url, i % 3)
        urls.append(url)
        htmls.append(raw)
        truths[url] = t
    return Corpus(urls, htmls, truths)


def deal(sizes: list[int], files: int) -> list[list[int]]:
    """Doc indices per file, balanced by bytes: largest doc first onto the
    lightest file (ties to the lower file number), each file in corpus
    order.  The scan tasks then carry equal bytes whatever the seed, so a
    seed cannot make one task the straggler."""
    load = [0] * files
    out: list[list[int]] = [[] for _ in range(files)]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        f = min(range(files), key=lambda f: (load[f], f))
        load[f] += sizes[i]
        out[f].append(i)
    return [sorted(idx) for idx in out]


def write_parquet(corpus: Corpus, path: str, files: int = CORPUS_FILES) -> None:
    """``files`` parquet files of one row group each, balanced by bytes
    (:func:`deal`)."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    for f, idx in enumerate(deal([len(h) for h in corpus.htmls], files)):
        table = pa.table(
            {"url": [corpus.urls[i] for i in idx], "html": [corpus.htmls[i] for i in idx]},
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"),
                       row_group_size=max(len(idx), 1))


def _squash(s: Optional[str]) -> str:
    return "".join((s or "").split())


def check_rows(corpus: Corpus, rows: dict[str, list]) -> tuple[int, list[str]]:
    """Compare one pass's output (column lists: url, title, extracted_text,
    error, attempts) with the ground truth.  Returns (failed docs, the first
    few failure reasons).  A doc fails if its url is missing or repeated, its
    error or attempt count differs from the expected one, its title differs,
    or its inserted paragraphs do not occur, in order, in its extracted text
    (all whitespace removed on both sides)."""
    index: dict[str, int] = {}
    repeated: set[str] = set()
    for i, url in enumerate(rows["url"]):
        if url in index:
            repeated.add(url)
        index[url] = i
    failed = 0
    reasons: list[str] = []

    def fail(url: str, why: str) -> None:
        nonlocal failed
        failed += 1
        if len(reasons) < 5:
            reasons.append(f"{url}: {why}")

    for url in sorted(set(index) - set(corpus.truths)):
        fail(url, "unexpected url")
    for url, truth in corpus.truths.items():
        i = index.get(url)
        if i is None:
            fail(url, "missing")
            continue
        if url in repeated:
            fail(url, "repeated")
            continue
        if rows["error"][i] != truth.error:
            fail(url, f"error {rows['error'][i]!r} != {truth.error!r}")
            continue
        if rows["attempts"][i] != truth.attempts:
            fail(url, f"attempts {rows['attempts'][i]} != {truth.attempts}")
            continue
        if truth.error is not None:
            continue
        if rows["title"][i] != truth.title:
            fail(url, f"title {rows['title'][i]!r} != {truth.title!r}")
            continue
        if not _contains_in_order(_squash(rows["extracted_text"][i]), truth.paragraphs):
            fail(url, "article text missing from extracted_text")
    return failed, reasons


def _contains_in_order(text: str, paragraphs: list[str]) -> bool:
    """Every paragraph (whitespace removed) occurs in ``text``, in document
    order; one left-to-right scan of ``text``."""
    pos = 0
    for p in paragraphs:
        q = _squash(p)
        at = text.find(q, pos)
        if at < 0:
            return False
        pos = at + len(q)
    return True

