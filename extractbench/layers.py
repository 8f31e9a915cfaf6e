"""In-process layer tracing: spans around calls into the program's layers.

Nothing inside the program is instrumented.  :func:`patched` swaps a
module attribute for a timing wrapper and restores it afterwards, so only
calls that go *through that attribute* are seen: the kernel callees as
``kernel.readability`` imports them, the kernel and charset entry points as
``operators.extract`` imports them, and the driver-side pipeline helpers.

A span records its name, start, end and the span that caused it (the
innermost wrapped call open when it started).  Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional

#: (attribute of ``kernel.readability``, span name)
KERNEL_CALLEES = (
    ("parse_html", "dom.parser.parse_html"),
    ("deep_clone", "dom.node.deep_clone"),
    ("serialize", "dom.serializer.serialize"),
    ("prep_document", "kernel.prep"),
    ("remove_scripts", "kernel.prep"),
    ("scan_meta_values", "kernel.metadata"),
    ("coalesce_metadata", "kernel.metadata"),
    ("get_article_title", "kernel.metadata"),
    ("find_main_image_fallback", "kernel.metadata"),
    ("to_absolute_uri", "kernel.metadata"),
    ("collect_images", "kernel.metadata"),
    ("get_nodes", "kernel.scan.get_nodes"),
    ("rate_nodes", "kernel.scoring.rate_nodes"),
    ("post_process_content", "kernel.cleanup.post_process_content"),
)
#: (attribute of ``operators.extract``, span name)
OPERATOR_CALLEES = (
    ("kernel_extract", "kernel.readability.extract"),
    ("sniff_decode", "sources.charset.sniff_decode"),
)
BATCH_SPAN = "operators.extract.batch"
REPLAY_BATCH_ROWS = 64


@dataclass
class Span:
    id: int
    parent: Optional[int]
    name: str
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Spans:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), self._open[-1] if self._open else None, name,
                  time.perf_counter())
        self.spans.append(sp)
        self._open.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()

    def wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total_ms(self, name: str) -> float:
        return sum(s.ms for s in self.named(name))

    def self_ms(self, name: str) -> float:
        """Duration of the ``name`` spans minus what their child spans cover
        (children of one span never overlap: calls are synchronous)."""
        ids = {s.id for s in self.named(name)}
        child = sum(s.ms for s in self.spans if s.parent in ids)
        return self.total_ms(name) - child

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@contextmanager
def patched(spans: Spans, targets):
    """Wrap each ``(module, attribute, span name)`` for the duration."""
    saved = []
    try:
        for mod, attr, name in targets:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, spans.wrap(name, orig))
        yield spans
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def driver_targets():
    from readability_php_spark.plans import pipeline, snapshots

    return [
        (pipeline, "read_manifest", "plans.pipeline.read_manifest"),
        (snapshots, "commit_snapshot", "plans.snapshots.commit_snapshot"),
    ]


def _replay(fn, batches, spans: Optional[Spans]) -> list[int]:
    attempts: list[int] = []
    for pdf in batches:
        if spans is None:
            out = next(fn(iter([pdf])))
        else:
            with spans.span(BATCH_SPAN):
                out = next(fn(iter([pdf])))
        attempts.extend(int(a) for a in out["attempts"])
    return attempts


def replay_kernel(urls: list[str], htmls: list[bytes], spans: Spans) -> dict[str, float]:
    """Run the extraction operator's batch function in this process on
    ``REPLAY_BATCH_ROWS``-row pandas batches, as ``mapInPandas`` would:
    once untraced to fill the memo caches and import paths, then with every
    kernel layer wrapped.  Returns the ``dom.*`` / ``kernel.*`` /
    ``sources.*`` / ``operators.extract.*`` metrics, per doc."""
    import pandas as pd

    from readability_php_spark.config import Configuration
    from readability_php_spark.dom import parser
    from readability_php_spark.kernel import nodeutil
    from readability_php_spark.kernel import readability as rd
    from readability_php_spark.operators import extract as op

    config = Configuration(fix_relative_urls=True, article_byline=True, substitute_entities=True)
    fn = op.make_extract_batches(config)
    batches = [
        pd.DataFrame({"url": urls[i:i + REPLAY_BATCH_ROWS], "html": htmls[i:i + REPLAY_BATCH_ROWS]})
        for i in range(0, len(urls), REPLAY_BATCH_ROWS)
    ]
    _replay(fn, batches, None)
    targets = [(rd, a, n) for a, n in KERNEL_CALLEES] + [(op, a, n) for a, n in OPERATOR_CALLEES]
    with patched(spans, targets):
        attempts = _replay(fn, batches, spans)
    docs = float(len(attempts))

    def per_doc_ms(name: str) -> float:
        return spans.total_ms(name) / docs

    return {
        "dom.parser.parse_html_ms": per_doc_ms("dom.parser.parse_html"),
        "dom.parser.parse_html_calls": len(spans.named("dom.parser.parse_html")) / docs,
        "dom.node.deep_clone_ms": per_doc_ms("dom.node.deep_clone"),
        "dom.node.deep_clone_calls": len(spans.named("dom.node.deep_clone")) / docs,
        "kernel.scan.get_nodes_ms": per_doc_ms("kernel.scan.get_nodes"),
        "kernel.scan.get_nodes_calls": len(spans.named("kernel.scan.get_nodes")) / docs,
        "kernel.scoring.rate_nodes_ms": per_doc_ms("kernel.scoring.rate_nodes"),
        "kernel.cleanup.post_process_content_ms": per_doc_ms("kernel.cleanup.post_process_content"),
        "kernel.metadata_ms": per_doc_ms("kernel.metadata"),
        "kernel.prep_ms": per_doc_ms("kernel.prep"),
        "dom.serializer.serialize_ms": per_doc_ms("dom.serializer.serialize"),
        "sources.charset.sniff_decode_ms": per_doc_ms("sources.charset.sniff_decode"),
        "kernel.readability.extract_ms": per_doc_ms("kernel.readability.extract"),
        "kernel.readability.self_ms": spans.self_ms("kernel.readability.extract") / docs,
        "kernel.readability.attempts_per_doc": sum(attempts) / docs,
        "kernel.readability.first_attempt_ratio": sum(1 for a in attempts if a == 1) / docs,
        "dom.parser.tag_cache_entries": float(len(parser._TAG_CACHE)),
        "kernel.nodeutil.weight_cache_entries": float(len(nodeutil._WEIGHT_CACHE)),
        "operators.extract.batch_overhead_ms": spans.self_ms(BATCH_SPAN) / docs,
    }
