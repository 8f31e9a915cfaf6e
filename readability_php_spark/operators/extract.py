"""The vectorized extraction operator: Arrow-batched ``mapInPandas``.

This is the Spark realization of the whole kernel pipeline S1..R2
(SURVEY.md §2.9): one logical stage, fused per row, executed
partition-parallel on Python workers with Arrow transfer.  Per the input
hint there is **no per-row Python UDF** — batches in, batches out.

Scale design (north rule):
- the kernel is closure-captured once per worker process (module import),
  not per row;
- every row yields exactly one output row; failures become the ``error``
  column — a bad page can never kill the job;
- lineage/metrics ride along as columns (``partition_id``, ``html_bytes``,
  ``extract_ms``) and are aggregated into the per-partition manifest by
  plans/pipeline.py;
- each task ends by dropping the worker's import finders for package
  directories inside archives (``deploy.drop_archive_dir_finders_after``):
  the reused worker calls ``importlib.invalidate_caches()`` before its
  next task, which re-reads the archive behind every cached finder
  (measured at 118-207 ms per call with them, about 41 ms without).
"""

from __future__ import annotations

import time
from typing import Iterator, Optional

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import Configuration
from ..deploy import drop_archive_dir_finders_after
from ..kernel import extract as kernel_extract
from ..sources.charset import sniff_decode

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType(), True),
    StructField("title", StringType(), True),
    StructField("byline", StringType(), True),
    StructField("content_html", StringType(), True),
    StructField("extracted_text", StringType(), True),
    StructField("excerpt", StringType(), True),
    StructField("image", StringType(), True),
    StructField("images", ArrayType(StringType()), True),
    StructField("site_name", StringType(), True),
    StructField("direction", StringType(), True),
    StructField("error", StringType(), True),
    StructField("attempts", IntegerType(), True),
    StructField("partition_id", IntegerType(), True),
    StructField("html_bytes", LongType(), True),
    StructField("extract_ms", DoubleType(), True),
])


def make_extract_batches(
    config: Configuration,
    url_aware_config: bool = True,
    carry: tuple[str, ...] = (),
):
    """Returns the mapInPandas function.  ``url_aware_config``: substitute
    each row's own url as OriginalURL so relative links absolutize against
    the page's true location (the reference is single-doc and takes this via
    config — src/Configuration.php:59; corpus-scale it must be per-row).
    ``carry``: input columns echoed through unchanged (e.g. warc_ts for
    streaming watermarks)."""

    @drop_archive_dir_finders_after
    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            out = {k.name: [] for k in EXTRACT_SCHEMA.fields}
            urls = pdf["url"]
            htmls = pdf["html"]
            for i in range(len(pdf)):
                url = urls.iat[i]
                raw = htmls.iat[i]
                nbytes = len(raw) if raw is not None else 0
                cfg = (
                    config.with_overrides(original_url=url)
                    if url_aware_config and url
                    else config
                )
                t0 = time.perf_counter()
                if raw is None:
                    res = kernel_extract("", cfg, url=url)
                else:
                    if isinstance(raw, (bytes, bytearray, memoryview)):
                        # charset sniff (BOM → strict-utf-8 trial → meta
                        # prescan → latin-1): crawl payloads carry no
                        # trustworthy encoding; a hard utf-8 decode garbles
                        # every legacy-encoded page.  Valid utf-8 input
                        # decodes exactly as before.
                        html, _enc = sniff_decode(bytes(raw))
                    else:
                        html = str(raw)
                    res = kernel_extract(html, cfg, url=url)
                ms = (time.perf_counter() - t0) * 1000.0
                out["url"].append(url)
                out["title"].append(res.title)
                out["byline"].append(res.byline)
                out["content_html"].append(res.content_html)
                out["extracted_text"].append(res.extracted_text)
                out["excerpt"].append(res.excerpt)
                out["image"].append(res.image)
                out["images"].append(res.images)
                out["site_name"].append(res.site_name)
                out["direction"].append(res.direction)
                out["error"].append(res.error)
                out["attempts"].append(res.attempts)
                out["partition_id"].append(pid)
                out["html_bytes"].append(nbytes)
                out["extract_ms"].append(ms)
            result = pd.DataFrame(out)
            for c in carry:
                result[c] = pdf[c].values
            yield result

    return extract_batches


def extract_operator(
    pages: DataFrame,
    config: Optional[Configuration] = None,
    *,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, html, ...) → extracted columns (EXTRACT_SCHEMA).

    ``carry``: extra input columns echoed through the batch unchanged
    (cheaper than a join-back on url, and preserves streaming columns like
    warc_ts for downstream watermarks).  The projection to (url, html,
    *carry) happens here so Catalyst prunes the scan to exactly what the
    operator consumes."""
    config = config or Configuration(
        fix_relative_urls=True, article_byline=True, substitute_entities=True
    )
    in_fields = {f.name: f for f in pages.schema.fields}
    schema = StructType(
        EXTRACT_SCHEMA.fields + [in_fields[c] for c in carry]
    )
    cols = ["url", "html", *carry]
    return pages.select(*cols).mapInPandas(
        make_extract_batches(config, carry=carry), schema=schema
    )


def composite_render(extracted: DataFrame, col_name: str = "rendered"):
    """S6 — the reference's ``__toString()`` composite render
    (src/Readability.php:1680-1683): ``<h1>{title}</h1>{content}``.
    Pure column algebra (JVM concat, whole-stage codegen); PHP sprintf
    renders null as '' — coalesce mirrors that."""
    from pyspark.sql import functions as F

    return extracted.withColumn(
        col_name,
        F.concat(
            F.lit("<h1>"),
            F.coalesce(F.col("title"), F.lit("")),
            F.lit("</h1>"),
            F.coalesce(F.col("content_html"), F.lit("")),
        ),
    )
