"""Page-corpus sources.

The engine's input shape is the Common-Crawl-style table from BASELINE.json's
``input_hint``: ``(url:string, warc_ts:timestamp, html:binary, text:string,
lang:string)``.  Two deterministic generators (no external data, no RNG):

- ``fixture_corpus_rows`` — the reference's 89 golden pages replicated K
  times with URL rewriting; spans 1.2 KB–1.63 MB per doc, so it exercises the
  size-bucketing / skew paths. Used by tests and bench.
- ``documents_corpus_df`` — wraps /root/testdata ``documents.text`` rows in a
  fixed HTML template *inside Spark* (pure column ops, no UDF), giving an
  extraction corpus whose ground truth is the original ``text`` column —
  the basis of the DuckDB-oracle round-trip checks in __spark_entry__.py.
"""

from __future__ import annotations

import datetime
import os
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

FIXTURE_DIR = "/root/reference/test/test-pages"

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

# fixture → language (from the page content; used for lang-filter tests)
_FIXTURE_LANGS = {
    "lemonde-1": "fr", "liberation-1": "fr", "heise": "de", "infobae": "es",
    "pixnet": "zh", "gmw": "zh", "hukumusume": "ja", "rtl-1": "ar",
    "rtl-2": "ar", "rtl-3": "ar", "rtl-4": "ar", "herald-sun-1": "en",
}
_EPOCH = datetime.datetime(2024, 1, 1)


def fixture_corpus_rows(
    replicas: int = 1, fixture_dir: str = FIXTURE_DIR
) -> Iterator[tuple]:
    """Deterministic rows: each fixture replicated ``replicas`` times with
    rewritten URLs and a warc_ts derived from the row index (seed-free)."""
    cases = sorted(
        d for d in os.listdir(fixture_dir)
        if os.path.isdir(os.path.join(fixture_dir, d))
    )
    i = 0
    for k in range(replicas):
        for case in cases:
            with open(os.path.join(fixture_dir, case, "source.html"), "rb") as f:
                raw = f.read()
            yield (
                f"http://fakehost/{case}/{k}.html",
                _EPOCH + datetime.timedelta(seconds=i),
                raw,
                None,
                _FIXTURE_LANGS.get(case, "en"),
            )
            i += 1


def fixture_corpus_df(
    spark: SparkSession,
    replicas: int = 1,
    fixture_dir: str = FIXTURE_DIR,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """The fixture corpus as a DataFrame.  Replication happens SPARK-side:
    only the 89 base pages (~19 MB) transit the driver, and the ×replicas
    fan-out is a join against ``spark.range(replicas)`` with column-op
    url/timestamp rewrites — row-identical to :func:`fixture_corpus_rows`
    (differential-tested) but flat in driver memory, where the old
    materialize-all-rows path held replicas × 19 MB in the driver and JVM
    heap (a ×600 corpus OOM'd a 24 GB driver)."""
    cases = sorted(
        d for d in os.listdir(fixture_dir)
        if os.path.isdir(os.path.join(fixture_dir, d))
    )
    base_rows = []
    for ci, case in enumerate(cases):
        with open(os.path.join(fixture_dir, case, "source.html"), "rb") as f:
            raw = f.read()
        base_rows.append((case, ci, raw, _FIXTURE_LANGS.get(case, "en")))
    base = spark.createDataFrame(
        base_rows, "case string, case_idx int, html binary, lang string"
    )
    n_cases = len(cases)
    df = (
        base.crossJoin(spark.range(replicas).select(F.col("id").alias("k")))
        .select(
            F.concat(
                F.lit("http://fakehost/"), "case", F.lit("/"),
                F.col("k").cast("string"), F.lit(".html"),
            ).alias("url"),
            # row index i = k·n_cases + case_idx, matching the generator;
            # timestampadd over a naive timestamp literal stays identical
            # to the generator's naive datetimes in ANY session timezone
            F.expr(
                f"timestampadd(SECOND, k * {n_cases} + case_idx, "
                f"TIMESTAMP '{_EPOCH:%Y-%m-%d %H:%M:%S}')"
            ).alias("warc_ts"),
            "html",
            F.lit(None).cast("string").alias("text"),
            "lang",
        )
    )
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


#: Fixed page template applied to `documents` rows with pure column ops.
#: Paragraph split: the document text is broken on newline runs (\n+) into
#: <p> blocks inside an article div, surrounded by boilerplate the
#: extractor must strip (nav/header/footer/sidebar).
def documents_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id,text,lang,source,n_chars) → pages DataFrame, all
    JVM-side (concat/regexp only; no Python in the template path)."""
    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs = repair_scan_parallelism(
        spark, spark.read.parquet(docs_path), docs_path
    )
    # escape &/</> so arbitrary text survives the HTML round trip, then break
    # paragraphs on newline runs
    escaped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"&", "&amp;"), r"<", "&lt;"
        ),
        r">",
        "&gt;",
    )
    body_html = F.concat(
        F.lit("<p>"),
        F.regexp_replace(escaped, r"\n+", "</p><p>"),
        F.lit("</p>"),
    )
    html = F.concat(
        F.lit(
            "<!DOCTYPE html><html><head><title>Document "
        ),
        F.col("doc_id").cast("string"),
        F.lit(
            " - SynthCorp</title></head><body>"
            '<div class="header"><ul class="menu"><li><a href="/">Home</a></li>'
            '<li><a href="/about">About</a></li></ul></div>'
            '<div class="content"><div class="article-body">'
        ),
        body_html,
        F.lit(
            "</div></div>"
            '<div class="footer sidebar"><p>Copyright SynthCorp. All rights '
            "reserved. Contact us at example.</p></div></body></html>"
        ),
    )
    return docs.select(
        F.concat(F.lit("http://synth.test/doc/"), F.col("doc_id").cast("string"),
                 F.lit(".html")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


#: Scan-parallelism repair bounds (bytes of compressed parquet).  Tables
#: below the floor are too small for the extra exchange to buy anything;
#: tables above the ceiling are cheap to scan per byte (wide relational
#: rows) and expensive to move, so the shuffle would cost more than the
#: idle cores.
_SCAN_REPAIR_MIN_BYTES = 128 * 1024
_SCAN_REPAIR_MAX_BYTES = 64 * 1024 * 1024

_scan_units_cache: dict[str, tuple[int, int]] = {}


def _parquet_scan_units(path: str) -> tuple[int, int]:
    """(max scan tasks, total bytes) for a parquet file or directory.

    A scan split can never cut inside a row group, so the hard ceiling on
    scan parallelism is the total row-group count across files — a table
    written as one file with one row group scans as ONE task no matter how
    small ``maxPartitionBytes`` is set."""
    cached = _scan_units_cache.get(path)
    if cached is not None:
        return cached
    files: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, fnames in os.walk(path):
            files.extend(
                os.path.join(root, f) for f in fnames if f.endswith(".parquet")
            )
    else:
        files = [path]
    units, total = 0, 0
    for f in files:
        try:
            total += os.path.getsize(f)
        except OSError:
            continue
        try:
            import pyarrow.parquet as pq

            units += max(pq.ParquetFile(f).metadata.num_row_groups, 1)
        except Exception:
            units += 1
    result = (max(units, 1), total)
    _scan_units_cache[path] = result
    return result


def repair_scan_parallelism(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Round-robin repartition a parquet-backed DataFrame whose physical
    layout caps scan parallelism far below the cluster (optimization-guide
    §2: scale-adaptive partitioning).

    The driver-generated tables are single-file / single-row-group parquet,
    so every downstream expression pipeline (regex, shingles, array
    algebra) runs as ONE task regardless of core count — at sf1.0 that is
    50k documents of per-row compute on one of 32 cores.  Moving a few MB
    once (<0.2 s) buys a ~P× speedup on every compute-bound query.

    Scale-adaptive by construction: a production table with many files /
    row groups has ``units >= parallelism`` and passes through untouched,
    and anything above ``_SCAN_REPAIR_MAX_BYTES`` is left to Spark's normal
    split logic (big tables already split; shuffling them would cost more
    than the idle cores).  Row-level results are unaffected — the operators
    in this repo are partition-order independent (sorted collects, rounded
    float reductions), which the DuckDB oracle gate re-proves every run."""
    par = spark.sparkContext.defaultParallelism
    units, total = _parquet_scan_units(path)
    if (
        units >= par
        or total < _SCAN_REPAIR_MIN_BYTES
        or total > _SCAN_REPAIR_MAX_BYTES
    ):
        return df
    return df.repartition(par)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Parquet loader for the driver-generated tables (TESTDATA.md).

    Pins the session timezone to UTC (idempotent): parquet stores
    instants, Spark renders them in the SESSION timezone, and every
    DuckDB oracle compares naive-UTC wall clocks — without the pin, a
    harness running under TZ=America/New_York would shift every
    timestamp-bearing gate by the zone offset and fail correct code.

    ``parallel=True`` routes through :func:`repair_scan_parallelism` —
    opt-in per call site because only CPU-heavy full-table consumers win:
    a query that immediately filters to a few hundred rows, or feeds a
    shuffling aggregation, pays the extra exchange for nothing (measured
    +0.3-1 s per query at sf1.0), while unfiltered regex/shingle/vector
    pipelines win ~P× (measured 52 s → 3 s on repetition_signals)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if parallel:
        df = repair_scan_parallelism(spark, df, path)
    return df
