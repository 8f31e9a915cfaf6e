"""End-to-end extraction job: the north-rule pipeline.

    scan → (pushed-down pre-filters) → [resume anti-join] → mapInPandas
    (extract) → append-commit parquet + per-bucket manifest/metrics,
    optionally in bucket waves.

Scale reasoning (explicitly, for the 1000-executor / 100 TB case):

- **No input-side shuffle in the hot path.**  Extraction is embarrassingly
  parallel, so the job is scan → narrow ops → extract → (one shuffle of the
  extracted rows) → write.  Measured on local[32], a pre-extraction
  repartition of the raw HTML cost 15-18 s of non-scaling wall time on a
  0.5 GB corpus — at 100 TB that shuffle would move the entire corpus
  through disk twice for zero algorithmic benefit.  The post-extraction
  repartition moves only the results (~6x smaller than the HTML, measured)
  and is what makes the partitioned output compact — see the write-site
  comment.  Host-clustering skew is broken by letting the *scan splits* be
  the parallel unit (parquet/Iceberg splits are size-balanced by
  ``maxPartitionBytes``, independent of crawl-host locality), and CPU skew
  from pathological pages is bounded by the kernel's depth cap.
- **Work unit = content-stable hash bucket.** ``part_id =
  pmod(xxhash64(url, seed), num_buckets)`` is a *bookkeeping column*, not a
  layout: resume anti-joins the manifest (broadcast — one row per bucket)
  as a row filter; no co-location needed.
- **Commit unit = wave.**  Spark's output commit is atomic per job (staging
  + rename), so a crashed run leaves no partial files.  ``waves`` splits the
  bucket space into ranges committed one job at a time — the incremental-
  progress knob for multi-day backfills: a crash loses at most one wave.
  Each wave appends data + manifest rows; restart skips completed buckets.
- **Metrics** ride as columns and aggregate per bucket into the manifest
  from a column- AND partition-pruned read-back of the committed files:
  output is ``partitionBy(part_id)``, so a wave reads back only its own
  bucket directories no matter how much earlier output has accumulated
  (same pruning serves the resume anti-join).  The read-back passes the
  output's known schema (no schema-inference job), and its
  ``groupBy(part_id)`` is collected to the driver — at most one row per
  bucket of the wave; buckets with no rows get zero rows in Python.  The
  manifest rows are then appended from the driver as one small parquet
  file (``snapshots.append_parquet_rows``, the snapshot log's appender),
  so committing a wave's metadata costs one Spark action, not a write
  job.  Files per wave ≤ buckets-in-wave x ``files_per_bucket`` (the
  pre-write repartition gives each (bucket, salt) key one writer, and
  deals the keys over at most one write task per core), so file counts
  stay bounded at any corpus size.
- The sink is parquet (no Iceberg runtime in this sandbox); append-commit +
  manifest is the Iceberg snapshot pattern — ``.writeTo(tbl).append()`` is
  a drop-in swap.  ``plans/snapshots.py`` supplies the remaining Iceberg
  ingredient: a per-wave file-manifest snapshot log with as-of
  (time-travel) reads, so readers pin a consistent view while later waves
  or reruns append.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..config import Configuration
from ..operators.extract import EXTRACT_SCHEMA, extract_operator
from . import snapshots as snaplog

#: Arrow batch size for multi-MB HTML rows. 10k-row default batches would be
#: 10 GB+ on crawl data; 64 rows × ~1 MB keeps worker RSS bounded.
ARROW_BATCH_FOR_HTML = 64

#: Schema of the committed output: the extract columns plus the
#: ``part_id`` partition column.  The job's own read-backs pass it, so
#: they skip the schema-inference job over the file footers.
OUTPUT_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [StructField("part_id", IntegerType(), True)]
)

#: The per-bucket manifest columns and their types; resume reads
#: ``part_id``/``num_buckets``/``salt_seed``, the rest are the metrics.
_COUNT_COLS = ("docs", "bytes_in", "errors", "attempts_total")
_MS_COLS = ("extract_ms_total", "extract_ms_max")


def _manifest_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [("part_id", pa.int32())]
        + [(c, pa.int64()) for c in _COUNT_COLS]
        + [(c, pa.float64()) for c in _MS_COLS]
        + [
            ("completed_at", pa.timestamp("us", tz="UTC")),
            ("num_buckets", pa.int32()),
            ("salt_seed", pa.int32()),
        ]
    )


@dataclass
class ExtractJobResult:
    output_path: str
    manifest_path: str
    buckets_done: int
    buckets_skipped: int
    waves_run: int
    #: id of the LATEST snapshot in the Iceberg-pattern snapshot log
    #: (plans/snapshots.py) after this run — whether committed by this
    #: run or a previous one (an all-skipped resume still reports the
    #: log's max id).  None means "no snapshot exists": snapshotting was
    #: disabled, or it is enabled but no wave has ever committed files
    #: (e.g. a fully-filtered run).  Every non-None value is accepted by
    #: read_snapshot().
    last_snapshot_id: "int | None" = None


def tune_session_for_extraction(spark: SparkSession) -> None:
    """Session knobs the operator relies on; idempotent.  Also ships the
    package zip to executors (the library-API equivalent of
    ``spark-submit --py-files``)."""
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_FOR_HTML)
    )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    from ..deploy import ship_package

    ship_package(spark)


def with_bucket(pages: DataFrame, num_buckets: int, seed: int = 42) -> DataFrame:
    return pages.withColumn(
        "part_id",
        F.pmod(F.xxhash64(F.col("url"), F.lit(seed)), F.lit(num_buckets)).cast("int"),
    )


def _try_read_parquet(
    spark: SparkSession, path: str, schema: Optional[StructType] = None
) -> Optional[DataFrame]:
    """Filesystem-agnostic existence probe + read.  ``os.path.exists`` is
    driver-local — always False for hdfs://, s3a://, etc. — which would make
    resume dedup silently never engage on a real cluster.  The probe is
    one Hadoop-FS ``globStatus`` call instead — the same glob expansion
    ``spark.read`` applies, on any Hadoop-compatible filesystem — so a
    path that matches nothing returns None without a Spark analysis.

    ``schema``: the known schema of the data, when the caller has it —
    the read then skips the footer-scanning schema-inference job, and an
    existing directory without data files reads as an empty DataFrame.

    Past the probe, ONLY the path-missing conditions map to None ("no
    committed output yet").  Every other failure — credential errors,
    corrupt footers, a transient store throttle surfacing as an analysis
    error — re-raises: swallowing it would silently disable the
    committed-rows anti-join on a resume run and the rerun would append
    duplicate rows, breaking the exactly-once guarantee this module
    documents."""
    from pyspark.errors import AnalysisException

    jvm, fs = snaplog._fs(spark, path)
    if not fs.globStatus(jvm.org.apache.hadoop.fs.Path(path)):
        return None
    try:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
        df.schema  # force resolution so a missing path fails here
        return df
    except AnalysisException as e:
        get_cond = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", lambda: None
        )
        cond = get_cond() or ""
        # the path vanished between the probe and the read (a concurrent
        # cleanup): same answer the probe would have given
        if cond == "PATH_NOT_FOUND":
            return None
        # an existing directory with NO readable parquet data — exactly
        # what a crashed first append (_temporary only), a fully-filtered
        # run (_SUCCESS only), or a torn checkpoint leaves behind — reads
        # back as UNABLE_TO_INFER_SCHEMA and means "no committed output",
        # not a failure: committed rows always carry an inferable schema,
        # so this cannot mask real data (corrupt footers raise a different
        # error class and still re-raise)
        if cond == "UNABLE_TO_INFER_SCHEMA":
            return None
        # older Spark builds surface missing paths without an error class
        # (or under a legacy one); match the message so a first run of a
        # resumable pipeline still maps "no output yet" → None there
        if not cond and "Path does not exist" in str(e):
            return None
        raise


def read_manifest(spark: SparkSession, manifest_path: str) -> Optional[DataFrame]:
    return _try_read_parquet(spark, manifest_path)


def _wave_manifest_rows(
    committed_out: Optional[DataFrame],
    wave_buckets: list,
    *,
    dedupe: bool,
    num_buckets: int,
    salt_seed: int,
) -> list:
    """One manifest row (a dict in :func:`_manifest_arrow_schema` order)
    per bucket of the wave, from the committed rows of those buckets.

    One Spark action: a column- and partition-pruned ``groupBy(part_id)``
    whose at most ``len(wave_buckets)`` result rows are collected.  A
    bucket with no rows still completed and gets an explicit zero row —
    without it the bucket never enters the done set and every resume
    re-runs it forever (sparse url hashing, filtered-out waves).  Every
    bucket goes through the same builder, so the column types never
    depend on whether the wave found any output."""
    agg: dict = {}
    if committed_out is not None:
        out = committed_out.select(
            "part_id", "url", "error", "attempts", "extract_ms", "html_bytes"
        ).filter(F.col("part_id").isin(wave_buckets))
        if dedupe:
            # compacted-but-not-yet-vacuumed buckets: raw ∪ staged holds
            # each url twice (identical rows) — count once.  Only paid
            # when a compaction is actually in play; the shuffle is
            # bounded by this wave's partition-pruned rows.
            out = out.dropDuplicates(["part_id", "url"])
        for r in out.groupBy("part_id").agg(
            F.count("*").alias("docs"),
            F.sum("html_bytes").alias("bytes_in"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            F.sum("attempts").alias("attempts_total"),
            F.sum("extract_ms").alias("extract_ms_total"),
            F.max("extract_ms").alias("extract_ms_max"),
        ).collect():
            agg[r.part_id] = r.asDict()
    ts = snaplog._now_utc()
    rows = []
    for b in wave_buckets:
        got = agg.get(b, {})
        row = {"part_id": int(b)}
        # a sum over all-null values is null: report it as 0
        row.update({c: int(got.get(c) or 0) for c in _COUNT_COLS})
        row.update({c: float(got.get(c) or 0.0) for c in _MS_COLS})
        row.update(completed_at=ts, num_buckets=num_buckets, salt_seed=salt_seed)
        rows.append(row)
    return rows


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    *,
    config: Optional[Configuration] = None,
    num_buckets: int = 64,
    salt_seed: int = 42,
    manifest_path: Optional[str] = None,
    resume: bool = True,
    waves: int = 1,
    lang_filter: Optional[str] = None,
    max_html_bytes: Optional[int] = None,
    files_per_bucket: Optional[int] = None,  # writer parallelism per bucket;
    # default: cluster cores / buckets-in-wave (>=1)
    snapshots: bool = True,  # commit a file-manifest snapshot per wave
    # (plans/snapshots.py) so readers can pin an as-of view of the output
) -> ExtractJobResult:
    """The flagship job.  ``pages``: DataFrame with (url, html[, lang...])."""
    tune_session_for_extraction(spark)
    manifest_path = manifest_path or output_path.rstrip("/") + "_manifest"
    config = config or Configuration(
        fix_relative_urls=True, article_byline=True, substitute_entities=True
    )

    # pre-filters: declarative so they push into the scan
    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)
    if max_html_bytes is not None:
        pages = pages.filter(F.length("html") <= max_html_bytes)

    work = with_bucket(pages, num_buckets, salt_seed)

    done_ids = None
    skipped = 0
    manifest = read_manifest(spark, manifest_path) if resume else None
    if manifest is not None:
        # bucket ids are only meaningful under the same (num_buckets, seed):
        # refuse to resume across a bucketing change rather than silently
        # treating aliased ids as complete
        # one collect: a few rows per bucket at most, three int columns
        rows = manifest.select("part_id", "num_buckets", "salt_seed").collect()
        for r in rows:
            if r.num_buckets != num_buckets or r.salt_seed != salt_seed:
                raise ValueError(
                    f"manifest at {manifest_path} was written with "
                    f"num_buckets={r.num_buckets}, seed={r.salt_seed}; "
                    f"this run uses num_buckets={num_buckets}, seed={salt_seed}. "
                    "Use a fresh output/manifest path or the original bucketing."
                )
        done_ids = {r.part_id for r in rows}
        skipped = len(done_ids)

    # Snapshot of rows committed by PREVIOUS runs (file listing is resolved
    # at read time, so this never sees this run's own appends).  Gated on
    # output existence alone — NOT on the manifest: a crash between the
    # first data append and the first manifest append leaves committed rows
    # with no manifest at all, and rerunning must still not duplicate them.
    committed = (
        _try_read_parquet(spark, output_path, OUTPUT_SCHEMA) if resume else None
    )
    # After compact+vacuum maintenance, some buckets' live rows exist
    # ONLY under the _compacted staging dir, which a raw directory read
    # skips.  The staged view is computed once (the compacted set cannot
    # change mid-run — compaction is an offline maintenance op) and
    # unioned wherever the raw read stands in for "all committed rows":
    # the resume anti-join AND the per-wave metrics read-back below
    # (without the latter, a resumed bucket whose rows live only under
    # _compacted reports zero docs/bytes in the manifest).
    staged = None
    if snapshots:
        staged = snaplog._read_file_rows(
            spark, snaplog.live_compacted_files(spark, output_path)
        )
    if resume and staged is not None:
        committed = (
            staged
            if committed is None
            else committed.unionByName(staged, allowMissingColumns=True)
        )

    wave_size = max(1, (num_buckets + waves - 1) // waves)
    waves_run = 0
    buckets_done = 0
    last_snapshot_id = None
    snap_cache = None
    if snapshots:
        # one driver-side log read for the whole run; every wave's commit
        # extends the cache locally instead of re-reading the log
        snap_cache = snaplog.SnapshotLogCache()
    for lo in range(0, num_buckets, wave_size):
        hi = min(lo + wave_size, num_buckets)
        wave_buckets = [b for b in range(lo, hi) if not (done_ids and b in done_ids)]
        if not wave_buckets:
            continue
        wave = work.filter(F.col("part_id").isin(wave_buckets)) if (
            done_ids or waves > 1
        ) else work

        # exactly-once across crashes: a run that died between a data
        # append and its manifest append leaves committed rows in buckets
        # the manifest doesn't know about — drop those urls before
        # re-extracting.  The output is partitionBy(part_id), so this scan
        # prunes to the wave's own directories and reads only the url column.
        if committed is not None:
            already = (
                committed
                .filter(F.col("part_id").isin(wave_buckets))
                .select("url")
            )
            wave = wave.join(already, "url", "left_anti")

        extracted = extract_operator(wave, config, carry=("part_id",))
        # Compact bucket-partitioned write.  The one shuffle here moves the
        # EXTRACTED rows — measured ~6x smaller than the raw HTML (42 MB out
        # of a 255 MB corpus) — never the input: a pre-extraction shuffle
        # scales with input bytes (measured 15-18 s per 0.5 GB of raw HTML),
        # this one with output bytes.  It buys (a) directory-pruned resume +
        # metrics reads via partitionBy, and (b) bounded file counts: at
        # most buckets x files_per_bucket per wave instead of one file per
        # (task, bucket) — the unshuffled partitionBy write measured 3-4x
        # slower on the bench corpus and produced one tiny file per doc.
        cores = spark.sparkContext.defaultParallelism
        fpb = files_per_bucket or max(1, cores // max(len(wave_buckets), 1))
        # dense writer key = (bucket's position in the wave) x fpb + salt;
        # the salt gives a bucket up to fpb writers (without it, writers
        # per wave = buckets in wave — far below cluster cores at scale).
        # repartitionById deals the keys round-robin over min(keys, cores)
        # tasks: every task gets keys, and a bucket's fpb keys land in at
        # most fpb tasks, so at most fpb files per bucket directory.  A
        # hash repartition into one task per key ran 16 write tasks on 4
        # cores, about 7 of them empty, each still paying its fixed
        # start-up cost (~40 ms of write-description deserialization).
        slot = F.array_position(
            F.array(*[F.lit(b) for b in wave_buckets]), F.col("part_id")
        ) - 1
        key = slot * fpb + F.pmod(F.xxhash64(F.col("url"), F.lit(7)), F.lit(fpb))
        extracted = extracted.repartitionById(
            min(len(wave_buckets) * fpb, cores), key.cast("int")
        )
        extracted.write.mode("append").partitionBy("part_id").parquet(output_path)
        waves_run += 1
        buckets_done += len(wave_buckets)

        # per-bucket lineage/metrics → manifest rows, from the committed
        # files of this wave's buckets (rows of earlier runs included):
        # column- and partition-pruned, read with the known schema.
        committed_out = _try_read_parquet(spark, output_path, OUTPUT_SCHEMA)
        dedupe_metrics = False
        if staged is not None:
            # same union as the resume path: a resumed bucket whose live
            # rows sit only under _compacted must still count in metrics.
            # BEFORE vacuum deletes the originals, the raw directory read
            # still sees the rows a compaction rewrote into _compacted —
            # the union would count those urls twice, so the metrics agg
            # dedupes by (part_id, url).  Compaction rewrites rows
            # verbatim, so one-row-per-url IS the live view either side
            # of the vacuum.
            dedupe_metrics = committed_out is not None
            committed_out = (
                staged
                if committed_out is None
                else committed_out.unionByName(staged, allowMissingColumns=True)
            )
        manifest_rows = _wave_manifest_rows(
            committed_out, wave_buckets, dedupe=dedupe_metrics,
            num_buckets=num_buckets, salt_seed=salt_seed,
        )
        # snapshot BEFORE the manifest append: the manifest is what resume
        # trusts, so it must be the LAST thing a wave commits.  A crash
        # after the snapshot but before the manifest leaves the bucket
        # un-done — the rerun's committed-rows anti-join produces no new
        # rows, commit_snapshot finds no unlogged files (no-op), and the
        # manifest append completes; the reverse order would leave files
        # that are manifest-done but invisible to every future snapshot.
        if snapshots:
            last_snapshot_id = snaplog.commit_snapshot(
                spark, output_path, wave_buckets, cache=snap_cache
            )
        # one small parquet file, appended from the driver (no Spark job)
        snaplog.append_parquet_rows(
            spark, manifest_path, "manifest", manifest_rows,
            _manifest_arrow_schema(),
        )

    if snapshots and not last_snapshot_id:
        # normalize the no-commit cases so callers can rely on "non-None
        # ⇒ read_snapshot accepts it": an all-skipped resume (no wave ran)
        # reports the pre-existing log's max id; a run whose waves all
        # committed nothing (fully filtered) reports None, same as
        # snapshotting disabled — commit_snapshot's raw return there is 0,
        # an id read_snapshot rejects
        sid = snaplog._last_sid(snaplog._read_log_rows(spark, output_path))
        last_snapshot_id = sid if sid > 0 else None

    return ExtractJobResult(
        output_path=output_path,
        manifest_path=manifest_path,
        buckets_done=buckets_done,
        buckets_skipped=skipped,
        waves_run=waves_run,
        last_snapshot_id=last_snapshot_id,
    )
