"""spark-submit entry point for the corpus extraction job.

Cluster deployment (the north-rule shape):

    spark-submit \
      --py-files $(python -c 'from readability_php_spark.deploy import package_zip_path as p; print(p())') \
      jobs/extract_job.py \
      --input  s3://bucket/pages/          (or an Iceberg table path) \
      --output s3://bucket/extracted/ \
      --num-buckets 4096 --waves 64 --lang en

Resume: re-running with the same output/manifest skips completed buckets
and recovers the crash window exactly-once (see plans/pipeline.py).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="readability extraction job")
    ap.add_argument("--input", required=True, help="pages parquet path/table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", default=None)
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=1)
    ap.add_argument("--lang", default=None)
    ap.add_argument("--max-html-bytes", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-snapshots", action="store_true",
                    help="skip the per-wave file-manifest snapshot commit")
    ap.add_argument("--char-threshold", type=int, default=500)
    ap.add_argument("--master", default=None, help="local testing only; omit under spark-submit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from readability_php_spark.config import Configuration
    from readability_php_spark.plans.pipeline import run_extract_job

    builder = SparkSession.builder.appName("readability-extract")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()

    pages = spark.read.parquet(args.input)
    result = run_extract_job(
        spark,
        pages,
        args.output,
        config=Configuration(
            fix_relative_urls=True,
            article_byline=True,
            substitute_entities=True,
            char_threshold=args.char_threshold,
        ),
        num_buckets=args.num_buckets,
        waves=args.waves,
        manifest_path=args.manifest,
        resume=not args.no_resume,
        lang_filter=args.lang,
        max_html_bytes=args.max_html_bytes,
        snapshots=not args.no_snapshots,
    )
    print(
        f"done: buckets={result.buckets_done} skipped={result.buckets_skipped} "
        f"waves={result.waves_run} output={result.output_path} "
        f"manifest={result.manifest_path} snapshot={result.last_snapshot_id}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
