"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same parquet tables;
compare row count, column names, and order-insensitive value hash.

Each gate runs under its own Spark job group; its line ends with the
gate's Spark seconds and the jobs, stages and tasks it ran, read from
the status tracker.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(pdf) -> str:
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            # normalize array cells ELEMENT-WISE too: numpy scalars repr
            # differently across numpy versions/engines ('np.float64(1.0)'
            # vs '1.0'), which would hash-mismatch identical data
            def norm(v):
                if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                    return tuple(
                        x.item() if hasattr(x, "item") else x for x in v
                    )
                return v

            pdf[c] = col.apply(norm)
    rows = sorted(
        tuple(str(x) for x in row) for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def job_profile(sc, group: str) -> str:
    """Jobs, stages and tasks of the job group ``group``.  A stage whose
    shuffle output an earlier job already wrote is skipped: it counts as
    a stage but runs no task."""
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    stage_ids = {s for j in jobs if j is not None for s in j.stageIds}
    done = [
        info.numCompletedTasks
        for info in map(tracker.getStageInfo, stage_ids)
        if info is not None
    ]
    skipped = len(stage_ids) - sum(1 for n in done if n)
    return (
        f"{len(jobs)} jobs, {len(stage_ids)} stages ({skipped} skipped), "
        f"{sum(done)} tasks"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.log.level", "ERROR")
        # timestamp gates compare Spark's session-tz rendering against the
        # oracles' naive-UTC wall clocks — pin UTC so a host TZ can't
        # shift every instant by the zone offset (the gate queries also
        # pin it via load_table; this covers the session from creation)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    try:
        return _run(spark, con, entrymod, sf_dir, only)
    finally:
        # a KeyboardInterrupt or exotic dtype error must not orphan the
        # 8g local JVM
        spark.stop()
        con.close()


def _run(spark, con, entrymod, sf_dir, only) -> int:
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd filter must fail loudly, not run zero checks and exit 0
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        return 1
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        spark_t = time.time() - t0
        cost = f"{spark_t:.1f}s, {job_profile(spark.sparkContext, name)}"
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{cost}]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            failures += 1
            continue
        cols_s, cols_o = sorted(sdf.columns), sorted(odf.columns)
        if cols_s != cols_o:
            print(f"FAIL  {name}: columns {cols_s} vs {cols_o}")
            failures += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: rows {len(sdf)} vs {len(odf)}")
            failures += 1
            continue
        hs, ho = value_hash(sdf), value_hash(odf)
        if hs != ho:
            print(f"FAIL  {name}: value hash {hs} vs {ho}  ({len(sdf)} rows)")
            # show first differing rows for debugging
            import pandas as pd

            a = sdf[sorted(sdf.columns)].astype(str).sort_values(sorted(sdf.columns)).reset_index(drop=True)
            b = odf[sorted(odf.columns)].astype(str).sort_values(sorted(odf.columns)).reset_index(drop=True)
            neq = (a != b).any(axis=1)
            if neq.any():
                i = neq.idxmax()
                print("   spark :", a.iloc[i].to_dict())
                print("   oracle:", b.iloc[i].to_dict())
            failures += 1
            continue
        print(f"OK    {name}: {len(sdf)} rows, hash {hs} [{cost}]")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
