#!/usr/bin/env python3
"""Extraction benchmark: seeded corpora driven through the public pipeline.

    python3 extractbench/run.py --workload article_mix --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  One process, one Spark session at
``local[<cores>]``, one job at a time (closed loop: the next pass starts when
the previous one has finished and been checked).  Set-up generates the
corpus from ``--seed``, starts the session, ships the package, proves the
Python workers import this checkout's package, and runs the warm-up passes.
Then passes of ``run_extract_job`` are timed for ``--seconds``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (event-log reduction, in-process layer replay, driver-side
pipeline spans) and the tracing overhead.  The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "readability_php_spark"


@dataclass(frozen=True)
class Workload:
    corpus: str  # generator function in corpus.py
    docs: int  # docs per corpus; each measured pass takes a few seconds at local[4]
    waves: int = 1  # ``run_extract_job(waves=...)``
    #: set-up commits the first half of the waves and keeps a pristine copy;
    #: each pass restores that copy (untimed) and times the resume
    resume: bool = False


WORKLOADS = {
    "article_mix": Workload("article_mix", 112),
    "short_retry": Workload("short_retry", 280),
    "resume_waves": Workload("article_mix", 112, waves=8, resume=True),
}
#: warm-up passes inside set-up: the first pass of a session runs about 3x
#: slow (worker start, imports, JVM code generation, the workers' memo
#: caches); a fixed count keeps set-up comparable.  Later passes still speed
#: up by about a tenth over the next few passes, but the host's speed drifts
#: by more than that between runs, so the time goes to measured passes
WARMUP_PASSES = 1
#: measured passes: as many as fit in ``--seconds``, at least this many
MIN_PASSES = 3
#: docs replayed in-process by the traced run
REPLAY_DOCS = 96


def _fail(msg: str, code: int = 2) -> None:
    print(f"extractbench: {msg}", file=sys.stderr)
    sys.exit(code)


def package_digest(sources: dict[str, str]) -> str:
    """Digest of a package given as {module name: source text}."""
    h = hashlib.sha256()
    for name in sorted(sources):
        h.update(f"{name}\0{sources[name]}\0".encode())
    return h.hexdigest()[:16]


def checkout_digest() -> str:
    """Digest of the package source in this checkout, read from disk."""
    from importlib.util import decode_source

    pkg_dir = os.path.join(ROOT, PACKAGE)
    sources = {}
    for dirpath, dirnames, files in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), ROOT)[:-3].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            with open(os.path.join(dirpath, fn), "rb") as f:
                sources[".".join(rel)] = decode_source(f.read())
    return package_digest(sources)


def worker_digest(_partition):
    """Runs inside a Python worker: digest of the package as the worker
    imports it, and where it was imported from."""
    import importlib.util
    import pkgutil

    import readability_php_spark as pkg

    names = [pkg.__name__] + [
        m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
    ]
    sources = {n: importlib.util.find_spec(n).loader.get_source(n) for n in names}
    yield (package_digest(sources), pkg.__file__)


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants, from /proc."""

    def __init__(self, root_pid: int, period_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_bytes = 0
        self.active = False
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            if self.active:
                self.peak_bytes = max(self.peak_bytes, self.sample())

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, work: str) -> None:
        self.workload = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        # what ``nproc`` prints: the CPUs this process may run on
        self.cores = len(os.sched_getaffinity(0))
        self.buckets = 4 * self.cores
        self.spark = None
        self.sampler = None
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    # --- set-up -------------------------------------------------------------
    def make_corpus(self) -> None:
        import corpus

        self.corpus = getattr(corpus, self.wl.corpus)(self.seed, self.wl.docs)
        self.docs_per_pass = self.corpus.n_docs
        self.corpus_path = os.path.join(self.work, "corpus")
        corpus.write_parquet(self.corpus, self.corpus_path)

    def start_session(self, event_dir: str | None = None) -> None:
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName(f"extractbench-{self.workload}")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.sql.files.maxPartitionBytes", "1m")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.log.level", "ERROR")
            .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Duser.timezone=UTC")
        )
        if event_dir is not None:
            os.makedirs(event_dir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + event_dir)
                 .config("spark.eventLog.compress", "false"))
        self.spark = b.getOrCreate()
        self.sampler = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        self.sampler.start()

    def check_workers(self) -> None:
        """Ship the package and prove every worker imports this checkout."""
        from readability_php_spark.deploy import ship_package

        ship_package(self.spark)
        want = checkout_digest()
        sc = self.spark.sparkContext
        got = sc.parallelize(range(self.cores), self.cores).mapPartitions(worker_digest).collect()
        bad = [(d, f) for d, f in got if d != want]
        if bad:
            raise RuntimeError(
                f"workers import a different {PACKAGE} than this checkout "
                f"(checkout {want}; worker {bad[0][0]} from {bad[0][1]})"
            )
        self.worker_origin = got[0][1]

    def commit_half(self) -> None:
        """Resume workloads: run the job but stop it as it starts wave
        ``waves/2 + 1``, so the first half of the waves is committed (data,
        snapshot, manifest) and the rest is not; keep a copy of that as the
        pristine state every pass restores to the same path (the snapshot
        log records absolute file paths)."""
        import pyarrow.parquet as pq

        from readability_php_spark.plans import pipeline

        out = os.path.join(self.work, "out")
        os.makedirs(out)
        real, calls = pipeline.extract_operator, []

        def stop_after_half(*args, **kwargs):
            calls.append(1)
            if len(calls) > self.wl.waves // 2:
                raise _Interrupted
            return real(*args, **kwargs)

        pipeline.extract_operator = stop_after_half
        try:
            self.extract(self.spark.read.parquet(self.corpus_path), os.path.join(out, "table"))
        except _Interrupted:
            pass
        finally:
            pipeline.extract_operator = real
        self.pristine = os.path.join(self.work, "pristine")
        shutil.copytree(out, self.pristine)
        committed = sum(pq.read_table(os.path.join(out, "table_manifest"),
                                      columns=["docs"]).column("docs").to_pylist())
        if not 0 < committed < self.corpus.n_docs:
            raise RuntimeError(f"set-up committed {committed} of {self.corpus.n_docs} docs")
        self.docs_per_pass = self.corpus.n_docs - committed

    # --- one pass -----------------------------------------------------------
    def extract(self, pages, table: str) -> None:
        from readability_php_spark.plans.pipeline import run_extract_job

        run_extract_job(self.spark, pages, table, num_buckets=self.buckets,
                        waves=self.wl.waves)

    def one_pass(self, group: str) -> float:
        """Reset the output (untimed), time one ``run_extract_job`` call,
        then check its output (untimed).  Returns the call's seconds."""
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        if self.wl.resume:
            shutil.copytree(self.pristine, out)
        else:
            os.makedirs(out)
        table = os.path.join(out, "table")
        self.spark.sparkContext.setJobGroup(group, group)
        pages = self.spark.read.parquet(self.corpus_path)
        t0 = time.perf_counter()
        self.extract(pages, table)
        job_s = time.perf_counter() - t0
        self.check(table)
        return job_s

    def check(self, table: str) -> None:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        import corpus

        out = ds.dataset(table, format="parquet", partitioning="hive").to_table(
            columns=["url", "title", "extracted_text", "error", "attempts"]
        ).to_pydict()
        failed, reasons = corpus.check_rows(self.corpus, out)
        manifest_docs = sum(pq.read_table(table + "_manifest", columns=["docs"])
                            .column("docs").to_pylist())
        if manifest_docs != self.corpus.n_docs:
            failed = max(failed, 1)
            reasons.append(f"manifest sum(docs) {manifest_docs} != {self.corpus.n_docs}")
        self.attempted += self.corpus.n_docs
        self.failed += failed
        self.reasons.extend(reasons[: max(0, 5 - len(self.reasons))])

    # --- phases -------------------------------------------------------------
    def warm_up(self) -> list[float]:
        return [self.one_pass(f"bench-warm-{k}") for k in range(WARMUP_PASSES)]

    def measure(self, step, rss: bool = False):
        """Call ``step(k)`` for ``k = 0, 1, ...`` while the next call, at
        the median length of the calls so far, ends within ``--seconds``,
        and at least ``MIN_PASSES`` times; with ``rss``, sample the peak RSS
        meanwhile (the sampler costs a few % of a core, so untraced runs
        leave it off).  Returns the results."""
        results, lengths = [], []
        self.sampler.peak_bytes = 0
        self.sampler.active = rss
        t_end = time.perf_counter() + self.seconds
        while (len(results) < MIN_PASSES
               or time.perf_counter() + statistics.median(lengths) <= t_end):
            t = time.perf_counter()
            results.append(step(len(results)))
            lengths.append(time.perf_counter() - t)
        self.sampler.active = False
        self.rss_peak_mb = self.sampler.peak_bytes / 2**20
        return results

    def stop_session(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.sampler.stop()
        pids = self.sampler.tree()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        for pid in pids:
            while _alive(pid):
                if time.time() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


class _Interrupted(Exception):
    pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def set_up(bench: Bench, event_dir: str | None = None) -> float:
    """Everything before the first measured pass; prints its phases and
    returns its seconds."""
    t0 = time.perf_counter()
    phases = []

    def phase(name: str, fn, *args) -> None:
        t = time.perf_counter()
        fn(*args)
        phases.append(f"{name} {time.perf_counter() - t:.2f}")

    phase("corpus", bench.make_corpus)
    phase("session", bench.start_session, event_dir)
    phase("workers", bench.check_workers)
    if bench.wl.resume:
        phase("commit-half", bench.commit_half)
    warm = bench.warm_up()
    setup_s = time.perf_counter() - t0
    print(f"# {bench.workload} seed={bench.seed} docs={bench.corpus.n_docs} "
          f"extracted per pass={bench.docs_per_pass} bytes={bench.corpus.n_bytes} "
          f"cores={bench.cores} waves={bench.wl.waves} workers import {bench.worker_origin}")
    print("# set-up phases (s): " + ", ".join(phases)
          + "; warm-up passes " + " ".join(f"{x:.3f}" for x in warm))
    return setup_s


def _passes(name: str, passes) -> str:
    return (f"# {name:11s} {statistics.median(passes):10.3f} s       median of "
            f"{len(passes)} passes: " + " ".join(f"{x:.3f}" for x in passes))


def run_untraced(bench: Bench) -> dict:
    setup_s = set_up(bench)
    job_s = bench.measure(lambda k: bench.one_pass(f"bench-pass-{k}"))
    dps = [bench.docs_per_pass / s for s in job_s]
    print(f"# setup_s     {setup_s:10.3f} s       (1 set-up)")
    print(_passes("job_s", job_s))
    print(f"# docs_per_s  {statistics.median(dps):10.1f} docs/s  median of {len(dps)} passes")
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (statistics.median(job_s), "s"),
        "docs_per_s": (statistics.median(dps), "docs/s"),
    }


def run_traced(bench: Bench) -> dict:
    """One session with the Spark event log on.  Measured passes come in
    pairs: a plain pass and a pass with the driver-side pipeline helpers
    wrapped, in alternating order, the wrapped one tagged
    ``bench-pass-<k>`` for the event-log reduction; the
    ratio of the two medians is the tracing overhead (the event log itself
    is on for both, so its cost is in neither).  Then Spark is stopped and
    the kernel layers are replayed in-process."""
    import eventlog
    import layers

    event_dir = os.path.join(bench.work, "eventlog")
    set_up(bench, event_dir)
    spans = layers.Spans()

    def traced(k: int) -> float:
        with layers.patched(spans, layers.driver_targets()):
            return bench.one_pass(f"{eventlog.PASS_GROUP_PREFIX}{k}")

    def pair(k: int) -> tuple[float, float]:
        # alternate which pass of the pair runs first: passes still speed
        # up after warm-up, and that must not count as tracing overhead
        if k % 2:
            t = traced(k)
            return bench.one_pass(f"bench-plain-{k}"), t
        return bench.one_pass(f"bench-plain-{k}"), traced(k)

    untraced, passes = zip(*bench.measure(pair, rss=True))
    print(_passes("untraced", untraced))
    print(_passes("traced", passes))
    driver_spans = list(spans.spans)
    bench.stop_session()

    groups = eventlog.read_passes(event_dir)
    per_pass = [
        eventlog.reduce_pass(groups.get(f"{eventlog.PASS_GROUP_PREFIX}{k}", eventlog.PassEvents()), job_s)
        for k, job_s in enumerate(passes)
    ]
    metrics = {name: statistics.median([p[name] for p in per_pass]) for name in per_pass[0]}

    n = len(passes)
    for name in ("plans.pipeline.read_manifest", "plans.snapshots.commit_snapshot"):
        metrics[name + "_ms"] = sum(s.ms for s in driver_spans if s.name == name) / n
    metrics["plans.snapshots.commit_snapshot_calls"] = sum(
        1 for s in driver_spans if s.name == "plans.snapshots.commit_snapshot") / n

    c = bench.corpus
    metrics.update(layers.replay_kernel(c.urls[:REPLAY_DOCS], c.htmls[:REPLAY_DOCS], spans))
    metrics["trace.overhead_ratio"] = statistics.median(passes) / statistics.median(untraced)
    metrics["rss_peak_mb"] = bench.rss_peak_mb
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans.write(os.path.join(out_dir, f"spans-{bench.workload}-seed{bench.seed}.jsonl"))
    for k, v in metrics.items():
        print(f"# {k:44s} {v:14.4f} {PER_LAYER_UNITS[k]}")
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in metrics.items()}


#: unit of every per-layer metric (BENCHMARK.json lists the same)
PER_LAYER_UNITS = {
    "dom.parser.parse_html_ms": "ms/doc",
    "dom.parser.parse_html_calls": "calls/doc",
    "dom.node.deep_clone_ms": "ms/doc",
    "dom.node.deep_clone_calls": "calls/doc",
    "kernel.scan.get_nodes_ms": "ms/doc",
    "kernel.scan.get_nodes_calls": "calls/doc",
    "kernel.scoring.rate_nodes_ms": "ms/doc",
    "kernel.cleanup.post_process_content_ms": "ms/doc",
    "kernel.metadata_ms": "ms/doc",
    "kernel.prep_ms": "ms/doc",
    "dom.serializer.serialize_ms": "ms/doc",
    "sources.charset.sniff_decode_ms": "ms/doc",
    "kernel.readability.extract_ms": "ms/doc",
    "kernel.readability.self_ms": "ms/doc",
    "kernel.readability.attempts_per_doc": "attempts/doc",
    "kernel.readability.first_attempt_ratio": "ratio",
    "dom.parser.tag_cache_entries": "count",
    "kernel.nodeutil.weight_cache_entries": "count",
    "operators.extract.batch_overhead_ms": "ms/doc",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "spark.extract_stage.run_s": "s",
    "spark.extract_stage.cpu_s": "s",
    "spark.extract_stage.task_s_p50": "s",
    "spark.extract_stage.task_s_max": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.write_stage_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "plans.pipeline.read_manifest_ms": "ms",
    "plans.snapshots.commit_snapshot_ms": "ms",
    "plans.snapshots.commit_snapshot_calls": "count",
    "trace.overhead_ratio": "ratio",
    "rss_peak_mb": "MB",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"no {PACKAGE} package next to {os.path.basename(HERE)}/: "
              "run from the root of a full checkout")
    # private work directory inside the checkout: a fresh package zip (deploy.py
    # caches it under the temp dir), Spark's local dirs, UTC everywhere
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                      TZ="UTC", PYSPARK_PYTHON=sys.executable,
                      PYSPARK_DRIVER_PYTHON=sys.executable)
    time.tzset()
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        metrics = run_traced(bench) if args.trace else run_untraced(bench)
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    print(f"# error_rate  {bench.failed / max(bench.attempted, 1):10.4f} ratio   "
          f"{bench.failed} of {bench.attempted} docs checked (warm-up passes included)")
    for r in bench.reasons:
        print(f"# FAILED {r}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
