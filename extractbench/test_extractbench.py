"""Tests of the benchmark's own parts: corpus generator, ground-truth
check, span arithmetic and the event-log reducer.

    python3 -m pytest extractbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import corpus
import eventlog
import layers


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for fn in sorted(os.listdir(path)):
        with open(os.path.join(path, fn), "rb") as f:
            h.update(fn.encode() + b"\0" + f.read())
    return h.hexdigest()


@pytest.mark.parametrize("generator", ["article_mix", "short_retry"])
def test_same_seed_gives_byte_identical_parquet(tmp_path, generator):
    make = getattr(corpus, generator)
    digests = []
    for k in range(2):
        out = str(tmp_path / f"run{k}")
        corpus.write_parquet(make(7, 60), out)
        digests.append(_digest(out))
    assert digests[0] == digests[1]


@pytest.mark.parametrize("generator", ["article_mix", "short_retry"])
def test_seeds_give_different_corpora_of_similar_size(generator):
    make = getattr(corpus, generator)
    corpora = [make(seed, 100) for seed in (1, 2, 3)]
    assert len({tuple(c.htmls) for c in corpora}) == 3
    sizes = [c.n_bytes for c in corpora]
    assert max(sizes) < 1.1 * min(sizes)
    for c in corpora:
        assert len(set(c.urls)) == c.n_docs == len(c.truths)


def test_deal_balances_bytes_and_keeps_every_doc_once():
    c = corpus.article_mix(4, 144)
    sizes = [len(h) for h in c.htmls]
    files = corpus.deal(sizes, corpus.CORPUS_FILES)
    assert sorted(i for f in files for i in f) == list(range(c.n_docs))
    assert all(f == sorted(f) for f in files)
    loads = [sum(sizes[i] for i in f) for f in files]
    assert max(loads) - min(loads) <= max(sizes)


def test_article_mix_covers_its_features():
    c = corpus.article_mix(3, 200)
    kinds = [t.error or t.attempts for t in c.truths.values()]
    assert kinds.count(corpus.EXPECTED_INVALID) == 4
    assert kinds.count(4) == 8
    assert kinds.count(1) == 188
    sizes = sorted(len(h) for h in c.htmls)
    assert sizes[len(sizes) // 2] < 20_000 < sizes[-1]
    assert sum(b'charset="windows-1252"' in h for h in c.htmls) > 0
    assert sum(b"<base href=" in h for h in c.htmls) > 0


def _perfect_rows(c: corpus.Corpus) -> dict[str, list]:
    rows = {"url": [], "title": [], "extracted_text": [], "error": [], "attempts": []}
    for url, t in c.truths.items():
        rows["url"].append(url)
        rows["title"].append(t.title if t.error is None else None)
        rows["extracted_text"].append("\n".join(t.paragraphs) or None)
        rows["error"].append(t.error)
        rows["attempts"].append(t.attempts)
    return rows


def test_check_rows_accepts_the_truth_and_counts_each_fault():
    c = corpus.article_mix(5, 100)
    rows = _perfect_rows(c)
    assert corpus.check_rows(c, rows) == (0, [])

    ok = next(i for i, e in enumerate(rows["error"]) if e is None)
    bad = {k: list(v) for k, v in rows.items()}
    bad["title"][ok] = "Wrong"
    bad["extracted_text"][ok + 1] = "nothing"
    for k in bad:  # one url repeated, one url missing
        bad[k][ok + 2] = bad[k][ok + 3]
    failed, reasons = corpus.check_rows(c, bad)
    assert failed == 4
    assert any("title" in r for r in reasons)
    assert any("article text" in r for r in reasons)
    assert any("missing" in r for r in reasons)
    assert any("repeated" in r for r in reasons)


def test_self_time_subtracts_child_spans():
    spans = layers.Spans()
    with spans.span("outer") as outer:
        with spans.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert spans.self_ms("outer") == pytest.approx(outer.ms - inner.ms)


def _write_events(path: str, events: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_reducer_groups_by_job_group_and_unions_stage_intervals(tmp_path):
    group = f"{eventlog.PASS_GROUP_PREFIX}0"

    def task(stage, launch, finish, **metrics):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": [
                {"Name": eventlog.PY_SENT, "Update": metrics.pop("sent", 0)},
                {"Name": eventlog.PY_RECEIVED, "Update": metrics.pop("received", 0)},
            ]},
            "Task Metrics": metrics,
        }

    def stage_done(stage, submitted, completed):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": stage, "Stage Attempt ID": 0,
            "Submission Time": submitted, "Completion Time": completed}}

    _write_events(str(tmp_path / "app-1"), [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        task(0, 1000, 1500, sent=100, received=10, **{"Executor Run Time": 400,
             "Executor CPU Time": 2_000_000}),
        task(0, 1000, 2000, sent=50, received=5, **{"Executor Run Time": 900}),
        stage_done(0, 1000, 2000),
        task(1, 1800, 2500, **{"Output Metrics": {"Bytes Written": 7},
             "Shuffle Write Metrics": {"Shuffle Bytes Written": 3}}),
        stage_done(1, 1800, 2600),
        task(2, 9000, 9100, sent=999),
        stage_done(2, 9000, 9100),
    ])
    groups = eventlog.read_passes(str(tmp_path))
    m = eventlog.reduce_pass(groups[group], job_s=2.0)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2 and m["spark.tasks"] == 3
    assert m["spark.python_bytes_sent"] == 150 and m["spark.python_bytes_received"] == 15
    assert m["spark.extract_stage.run_s"] == pytest.approx(1.3)
    assert m["spark.extract_stage.cpu_s"] == pytest.approx(0.002)
    assert m["spark.extract_stage.task_s_p50"] == pytest.approx(0.75)
    assert m["spark.extract_stage.task_s_max"] == pytest.approx(1.0)
    assert m["spark.shuffle_write_bytes"] == 3
    assert m["spark.write_stage_s"] == pytest.approx(0.8)
    # stages cover 1.0 s .. 2.6 s: 1.6 s of the 2.0 s call
    assert m["spark.driver_gap_s"] == pytest.approx(0.4)


def test_reducer_on_a_tiny_spark_run(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    event_dir = tmp_path / "events"
    event_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("extractbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(event_dir))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    try:
        group = f"{eventlog.PASS_GROUP_PREFIX}0"
        spark.sparkContext.setJobGroup(group, group)
        df = spark.range(0, 1000, numPartitions=2).selectExpr("id", "id % 7 AS k")

        def double(batches):
            for pdf in batches:
                pdf["id"] = pdf["id"] * 2
                yield pdf

        (df.mapInPandas(double, df.schema).repartition(2, "k")
         .write.parquet(str(tmp_path / "out")))
        spark.sparkContext.setJobGroup("untracked", "untracked")
        spark.range(10).count()
    finally:
        spark.stop()
    groups = eventlog.read_passes(str(event_dir))
    m = eventlog.reduce_pass(groups[group], job_s=60.0)
    assert m["spark.jobs"] >= 1
    assert m["spark.stages"] >= 2
    assert m["spark.tasks"] >= 4
    assert m["spark.python_bytes_sent"] > 0
    assert m["spark.python_bytes_received"] > 0
    assert m["spark.shuffle_write_bytes"] > 0
    assert m["spark.write_stage_s"] > 0
    assert 0 < m["spark.driver_gap_s"] < 60.0
