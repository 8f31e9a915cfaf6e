"""Reduce a Spark event log to per-pass ``spark.*`` layer metrics.

The runner tags every job of a measured pass with the job group
``bench-pass-<k>`` and keeps the pass's wall time; this module groups the
log's job, stage and task events by that tag.  Only stages that were
actually submitted count (a job's skipped stages never emit task events).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PASS_GROUP_PREFIX = "bench-pass-"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class _Stage:
    submitted_ms: int = 0
    completed_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0
    output_bytes: int = 0
    py_sent: int = 0
    py_received: int = 0
    task_s: list = field(default_factory=list)


def _events(path: str):
    """Events of every log file under ``path`` (a file, a directory of
    logs, or a rolling-log directory of ``events_*`` files)."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _dirs, fs in os.walk(path) for f in fs
        if not f.startswith(("appstatus_", "."))
    )
    for fn in files:
        with open(fn, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


@dataclass
class PassEvents:
    jobs: int = 0
    stages: list = field(default_factory=list)


def read_passes(path: str) -> dict[str, PassEvents]:
    """job group → its job count and the submitted stages of its jobs."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[tuple, _Stage] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                jobs[group] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), _Stage())
            st.submitted_ms = info.get("Submission Time") or 0
            st.completed_ms = info.get("Completion Time") or 0
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), _Stage())
            tinfo = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_s.append(
                ((tinfo.get("Finish Time") or 0) - (tinfo.get("Launch Time") or 0)) / 1000.0
            )
            st.run_ms += tm.get("Executor Run Time", 0)
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in tinfo.get("Accumulables", ()):
                if acc.get("Name") == PY_SENT:
                    st.py_sent += int(acc.get("Update") or 0)
                elif acc.get("Name") == PY_RECEIVED:
                    st.py_received += int(acc.get("Update") or 0)
    out = {g: PassEvents(jobs=n) for g, n in jobs.items()}
    for (sid, _attempt), st in sorted(stages.items()):
        if sid in stage_group and st.submitted_ms:
            out[stage_group[sid]].stages.append(st)
    return out


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


def reduce_pass(ev: PassEvents, job_s: float) -> dict[str, float]:
    """The ``spark.*`` metrics of one pass of ``job_s`` wall seconds.
    ``extract_stage`` sums the stages that sent rows to Python workers (one
    per wave); write stages are those whose tasks wrote output bytes."""
    stages = ev.stages
    py = [s for s in stages if s.py_sent]
    task_s = [t for s in py for t in s.task_s] or [0.0]
    return {
        "spark.jobs": float(ev.jobs),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s.tasks for s in stages)),
        "spark.python_bytes_sent": float(sum(s.py_sent for s in stages)),
        "spark.python_bytes_received": float(sum(s.py_received for s in stages)),
        "spark.extract_stage.run_s": sum(s.run_ms for s in py) / 1000.0,
        "spark.extract_stage.cpu_s": sum(s.cpu_ns for s in py) / 1e9,
        "spark.extract_stage.task_s_p50": statistics.median(task_s),
        "spark.extract_stage.task_s_max": max(task_s),
        "spark.shuffle_write_bytes": float(sum(s.shuffle_write for s in stages)),
        "spark.spill_bytes": float(sum(s.spill for s in stages)),
        "spark.write_stage_s": sum(
            (s.completed_ms - s.submitted_ms) / 1000.0 for s in stages if s.output_bytes
        ),
        "spark.driver_gap_s": job_s - _union_s(
            [(s.submitted_ms, s.completed_ms) for s in stages]
        ),
    }
