"""Fold a Spark event log into per-phase engine metrics.

The benchmark tags every job it starts with the local property
`perfbench.phase`; jobs carry it in SparkListenerJobStart's Properties,
stages map to the job that submitted them, tasks to their stage. Only
uncompressed logs are read (spark.eventLog.compress=false); a v2 log is
a directory of events_<n>_<app> files, read in index order.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

PHASE = "perfbench.phase"

# SQL metrics the Python runners register on their operators (times in ms)
_PY = {
    "time to initialize Python workers": "python_worker_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def log_files(path: str) -> list[str]:
    """The events_<n>_<app> files of every v2 log under `path`."""
    out = []
    for dirpath, _dirs, files in sorted(os.walk(path)):
        ev = sorted((f for f in files if f.startswith("events_")), key=lambda f: int(f.split("_")[1]))
        out += [os.path.join(dirpath, f) for f in ev]
    return out


def read_events(path: str):
    for p in log_files(path):
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold(events) -> dict[str, dict[str, float]]:
    """{phase: metrics} with jobs, stages, tasks, task/CPU/GC time,
    shuffle, spill, Python-worker time and bytes, and the stage-level
    run-time totals used to reconcile the task sums."""
    stage_phase: dict[int, str] = {}
    per = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            phase = (e.get("Properties") or {}).get(PHASE)
            if phase is None:
                continue
            per[phase]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_phase[sid] = phase
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            phase = stage_phase.get(info["Stage ID"])
            if phase is None:
                continue
            per[phase]["stages"] += 1
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == "internal.metrics.executorRunTime":
                    per[phase]["stage_run_ms"] += float(acc.get("Value", 0))
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if phase is None or tm is None:
                continue
            m = per[phase]
            m["tasks"] += 1
            m["task_run_ms"] += tm["Executor Run Time"]
            m["task_cpu_ns"] += tm["Executor CPU Time"]
            m["gc_ms"] += tm["JVM GC Time"]
            m["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            python = False
            for acc in e["Task Info"].get("Accumulables", []):
                key = _PY.get(acc.get("Name"))
                if key is not None:
                    m[key] += float(acc.get("Update", 0))
                    python = True
            if python:
                m["python_task_run_ms"] += tm["Executor Run Time"]
    return {p: dict(m) for p, m in per.items()}


def spark_metrics(m: dict[str, float], per: int = 1) -> dict[str, float]:
    """Engine-boundary metrics for one phase, averaged over `per` iterations."""
    g = m.get
    run_ms = g("task_run_ms", 0.0)
    return {
        "spark.jobs": g("jobs", 0.0) / per,
        "spark.stages": g("stages", 0.0) / per,
        "spark.tasks": g("tasks", 0.0) / per,
        "spark.task_run_s": run_ms / 1e3 / per,
        "spark.task_cpu_s": g("task_cpu_ns", 0.0) / 1e9 / per,
        "spark.gc_s": g("gc_ms", 0.0) / 1e3 / per,
        "spark.shuffle_write_bytes": g("shuffle_write_bytes", 0.0) / per,
        "spark.shuffle_read_bytes": g("shuffle_read_bytes", 0.0) / per,
        "spark.spill_bytes": g("spill_bytes", 0.0) / per,
        "spark.python_worker_init_s": g("python_worker_init_ms", 0.0) / 1e3 / per,
        "spark.python_run_s": g("python_run_ms", 0.0) / 1e3 / per,
        "spark.python_bytes_sent": g("python_bytes_sent", 0.0) / per,
        "spark.python_bytes_returned": g("python_bytes_returned", 0.0) / per,
        "spark.python_task_share": g("python_task_run_ms", 0.0) / run_ms if run_ms else 0.0,
        "spark.task_stage_reconcile": run_ms / g("stage_run_ms") if g("stage_run_ms") else 0.0,
    }
