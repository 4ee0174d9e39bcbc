"""Spark job, stage and task totals from an uncompressed event log.

Only jobs submitted inside the measured window count, so set-up, warm-up
and output checks stay out. Times in the log are epoch milliseconds."""

from __future__ import annotations

import json
import os
import re

from perfbench.trace import union_length


def _lines(log_dir: str, app_id: str):
    """Event-log lines of one application, rolled over or not."""
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        files += [os.path.join(dirpath, n) for n in names if n == app_id or n.startswith("events_") and n.endswith(app_id)]
    for path in sorted(files, key=lambda p: [int(x) if x.isdigit() else x for x in re.split(r"(\d+)", p)]):
        with open(path, encoding="utf-8") as f:
            yield from f


def window_totals(log_dir: str, app_id: str, start_ms: float, end_ms: float, nproc: int) -> dict:
    stage_job: dict[int, int] = {}
    jobs: set[int] = set()
    stage_spans: dict[int, tuple[float, float]] = {}
    t = dict.fromkeys(("run_ms", "cpu_ns", "gc_ms", "deser_ms", "shw", "shr", "spill"), 0)
    tasks = 0
    task_events = []
    for line in _lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if start_ms <= ev["Submission Time"] <= end_ms:
                jobs.add(ev["Job ID"])
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_job and "Submission Time" in info:
                stage_spans[info["Stage ID"]] = (info["Submission Time"], info.get("Completion Time", end_ms))
        elif kind == "SparkListenerTaskEnd":
            task_events.append(ev)
    for ev in task_events:
        if ev["Stage ID"] not in stage_job or "Task Metrics" not in ev:
            continue
        m = ev["Task Metrics"]
        tasks += 1
        t["run_ms"] += m["Executor Run Time"]
        t["cpu_ns"] += m["Executor CPU Time"]
        t["gc_ms"] += m["JVM GC Time"]
        t["deser_ms"] += m["Executor Deserialize Time"]
        t["shw"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        r = m["Shuffle Read Metrics"]
        t["shr"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
        t["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    wall_s = (end_ms - start_ms) / 1000
    in_stages = union_length(list(stage_spans.values()), start_ms, end_ms) / 1000
    return {
        "jobs": len(jobs),
        "stages": len(stage_spans),
        "tasks": tasks,
        "executor_run_s": t["run_ms"] / 1000,
        "executor_cpu_s": t["cpu_ns"] / 1e9,
        "jvm_gc_s": t["gc_ms"] / 1000,
        "deserialize_s": t["deser_ms"] / 1000,
        "shuffle_write_bytes": t["shw"],
        "shuffle_read_bytes": t["shr"],
        "spill_bytes": t["spill"],
        "driver_outside_stages_s": wall_s - in_stages,
        "core_busy_ratio": t["run_ms"] / 1000 / (wall_s * nproc) if wall_s > 0 else 0.0,
    }
