"""Spark engine metrics (tasks, shuffle, GC) read back from Spark's event
log, which traced runs enable through configuration only."""

from __future__ import annotations

import json
import os

FIELDS = (
    "spark.jobs",
    "spark.tasks",
    "spark.scheduler_delay_s",
    "spark.executor_run_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
)


def find_log(log_dir: str, app_id: str) -> list[str]:
    """The event log files of one application, in order: a single file,
    or the ``events_<i>_*`` files of a rolling log directory."""
    for name in os.listdir(log_dir):
        if name == app_id or name == f"eventlog_v2_{app_id}":
            path = os.path.join(log_dir, name)
            if not os.path.isdir(path):
                return [path]
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            return [os.path.join(path, p) for p in parts]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def in_windows(t_ms: float, windows) -> bool:
    t = t_ms / 1000.0
    return any(a <= t <= b for a, b in windows)


def engine_metrics(paths: list[str], windows) -> dict[str, float]:
    """Totals over the jobs submitted and the tasks launched inside the
    given ``(start, end)`` wall-clock windows (seconds since the epoch).
    Scheduler delay is a task's wall time minus its executor run time."""
    out = dict.fromkeys(FIELDS, 0.0)
    for path in paths:
        with open(path) as f:
            for line in f:
                _add_event(out, json.loads(line), windows)
    return out


def _add_event(out: dict, e: dict, windows) -> None:
    kind = e.get("Event")
    if kind == "SparkListenerJobStart":
        if in_windows(e["Submission Time"], windows):
            out["spark.jobs"] += 1
        return
    if kind != "SparkListenerTaskEnd":
        return
    info = e["Task Info"]
    if not in_windows(info["Launch Time"], windows):
        return
    m = e.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    wall_ms = info["Finish Time"] - info["Launch Time"]
    shuffle_read = m.get("Shuffle Read Metrics", {})
    out["spark.tasks"] += 1
    out["spark.scheduler_delay_s"] += max(0, wall_ms - run_ms) / 1000.0
    out["spark.executor_run_s"] += run_ms / 1000.0
    out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    out["spark.shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    out["spark.shuffle_read_bytes"] += shuffle_read.get(
        "Remote Bytes Read", 0
    ) + shuffle_read.get("Local Bytes Read", 0)
    out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
