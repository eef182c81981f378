"""Spark engine counters from the JSON event log.

The traced run starts the session with `spark.eventLog.enabled`; after
`spark.stop()` the log is complete. Spark 4 writes a rolling log by
default (a directory of `events_<n>_<app>` files); a single-file log is
read the same way.
"""

from __future__ import annotations

import json
import os
import re

from stats import median


def log_files(log_dir: str) -> list[str]:
    """Event files under `log_dir`, in write order."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith(".") or name.startswith("appstatus") or name.endswith(".crc"):
                continue
            m = re.match(r"events_(\d+)_", name)
            out.append(((root, int(m.group(1)) if m else 0, name), os.path.join(root, name)))
    return [path for _key, path in sorted(out)]


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def task_records(events) -> list[dict]:
    """One flat record per finished task."""
    out = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
        getting = info.get("Getting Result Time", 0)
        getting_s = (finish - getting) / 1000.0 if getting else 0.0
        duration = (finish - launch) / 1000.0
        run = m.get("Executor Run Time", 0) / 1000.0
        deser = m.get("Executor Deserialize Time", 0) / 1000.0
        ser = m.get("Result Serialization Time", 0) / 1000.0
        out.append(
            {
                "stage": e.get("Stage ID"),
                "launch_ms": launch,
                "finish_ms": finish,
                "run_s": run,
                # the Spark UI's definition of scheduler delay
                "scheduler_delay_s": max(0.0, duration - run - deser - ser - getting_s),
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            }
        )
    return out


def job_submissions(events) -> list[int]:
    return [e["Submission Time"] for e in events if e.get("Event") == "SparkListenerJobStart"]


def engine_counters(events, window_ms: tuple[float, float], cores: int, requests: int) -> dict:
    """spark.* counters for tasks launched and jobs submitted inside
    `window_ms` (epoch milliseconds, the clock the event log uses)."""
    lo, hi = window_ms
    tasks = [t for t in task_records(events) if lo <= t["launch_ms"] <= hi]
    jobs = [j for j in job_submissions(events) if lo <= j <= hi]
    wall_s = max(1e-9, (hi - lo) / 1000.0)
    busy = sum(t["run_s"] for t in tasks)
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 1.0
    for runs in by_stage.values():
        if len(runs) >= 2:
            mid = median(runs)
            if mid > 0:
                skew = max(skew, max(runs) / mid)
    n = len(tasks)
    return {
        "spark.jobs": len(jobs),
        "spark.jobs_per_request": len(jobs) / requests if requests else 0.0,
        "spark.tasks": n,
        "spark.task_busy_s": busy,
        "spark.core_utilization": busy / (wall_s * cores),
        "spark.scheduler_delay_s": sum(t["scheduler_delay_s"] for t in tasks) / n if n else 0.0,
        "spark.input_bytes": sum(t["input_bytes"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.stage_skew": skew,
        "spark.scan_tasks": sum(1 for t in tasks if t["input_bytes"] > 0),
    }
