"""Per-operation totals from an uncompressed Spark event log.

A traced run turns the event log on from outside the program and tags
each timed operation with a Spark job group; micro-batch jobs carry their
batch id. ``summarize`` folds jobs, stages and task metrics into one record
per group (or per batch id).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

BATCH_KEY = "streaming.sql.batchId"
GROUP_KEY = "spark.jobGroup.id"


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "csv_scans": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "task_skew": 1.0,
    }


def read_events(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def summarize(events: list[dict], key: str) -> dict[str, dict]:
    """Totals per value of the job property ``key`` (jobs without it are
    left out)."""
    stage_owner: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_empty)
    task_times: dict[int, list[int]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            owner = (ev.get("Properties") or {}).get(key)
            if owner is None:
                continue
            out[owner]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, owner)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            owner = stage_owner.get(info["Stage ID"])
            if owner is None:
                continue
            rec = out[owner]
            rec["stages"] += 1
            if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                rec["csv_scans"] += 1
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev["Stage ID"])
            if owner is None:
                continue
            rec = out[owner]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            task_times[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    for sid, times in task_times.items():
        med = statistics.median(times)
        if len(times) > 1 and med > 0:
            rec = out[stage_owner[sid]]
            rec["task_skew"] = max(rec["task_skew"], max(times) / med)
    return dict(out)
