"""Reader for an uncompressed, single-file Spark event log.

Sums, per job group: shuffle bytes written, bytes spilled (memory and
disk), JVM GC time, input records read, and the task skew of the
group's longest stage (slowest task over the median task). Write the
log with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``; PySpark 4.1 otherwise writes
zstd-compressed rolling directories.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict


def _empty() -> dict:
    return {
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "gc_ms": 0,
        "input_rows": 0,
        "task_skew": 1.0,
        "longest_stage_ms": 0,
        "tasks": 0,
    }


def read_groups(path: str) -> dict[str, dict]:
    """Per-job-group totals from the event log file at ``path``."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    out: dict[str, dict] = defaultdict(_empty)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                g = out[group]
                g["tasks"] += 1
                g["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
                stage_tasks[ev["Stage ID"]].append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
    longest: dict[str, tuple[float, float]] = {}
    for sid, durs in stage_tasks.items():
        group = stage_group[sid]
        total = sum(durs)
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
        if group not in longest or total > longest[group][0]:
            longest[group] = (total, skew)
    for group, (total, skew) in longest.items():
        out[group]["task_skew"] = skew
        out[group]["longest_stage_ms"] = total
    return dict(out)


def find_log(log_dir: str) -> str:
    """The single application log the run wrote into ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])
