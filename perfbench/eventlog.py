"""Aggregate an uncompressed Spark event log by job group.

Each ``SparkListenerTaskEnd`` is attributed to the job group of the job
that submitted its stage (``spark.jobGroup.id`` in the job's
properties). Sums per group: executor run and CPU time, GC time,
shuffle read/write bytes, spill bytes, result size, tasks, jobs and
stages.
"""

from __future__ import annotations

import json
import os

FIELDS = (
    "tasks", "jobs", "stages", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes",
)


def _empty() -> dict:
    return dict.fromkeys(FIELDS, 0)


def aggregate(log_dir: str) -> dict[str, dict]:
    """{job group: totals} over every event log file in ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    g = out.setdefault(group, _empty())
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        if sid not in stage_group:
                            stage_group[sid] = group
                            g["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = out.setdefault(stage_group.get(ev["Stage ID"], "none"), _empty())
                    rd = m.get("Shuffle Read Metrics", {})
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["result_bytes"] += m.get("Result Size", 0)
    return out


def by_prefix(groups: dict[str, dict], prefix: str) -> dict:
    """Totals over every group whose name starts with ``prefix``."""
    tot = _empty()
    for name, g in groups.items():
        if name.startswith(prefix):
            for k in FIELDS:
                tot[k] += g[k]
    return tot
