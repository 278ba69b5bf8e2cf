"""Reader for Spark's JSON event log: task metrics summed per job group.

A job group is the `spark.jobGroup.id` local property the traced run sets
around each layer call. Stages inherit it from the job that submitted them,
and tasks from their stage, so every job, stage and task is charged to the
span that was open when its action started. Work outside any group is
charged to the group `None`.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "task_max_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "task_failures",
)


def read_events(path: str):
    """The events of one application's uncompressed, single-file event log."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def empty() -> dict:
    return dict.fromkeys(FIELDS, 0)


def summarize(events) -> dict:
    """Per job group: job, stage and task counts, and summed task metrics
    (times in seconds, sizes in bytes). `task_max_s` is the slowest task."""
    out: dict = defaultdict(empty)
    stage_group: dict[int, str | None] = {}
    stages_seen: set[int] = set()
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(GROUP_KEY)
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            group = (e.get("Properties") or {}).get(GROUP_KEY)
            stage_group[sid] = group
            if sid not in stages_seen:
                stages_seen.add(sid)
                out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(e["Stage ID"])]
            g["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                g["task_failures"] += 1
            m = e.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            g["task_s"] += run_s
            g["task_max_s"] = max(g["task_max_s"], run_s)
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            w = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    return dict(out)


def merge(groups: list[dict]) -> dict:
    """Sum several groups' summaries; `task_max_s` takes the maximum."""
    total = empty()
    for g in groups:
        for k in FIELDS:
            total[k] = max(total[k], g[k]) if k == "task_max_s" else total[k] + g[k]
    return total
