"""Per-layer metrics of a traced run, named after the engine's modules.

Times and counts are means per traced operation, unless the name says
otherwise: `*_share`, `*_util` and `*_per_*` are ratios of sums, and
`exec.task_max_s` is the mean of each operation's slowest task. `engine.*`
come from the untraced run, a `--trace 0` run of its own, and
`trace.overhead_ratio` compares the traced run's walls with the untraced
run's walls of the same operations.
"""

from __future__ import annotations

from eventlog import read_events, summarize
from stats import ratio

UNITS = {
    "sources.load_table_ms": "ms",
    "sources.load_table_jobs": "count",
    "catalog.build_ms": "ms",
    "catalog.build_jobs": "count",
    "catalog.build_share": "ratio",
    "catalog.leaked_persists": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "exec.action_ms": "ms",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_max_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.slot_util": "ratio",
    "exec.task_failures": "count",
    "exec.python_nodes": "count",
    "core.set_batch_ms": "ms",
    "core.get_many_ms": "ms",
    "core.unset_many_ms": "ms",
    "core.checkpoint_ms": "ms",
    "core.epoch_shuffle_bytes": "bytes",
    "core.shuffle_per_batch_byte": "ratio",
    "core.plan_chars": "chars",
    "engine.session_s": "s",
    "engine.warmup_s": "s",
    "engine.rss_peak_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

# span layers whose time is a metric `<layer>_ms`
TIMED_LAYERS = (
    "sources.load_table",
    "catalog.build",
    "core.set_batch",
    "core.get_many",
    "core.unset_many",
    "core.checkpoint",
)
# span layers whose jobs, their descendants' included, are a metric `<layer>_jobs`
JOB_LAYERS = ("sources.load_table", "catalog.build")


def per_layer(tracer, records, plain_records, setup, memory, event_log: str,
              slots: int) -> dict:
    groups = summarize(read_events(event_log))
    incl = tracer.inclusive(groups)
    ops = [r for r in records if "span" in r["extra"]]
    n = max(len(ops), 1)
    v: dict[str, float] = {}

    for layer in TIMED_LAYERS:
        spans = [s for s in tracer.spans if s["layer"] == layer]
        v[f"{layer}_ms"] = 1e3 * sum(s["end"] - s["start"] for s in spans) / n
        if layer in JOB_LAYERS:
            v[f"{layer}_jobs"] = sum(incl[s["id"]]["jobs"] for s in spans) / n
    v["exec.action_ms"] = 1e3 * sum(
        s["end"] - s["start"] for s in tracer.spans if s["action"]
    ) / n

    op_wall = sum(r["wall_s"] for r in ops)
    v["catalog.build_share"] = ratio(v["catalog.build_ms"] * n / 1e3, op_wall)
    v["catalog.leaked_persists"] = sum(r["extra"].get("leaked_persists", 0) for r in ops) / n

    for phase in ("analysis", "optimization", "planning"):
        v[f"catalyst.{phase}_ms"] = sum(a.get(phase, 0) for a in tracer.actions) / n
    v["exec.python_nodes"] = sum(a["python_nodes"] for a in tracer.actions) / n

    totals = [incl[r["extra"]["span"]] for r in ops]
    for name in ("jobs", "stages", "tasks"):
        v[f"scheduler.{name}"] = sum(t[name] for t in totals) / n
    for name in ("task_s", "task_cpu_s", "task_max_s", "gc_s", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "task_failures"):
        v[f"exec.{name}"] = sum(t[name] for t in totals) / n
    v["exec.slot_util"] = ratio(sum(t["task_s"] for t in totals), op_wall * slots)

    batch_bytes = sum(r["extra"].get("batch_bytes", 0) for r in ops)
    shuffled = sum(t["shuffle_write_bytes"] for t in totals)
    v["core.epoch_shuffle_bytes"] = shuffled / n if batch_bytes else 0.0
    v["core.shuffle_per_batch_byte"] = ratio(shuffled, batch_bytes)
    v["core.plan_chars"] = sum(r["extra"].get("plan_chars", 0) for r in ops) / n

    v["engine.session_s"] = setup["session_s"]
    v["engine.warmup_s"] = setup["warmup_s"]
    v["engine.rss_peak_mb"] = memory["rss_peak_mb"]
    if [r["name"] for r in records] != [r["name"] for r in plain_records]:
        raise ValueError("the traced and untraced runs ran different operations")
    v["trace.overhead_ratio"] = ratio(
        sum(r["wall_s"] for r in records), sum(r["wall_s"] for r in plain_records)
    ) - 1.0
    return {k: {"value": v[k], "unit": UNITS[k]} for k in UNITS}
