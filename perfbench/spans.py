"""Spans around calls into the engine's layers, kept in memory for the traced run.

Each span is a named interval with a parent; the spans of one operation share
its root span. While a span is open, every Spark job started from the client
thread carries the span's job group, so the event log charges its stages and
tasks to that span. Actions that return rows to the client also record the
Catalyst phase times and the Python operators of their executed plan.

Nothing here edits the engine: the traced run wraps `load_table`,
`load_events` and the DataFrame collect paths at run time, and only when
tracing is on.
"""

from __future__ import annotations

import re
import sys
import time
from contextlib import contextmanager

from eventlog import merge

PHASES = ("analysis", "optimization", "planning")
GROUP_PREFIX = "perfbench-"
SOURCES = "sources.load_table"

# Physical operators that hand rows to Python workers.
_PYTHON_NODE = re.compile(r"^[\s:|+\-*()0-9]*(\w*(?:Python|Pandas|InArrow)\w*)", re.M)


def count_python_nodes(plan: str) -> int:
    """Python-evaluating operators in a physical plan string. For an adaptive
    plan only the final plan is counted."""
    final = plan.split("== Initial Plan ==", 1)[0]
    return len(_PYTHON_NODE.findall(final))


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning milliseconds of the QueryExecution
    behind `df`. The tracker's `phases()` is a Scala map: `apply(k)` returns
    the summary, while `get(k)` would return an Option."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {k: phases.apply(k).durationMs() for k in PHASES if phases.contains(k)}
    out["python_nodes"] = count_python_nodes(qe.executedPlan().toString())
    return out


class Tracer:
    """Spans and action records of the operations run with tracing on."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.actions: list[dict] = []
        self._stack: list[dict] = []
        self._in_action = False

    def _open(self, layer: str, parent: dict | None, action: bool) -> dict:
        s = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else len(self.spans),
            "layer": layer,
            "action": action,
            "group": f"{GROUP_PREFIX}{len(self.spans)}",
        }
        self.spans.append(s)
        self.sc.setJobGroup(s["group"], layer)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        return s

    def _close(self, s: dict) -> None:
        s["end"] = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["layer"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, traced: bool):
        """Root span of one operation; a no-op when `traced` is false."""
        if not traced:
            yield None
            return
        s = self._open("op", None, False)
        try:
            yield s
        finally:
            self._close(s)

    @contextmanager
    def span(self, layer: str, action: bool = False):
        """A child span of the open operation; a no-op outside a traced one."""
        if not self._stack:
            yield None
            return
        s = self._open(layer, self._stack[-1], action)
        try:
            yield s
        finally:
            self._close(s)

    @property
    def active(self) -> bool:
        """True inside a traced operation."""
        return bool(self._stack)

    def in_layer(self, layer: str) -> bool:
        return any(s["layer"] == layer for s in self._stack)

    def record_action(self, df) -> None:
        if self.active:
            rec = catalyst_phases(df)
            rec["op"] = self._stack[-1]["op"]
            self.actions.append(rec)

    def install(self) -> None:
        """Wrap the table readers and the DataFrame collect paths. Call after
        the registry is imported, so every module's `load_table` is bound."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for name in ("collect", "toPandas"):
            orig = getattr(DataFrame, name)

            def wrapped(df, *a, _orig=orig, **k):
                if tracer._in_action:
                    return _orig(df, *a, **k)
                tracer._in_action = True
                try:
                    out = _orig(df, *a, **k)
                finally:
                    tracer._in_action = False
                tracer.record_action(df)
                return out

            setattr(DataFrame, name, wrapped)

        import hpmr_spark.sources.tables as tables

        for name in ("load_table", "load_events"):
            orig = getattr(tables, name)

            def reader(*a, _orig=orig, **k):
                if tracer.in_layer(SOURCES):
                    return _orig(*a, **k)
                with tracer.span(SOURCES):
                    return _orig(*a, **k)

            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("hpmr_spark") and (
                    getattr(mod, name, None) is orig
                ):
                    setattr(mod, name, reader)

    # ------------------------------------------------------------ aggregation
    def inclusive(self, groups: dict) -> dict[int, dict]:
        """Each span's event-log totals including those of its descendants."""
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])
        memo: dict[int, dict] = {}
        for s in reversed(self.spans):  # children always follow their parent
            own = groups.get(s["group"])
            parts = ([own] if own else []) + [memo[c] for c in children.get(s["id"], [])]
            memo[s["id"]] = merge(parts)
        return memo
