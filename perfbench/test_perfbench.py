"""Fast self-tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import merge, read_events, summarize  # noqa: E402
from spans import Tracer, count_python_nodes  # noqa: E402
from stats import harrell_davis, ratio  # noqa: E402
from workloads import KeyedModel, affine  # noqa: E402


# ------------------------------------------------------------------ stats
def test_harrell_davis_matches_known_values():
    values = [float(v) for v in range(1, 101)]
    random.Random(0).shuffle(values)
    assert harrell_davis(values, 0.5) == pytest.approx(50.5)
    assert harrell_davis(values, 0.9) == pytest.approx(90.5, abs=1e-6)
    assert harrell_davis([3.0], 0.9) == 3.0
    assert harrell_davis([2.0] * 7, 0.5) == pytest.approx(2.0)


def test_harrell_davis_is_ordered_and_bounded():
    rng = random.Random(1)
    values = [rng.expovariate(1.0) for _ in range(15)]
    p50, p90 = harrell_davis(values, 0.5), harrell_davis(values, 0.9)
    assert min(values) < p50 < p90 < max(values)


def test_harrell_davis_weights_every_order_statistic():
    base = [1.0 + 0.01 * i for i in range(15)]
    spiked = base[:-1] + [10.0]
    jump = 10.0 - base[-1]
    # the median hardly sees the largest sample; p90 gives it part weight,
    # where the nearest-rank p90 of 15 samples would ignore it entirely
    assert harrell_davis(spiked, 0.5) - harrell_davis(base, 0.5) < 1e-3 * jump
    assert 0.2 * jump < harrell_davis(spiked, 0.9) - harrell_davis(base, 0.9) < 0.5 * jump


def test_harrell_davis_rejects_bad_input():
    with pytest.raises(ValueError):
        harrell_davis([], 0.5)
    with pytest.raises(ValueError):
        harrell_davis([1.0], 1.0)


def test_ratio():
    assert ratio(3, 4) == 0.75
    assert ratio(3, 0) == 0.0


# --------------------------------------------------------------- event log
def _job(job, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": props}


def _stage(stage, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
            "Properties": props}


def _task(stage, run_ms, cpu_ns, gc_ms, wrote, read_local, read_remote, spilled, ok=True):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spilled,
            "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": wrote},
            "Shuffle Read Metrics": {"Local Bytes Read": read_local,
                                     "Remote Bytes Read": read_remote},
        },
    }


EVENTS = [
    {"Event": "SparkListenerLogStart"},
    _job(0, "g1", [0, 1]),
    _stage(0, "g1"),
    _task(0, 1000, 5e8, 10, 100, 0, 0, 0),
    _task(0, 3000, 1e9, 20, 200, 0, 0, 0),
    _stage(1, "g1"),
    _task(1, 500, 2.5e8, 0, 0, 250, 50, 7, ok=False),
    _stage(1, "g1"),  # a resubmitted attempt is not a new stage
    _job(1, None, [2]),
    _stage(2, None),
    _task(2, 2000, 1e9, 0, 0, 0, 0, 0),
]


def test_summarize_per_group():
    g = summarize(EVENTS)
    assert set(g) == {"g1", None}
    g1 = g["g1"]
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (1, 2, 3)
    assert g1["task_s"] == pytest.approx(4.5)
    assert g1["task_cpu_s"] == pytest.approx(1.75)
    assert g1["task_max_s"] == pytest.approx(3.0)
    assert g1["gc_s"] == pytest.approx(0.03)
    assert g1["shuffle_write_bytes"] == 300
    assert g1["shuffle_read_bytes"] == 300
    assert g1["spill_bytes"] == 10
    assert g1["task_failures"] == 1
    assert g[None]["tasks"] == 1 and g[None]["task_max_s"] == pytest.approx(2.0)


def test_merge_sums_and_maxes():
    g = summarize(EVENTS)
    m = merge([g["g1"], g[None]])
    assert m["tasks"] == 4
    assert m["task_s"] == pytest.approx(6.5)
    assert m["task_max_s"] == pytest.approx(3.0)


def test_read_events_file(tmp_path):
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n\n")
    assert list(read_events(str(log))) == EVENTS


# ------------------------------------------------------------------ spans
class _FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        self.calls.append(value)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_spans_nest_and_restore_job_groups():
    t = Tracer(_FakeSession())
    with t.span("catalog.build"):
        pass  # outside an op: no span
    assert t.spans == []
    with t.op(False):
        assert not t.active
    with t.op(True) as root:
        with t.span("catalog.build") as build:
            with t.span("sources.load_table") as src:
                assert t.in_layer("catalog.build")
        with t.span("exec.action", action=True) as act:
            pass
    assert [s["parent"] for s in t.spans] == [None, root["id"], build["id"], root["id"]]
    assert {s["op"] for s in t.spans} == {root["id"]}
    assert act["action"] and not build["action"]
    groups = [s["group"] for s in t.spans]
    assert t.sc.calls == [groups[0], groups[1], groups[2], groups[1], groups[0],
                          groups[3], groups[0], None]
    g = {groups[1]: summarize([_job(0, groups[1], [0])])[groups[1]],
         groups[2]: summarize([_job(1, groups[2], [1]), _job(2, groups[2], [2])])[groups[2]]}
    incl = t.inclusive(g)
    assert incl[src["id"]]["jobs"] == 2
    assert incl[build["id"]]["jobs"] == 3
    assert incl[root["id"]]["jobs"] == 3
    assert incl[act["id"]]["jobs"] == 0


def test_count_python_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- *(2) Project [pythonUDF0#12 AS score#5]
      +- ArrowEvalPython [score(text#1)#4], [pythonUDF0#12], 200
         +- FlatMapGroupsInPandas [k#0], apply(k#0)#9
            +- *(1) Scan ExistingRDD[k#0,text#1]
+- == Initial Plan ==
   ArrowEvalPython [score(text#1)#4], [pythonUDF0#12], 200
"""
    assert count_python_nodes(plan) == 2
    assert count_python_nodes("*(1) HashAggregate(keys=[k#0])\n+- LocalTableScan [k#0]") == 0


# ------------------------------------------------------------- keyed model
def test_affine_batches_have_distinct_keys():
    ids = np.arange(2000, dtype=np.int64)
    keys = affine(ids, 7, 123, 40_000)
    assert len(set(keys.tolist())) == len(keys)
    assert keys.min() >= 0 and keys.max() < 40_000


def test_keyed_model_matches_dict_model():
    rng = random.Random(7)
    space = 50
    model, ref = KeyedModel(space), {}
    for _ in range(200):
        keys = np.array([rng.randrange(space) for _ in range(rng.randrange(1, 12))])
        if rng.random() < 0.3:
            model.unset(keys)
            for k in keys.tolist():
                ref.pop(k, None)
        else:
            values = np.array([rng.randrange(-500, 501) for _ in keys])
            model.set_batch(keys, values)
            for k, v in zip(keys.tolist(), values.tolist()):
                ref[k] = ref.get(k, 0) + v
        probe = [rng.randrange(space) for _ in range(10)]
        assert model.get_many(probe) == {k: ref[k] for k in probe if k in ref}


def test_keyed_model_resets_unset_keys():
    m = KeyedModel(10)
    m.set_batch(np.array([3, 3, 4]), np.array([5, 6, 7]))
    assert m.get_many([3, 4, 5]) == {3: 11, 4: 7}
    m.unset(np.array([3]))
    assert m.get_many([3]) == {}
    m.set_batch(np.array([3]), np.array([2]))
    assert m.get_many([3]) == {3: 2}
