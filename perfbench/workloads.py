"""The benchmark's three workloads.

Each workload is prepared once per set-up, then hands out its operations in
cycles. A run checks its warm-up cycles without timing them, then times a fixed
number of whole cycles, so the mix of operations is the same in every run.

- registry_mix: a fixed sample of registry queries at sf0.001, one per cost
  stratum, in seeded order.
- headline_sf0.1: the frozen `bench.py` headline queries at sf0.1, one round
  per cycle.
- keyed_epochs: the async_set/sync loop on `KeyedMap`, one checkpoint period
  per cycle, checked against a numpy model.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
ORACLES = os.path.join(HERE, "oracles")
SMALL = os.path.join(DATA, "sf0.001")


def load_json(name: str) -> dict:
    with open(os.path.join(ORACLES, name), encoding="utf-8") as fh:
        return json.load(fh)


class Op:
    """One operation: `run(tracer)` does the timed work and returns its
    output; `check(output)` returns None when the output is right, else why
    it is wrong. `extra` carries per-op counts for the traced run."""

    def __init__(self, name, run, check):
        self.name = name
        self.run = run
        self.check = check
        self.extra: dict = {}


# --------------------------------------------------------------- queries
class QueryWorkload:
    """Registry queries checked against precomputed DuckDB answers. Spark
    caches are counted and cleared after every query."""

    clears_cache = True

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, spark) -> None:
        import hpmr_spark.all_queries  # noqa: F401 - populates the registry
        from hpmr_spark.catalog import QUERIES

        from tools.selfcheck import canon

        self.spark = spark
        self.queries = QUERIES
        self.canon = canon
        self.answers = {
            SMALL: load_json("registry_sf0.001.json")["queries"],
            self.data: load_json(self.oracle_file)["queries"],
        }

    def query_op(self, name: str, data: str | None = None) -> Op:
        data = data or self.data
        answers = self.answers[data]

        def run(tracer):
            with tracer.span("catalog.build"):
                df = self.queries[name](self.spark, data)
            with tracer.span("exec.action", action=True):
                return df.toPandas()

        def check(pdf):
            want = answers.get(name)
            if want is None or "hash" not in want:
                return f"no oracle answer: {want}"
            if len(pdf) != want["rows"]:
                return f"rows {len(pdf)} != {want['rows']}"
            if sorted(pdf.columns) != want["cols"]:
                return f"columns {sorted(pdf.columns)} != {want['cols']}"
            if self.canon(pdf) != want["hash"]:
                return "value-hash mismatch"
            return None

        return Op(name, run, check)


class RegistryMix(QueryWorkload):
    """One registry query from each of 16 cost strata, at sf0.001. The
    sample is drawn once (`oracles/registry_strata.json`, made by
    make_oracles.py); the seed sets the order of every cycle. A sample drawn
    per seed spread op_p50_s by about 20% between seeds, against 3% between
    runs of one sample, so each run keeps the same queries."""

    name = "registry_mix"
    cycle_s = 15.0
    oracle_file = "registry_sf0.001.json"
    data = SMALL

    def warm_cycle(self, cycles) -> list:
        """The sample in its first seeded order, so that every timed query
        runs for the second time in the session. Timed first runs carried
        one-off costs, such as compiling the query's generated code, that
        depend on which queries ran before, and so on the seeded order."""
        return next(cycles)

    def cycles(self):
        sample = load_json("registry_strata.json")["sample"]
        rng = random.Random(self.seed)
        while True:
            yield [self.query_op(n) for n in rng.sample(sample, len(sample))]


class Headline(QueryWorkload):
    """The 15 frozen `bench.py` headline queries at sf0.1, round-robin in one
    warm session; the seed shuffles the order of every round."""

    name = "headline_sf0.1"
    cycle_s = 15.0
    oracle_file = "headline_sf0.1.json"
    data = os.path.join(DATA, "sf0.1")

    def warm_cycle(self, cycles) -> list:
        """The 15 queries at sf0.001, so that the timed rounds run in a warm
        session. Compilation and first-use costs hardly depend on the scale,
        and a warm-up round took 19 s here against 26 s at sf0.1."""
        from bench import BENCH_QUERIES

        return [self.query_op(n, SMALL) for n in BENCH_QUERIES]

    def cycles(self):
        from bench import BENCH_QUERIES

        rng = random.Random(self.seed)
        while True:
            yield [self.query_op(n) for n in rng.sample(BENCH_QUERIES, len(BENCH_QUERIES))]


# ----------------------------------------------------------- keyed epochs
class KeyedModel:
    """Exact numpy model of a KeyedMap with the sum reducer over int64 keys
    in [0, key_space)."""

    def __init__(self, key_space: int):
        self.value = np.zeros(key_space, dtype=np.int64)
        self.present = np.zeros(key_space, dtype=bool)

    def set_batch(self, keys: np.ndarray, values: np.ndarray) -> None:
        fresh = keys[~self.present[keys]]
        self.value[fresh] = 0
        self.present[keys] = True
        np.add.at(self.value, keys, values)

    def unset(self, keys: np.ndarray) -> None:
        self.present[keys] = False

    def get_many(self, keys) -> dict:
        return {int(k): int(self.value[k]) for k in keys if self.present[k]}


def affine(ids: np.ndarray, mul: int, add: int, mod: int) -> np.ndarray:
    return (ids * mul + add) % mod


class KeyedEpochs:
    """hpmr's async_set/sync loop on `KeyedMap`.

    The state starts with `state_keys` keys (the even numbers below
    2 * state_keys) generated by `spark.range`. Epoch e writes `batch_keys`
    rows with the sum reducer (`set_batch`), looks up 32 just-written and 32
    random keys (`get_many`), deletes `batch_keys / 4` keys (`unset_many`) in
    the second epoch of each cycle, and cuts lineage with `checkpoint()` in
    the third and last one, before its lookup. Keys and values are affine
    maps of the row id, so Spark and the model generate the same rows.

    Epoch walls rise through a cycle as lineage grows. With three epochs per
    cycle the median falls among the unset epochs and the 90th percentile
    among the checkpoint epochs, not on a boundary between two kinds."""

    name = "keyed_epochs"
    cycle_s = 3.0
    clears_cache = False
    period = 3  # epochs per cycle; one checkpoint per cycle
    lookups = 32

    def __init__(self, seed: int, state_keys: int = 200_000, batch_keys: int = 2_000):
        self.seed = seed
        self.state_keys = state_keys
        self.batch_keys = batch_keys
        self.key_space = 2 * state_keys

    def warm_cycle(self, cycles) -> list:
        """The first two cycles. The first pays the epoch plans' compilation;
        epoch walls kept falling through the next one as the JIT warmed."""
        return next(cycles) + next(cycles)

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from hpmr_spark.core.keyed_map import KeyedMap
        from hpmr_spark.reducers import Reducer

        self.spark, self.F, self.sum = spark, F, Reducer.sum
        init = spark.range(self.state_keys).select(
            (F.col("id") * 2).alias("key"), (F.col("id") % 997).alias("value")
        )
        self.km = KeyedMap.from_df(init, "key", "value", Reducer.sum).checkpoint()
        self.model = KeyedModel(self.key_space)
        ids = np.arange(self.state_keys, dtype=np.int64)
        self.model.set_batch(ids * 2, ids % 997)
        self.rng = random.Random(self.seed)
        self.epoch = 0

    def _coprime(self) -> int:
        while True:
            m = self.rng.randrange(3, self.key_space, 2)
            if np.gcd(m, self.key_space) == 1:
                return m

    def _frame(self, rows: int, mul: int, add: int, vmul: int | None = None, vadd: int = 0):
        F = self.F
        cols = [((F.col("id") * mul + add) % self.key_space).alias("key")]
        if vmul is not None:
            cols.append((((F.col("id") * vmul + vadd) % 1001) - 500).alias("value"))
        return self.spark.range(rows).select(*cols)

    def epoch_op(self) -> Op:
        e, rng, model = self.epoch, self.rng, self.model
        self.epoch += 1
        phase = e % self.period
        mul, add = self._coprime(), rng.randrange(self.key_space)
        vmul, vadd = rng.randrange(1, 1001), rng.randrange(1001)
        ids = np.arange(self.batch_keys, dtype=np.int64)
        keys = affine(ids, mul, add, self.key_space)
        del_rows = self.batch_keys // 4
        if phase == 1:
            del_mul, del_add = self._coprime(), rng.randrange(self.key_space)
        probe = sorted(
            {int(k) for k in rng.sample(list(keys), self.lookups)}
            | {rng.randrange(self.key_space) for _ in range(self.lookups)}
        )
        batch = self._frame(self.batch_keys, mul, add, vmul, vadd)
        op = Op(f"epoch_{e}", None, None)

        def run(tracer):
            with tracer.span("core.set_batch"):
                km = self.km.set_batch(batch, "key", "value", self.sum)
            if phase == 1:
                gone = self._frame(del_rows, del_mul, del_add)
                with tracer.span("core.unset_many"):
                    km = km.unset_many(gone, "key")
            if tracer.active:
                op.extra["plan_chars"] = len(km.df._jdf.queryExecution().logical().toString())
            if phase == self.period - 1:
                with tracer.span("core.checkpoint", action=True):
                    km.checkpoint()
            with tracer.span("core.get_many", action=True):
                got = km.get_many(probe)
            return km, got

        # the model advances when the op is built, before it runs
        model.set_batch(keys, affine(ids, vmul, vadd, 1001) - 500)
        if phase == 1:
            model.unset(affine(np.arange(del_rows, dtype=np.int64), del_mul, del_add, self.key_space))
        want = model.get_many(probe)

        def check(out):
            km, got = out
            self.km = km
            if got != want:
                bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
                return f"{len(bad)} keys differ, first {bad[:3]}"
            return None

        op.run, op.check = run, check
        op.extra["batch_bytes"] = 16 * self.batch_keys
        return op

    def cycles(self):
        while True:
            yield [self.epoch_op() for _ in range(self.period)]


WORKLOADS = {w.name: w for w in (RegistryMix, Headline, KeyedEpochs)}
