"""Epoch-lineage stress for KeyedMap.set_batch (VERDICT r6 item 7;
SURVEY §7.3 risk b — the async_set→sync epoch model,
reference src/dist_map.h:118-210).

100 sequential set_batch epochs with checkpoint() every 25: the state
must stay exactly correct, and the logical plan must NOT grow across
checkpoint stretches — localCheckpoint cuts lineage back to a LogicalRDD
scan, so the plan size at the end of every stretch is the same bounded
shape. Without the checkpoint cadence the plan string grows linearly in
epochs (~2.5 KB/epoch measured) and analysis cost eventually dominates;
with it, per-stretch growth is flat. CLAUDE.md records the cadence rule.
"""

from collections import defaultdict

from hpmr_spark.core.keyed_map import KeyedMap
from hpmr_spark.reducers import Reducer

N_EPOCHS = 100
CHECKPOINT_EVERY = 25  # 4 eager-checkpoint jobs: each job re-runs its
# stretch of tiny unions+aggs, so the job count (not the epoch count)
# dominates test wall — 10 stretches measured ~8.5 min under load, 4
# stretches ~2-3 min, with the identical lineage-growth assertion.


def _plan_len(km: KeyedMap) -> int:
    df = km.to_df()
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_epoch_lineage_stress_100(spark):
    km = KeyedMap.from_pairs(spark, [(0, 0)], Reducer.sum)
    expect = defaultdict(int, {0: 0})
    stretch_plan_lens = []  # plan size right AFTER each checkpoint
    for e in range(N_EPOCHS):
        batch = [(i % 7, i + e) for i in range(21)]
        for k, v in batch:
            expect[k] += v
        bdf = spark.createDataFrame(batch, ["k", "v"])
        km = km.set_batch(bdf, "k", "v", Reducer.sum)
        if (e + 1) % CHECKPOINT_EVERY == 0:
            km = km.checkpoint()
            stretch_plan_lens.append(_plan_len(km))

    # Exact correctness after 100 epochs (the reference's golden-value
    # style, src/dist_map_test.cc:86-87).
    assert dict(km.items()) == dict(expect)

    # Lineage-growth assertion: every post-checkpoint plan is the same
    # bounded shape — the LAST stretch must not exceed the FIRST by more
    # than noise (string-length jitter from widening epoch literals).
    assert len(stretch_plan_lens) == N_EPOCHS // CHECKPOINT_EVERY
    first, last = stretch_plan_lens[0], stretch_plan_lens[-1]
    assert last <= first * 1.5 + 200, (
        f"lineage grew across checkpoints: first stretch {first} B, "
        f"last stretch {last} B — checkpoint() is not cutting lineage"
    )
    # And the checkpointed plan is small in absolute terms (a scan, not
    # 100 epochs of unions).
    assert last < 20_000, f"post-checkpoint plan unexpectedly large: {last} B"


def test_epoch_plan_grows_without_checkpoint(spark):
    """Sentinel for WHY the cadence exists: without checkpoint the
    optimized plan grows with every epoch."""
    km = KeyedMap.from_pairs(spark, [(0, 0)], Reducer.sum)
    sizes = []
    for e in range(8):
        bdf = spark.createDataFrame([(i % 3, i) for i in range(6)], ["k", "v"])
        km = km.set_batch(bdf, "k", "v", Reducer.sum)
        sizes.append(_plan_len(km))
    assert sizes[-1] > sizes[0], "expected monotone plan growth without checkpoint"
