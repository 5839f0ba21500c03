"""Skew proof under DATA (VERDICT r4 #7): q_join_skewed puts ~70% of
lineitem on one join key; with the skew-split threshold lowered to
fixture scale, AQE must actually SPLIT the hot partition (visible as
skewed AQEShuffleRead in the final adaptive plan), and results must be
split-invariant. The salted twin must equal the plain join exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from nosql_triple_store_spark.registry import all_specs
from nosql_triple_store_spark.session import pinned_confs

from .conftest import SF_DIR

SPECS = all_specs()

_SKEW_CONFS = {
    # fixture-scale split triggers: a partition is skewed if it exceeds
    # 2x median AND 16 KiB; split chunks target 8 KiB
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    # coalescing can re-merge the split reads at this tiny scale
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # the groupBy(hk, tier) downstream REUSES the join's hash
    # partitioning, so splitting the skewed partition costs one extra
    # shuffle — AQE declines by default; force it, the trade every
    # planner should take when one partition holds 70% of the data
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def test_aqe_splits_the_hot_partition(spark):
    with pinned_confs(spark, _SKEW_CONFS):
        df = SPECS["q_join_skewed"].fn(spark, SF_DIR)
        rows = df.collect()  # materialize so AQE finalizes the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, "merge hint must defeat broadcast"
    # the skew-split metric: the adaptive shuffle read marks the hot
    # partition's reads as skewed (n skewed partitions / m splits)
    assert "skewed" in plan, f"no skew split in plan:\n{plan[:2000]}"
    # and the answer is split-invariant: hot key holds ~70% of rows
    total = sum(r.n for r in rows)
    hot = next(r for r in rows if r.hk == 0)
    assert hot.tier == "hot"
    assert 0.65 <= hot.n / total <= 0.75


def test_salted_twin_equals_plain_join(spark):
    a = SPECS["q_join_skewed"].fn(spark, SF_DIR)
    b = SPECS["q_join_skewed_salted"].fn(spark, SF_DIR)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_salted_plan_spreads_hot_key(spark):
    plan = (
        SPECS["q_join_skewed_salted"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__salt" in plan  # salt participates in the join keys
