"""Bucketed (pre-shuffled) storage layout: the shuffle-free join path.

The reference co-locates by sort-partitioning subjects into range shards
(readers.py mirrors that); bucketing is Spark's hash twin — both sides of
a fact-fact join written with bucketBy(k, join_key) + sortBy carry their
partitioning ON DISK, so the join (and any aggregation on the bucket key)
runs with ZERO exchanges. At 100 TB this converts the biggest recurring
shuffle (orders ⋈ lineitem on orderkey) into a local merge per bucket —
the single highest-leverage layout decision for a recurring workload.
tests/test_bucketed.py asserts the no-Exchange plan with broadcast
disabled."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register, register_layout
from ..scratch import memo, scratch_tmp

_N_BUCKETS = 8


def _write_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    tag = uuid.uuid4().hex[:8]
    root = scratch_tmp("spark_graft_buckets_")
    names = (f"orders_b_{tag}", f"lineitem_b_{tag}")
    for name, (tbl, key) in zip(
        names, (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
    ):
        (
            load_table(spark, sf_dir, tbl)
            .write.bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(root, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    return names


@register_layout("bucketed_orders_lineitem", r"q_join|q_tpch")
def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders+lineitem bucketed by orderkey as external
    tables (path under tmp), once per source state and SparkContext
    (the in-memory catalog lives exactly as long as the context): a
    one-time ETL cost amortized over every co-located join."""
    return memo(
        "bucketed_orders_lineitem",
        sf_dir,
        lambda: _write_bucketed(spark, sf_dir),
        sources=("orders", "lineitem"),
        key=spark.sparkContext.applicationId,
    )


@register(
    "q_join_bucketed",
    oracle="""
SELECT o.o_orderkey, o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l.l_extendedprice), 2) AS gross
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_totalprice > 350000
GROUP BY o.o_orderkey, o.o_orderstatus
""",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem on the bucket key + aggregation on the same key:
    with both sides bucketed(8, orderkey) the sort-merge join consumes
    the on-disk bucketing and the groupBy reuses the join's distribution
    — no Exchange anywhere in the plan (asserted in tests). Semantically
    identical to the plain join, which is what the oracle checks. gross
    rounds at 2dp: the addends are clean 2-decimal prices, so the true
    sum is a 2-decimal value 0.005 from any 2dp boundary (1dp would sit
    EXACTLY on half-way boundaries and the engines disagree there)."""
    ot, lt = bucketed_tables(spark, sf_dir)
    o = spark.table(ot).filter(F.col("o_totalprice") > 350000)
    li = spark.table(lt)
    # merge hint: without it the planner broadcasts the filtered orders
    # side and the downstream groupBy re-shuffles — the hint makes both
    # sides consume the on-disk bucketing, which is the layout's point
    j = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    return j.groupBy("o_orderkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("gross"),
    )
