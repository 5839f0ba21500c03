"""Twelfth extension batch: statistical aggregates (corr/regression),
map higher-order functions, CSV source roundtrip, hive-partitioned write
with dynamic partition pruning, and HLL partial-sketch merge.

Reference lineage: all generalize the north-star analytics surface
(SURVEY §2.C); the partitioned-write + DPP query is the Spark-native
answer to the reference's static shard routing (MasterServer.py:77-87
getShardID) — instead of the master linearly scanning range bounds per
request, the layout carries the key and Catalyst prunes partitions at
plan time (static filters) or run time (dynamic pruning from a join).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..registry import register
from ..scratch import build_once
from .triple import E_CTE

# --------------------------------------------------------------------------
# Statistical aggregates from EXACT integer sums.
#
# corr / regr_slope / regr_intercept / regr_r2 exist as builtins in both
# Spark and DuckDB, but their streaming accumulation order differs across
# engines, so their raw doubles drift at ~1e-13 — too small to matter, too
# large to hash. The deterministic path: reduce to the five exact integer
# sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² — all < 2^53 at bench
# scale, so the cast to double is exact), then evaluate the SAME closed-form
# expression tree in both engines; every IEEE-754 op sees identical inputs
# in identical order, making the result bit-identical with NO rounding.
# x = l_quantity (integer-valued), y = whole-dollar l_extendedprice
# (2dp-clean doubles; round-half-away is identical cross-engine).
# At 100 TB the sums are one partial-aggregable groupBy (map-side combine),
# and the closed forms are per-group scalar math on the final row.
# --------------------------------------------------------------------------

_CORR_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(l_extendedprice) AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_extendedprice) AS BIGINT)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(l_extendedprice) AS BIGINT)
                  * CAST(round(l_extendedprice) AS BIGINT)) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag),
d AS (
  SELECT l_returnflag, n_rows,
         (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) AS corr_qp,
         (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
         n, sx, sy
  FROM s)
SELECT l_returnflag, n_rows, corr_qp, slope,
       (sy - slope * sx) / n AS intercept,
       corr_qp * corr_qp AS r2
FROM d
"""


@register("q_agg_corr_regr", oracle=_CORR_ORACLE)
def q_agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + least-squares regression (slope, intercept,
    R²) of line-item quantity vs whole-dollar price, per return flag —
    computed from exact integer sufficient statistics so the doubles are
    bit-identical cross-engine (see module header). Spark's builtin
    F.corr / F.regr_slope / F.regr_r2 are the production surface; a unit
    test asserts they agree with these closed forms to 1e-9 (they drift
    below hash grain, so the registry query uses the exact path)."""
    li = load_table(spark, sf_dir, "lineitem")
    xy = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice", 0).cast("long").alias("y"),
    )
    s = xy.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    d = s.select(
        "l_returnflag",
        "n_rows",
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         ).alias("corr_qp"),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("slope"),
        n.alias("n"), sx.alias("sx"), sy.alias("sy"),
    )
    return d.select(
        "l_returnflag",
        "n_rows",
        "corr_qp",
        "slope",
        ((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n")
         ).alias("intercept"),
        (F.col("corr_qp") * F.col("corr_qp")).alias("r2"),
    )


@register(
    "q_rollup_grouping_id",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with an explicit grouping_id() — the bit-vector that lets a
    consumer of a persisted rollup distinguish a real NULL group value
    from a subtotal row (detail=0, priority-subtotal=1, grand-total=3).
    Spark's grouping_id() and DuckDB's GROUPING() use the same bit
    convention (left column = high bit). Revenue sums 2dp-clean addends,
    safe at 2dp rounding; the rollup itself is one partial-aggregable
    expand+hash-agg, no extra shuffle vs a plain group-by."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_MAP_ORACLE = f"""
{E_CTE},
cnt AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY user_id, event_type),
tot AS (
  SELECT user_id, CAST(SUM(n) AS BIGINT) AS total FROM cnt GROUP BY user_id)
SELECT cnt.user_id, cnt.event_type, cnt.n,
       ROUND(cnt.n * 1.0 / tot.total, 4) AS share
FROM cnt JOIN tot USING (user_id)
WHERE cnt.n >= 14
"""


@register("q_map_ops", oracle=_MAP_ORACLE)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed per-user event profile exercising the map higher-order
    surface end-to-end: counts → map_from_entries, total via
    aggregate(map_values(m)), map_filter keeps types with n ≥ 14 (probed non-vacuous at sf0.001/0.01: per-pair counts span 3-24 around a ~13 median),
    transform_values attaches the within-user share, explode back to
    rows. All lambdas are int arithmetic plus ONE division of exact ints
    (bit-identical cross-engine, rounded once at 4dp). The map never
    outlives one stage — at scale this is the pattern for building
    keyed feature dictionaries without a second shuffle: the per-user
    map assembly rides the same hash partitioning as the count."""
    events = load_table(spark, sf_dir, "events")
    cnt = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_user = cnt.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    with_total = per_user.withColumn(
        "total",
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ),
    )
    profiled = with_total.select(
        "user_id",
        F.explode(
            F.transform_values(
                F.map_filter("m", lambda k, v: v >= F.lit(14)),
                lambda k, v: F.struct(
                    v.alias("n"),
                    F.round(v * F.lit(1.0) / F.col("total"), 4).alias("share"),
                ),
            )
        ).alias("event_type", "prof"),
    )
    return profiled.select(
        "user_id", "event_type", F.col("prof.n").alias("n"),
        F.col("prof.share").alias("share"),
    )


_ORDERS_DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
# o_orderdate is TIMESTAMP_NTZ (parquet isAdjustedToUTC=false), which CSV
# formats via the separate timestampNTZFormat option.
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def csv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as a CSV-backed DataFrame: exported once per sf_dir to
    headered CSV, read back with an explicit schema + NTZ timestamp
    format (shared by q_source_csv and the federated join in ext17)."""

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .write.option("header", True)
            .option("timestampNTZFormat", _TS_FMT)
            .csv(out)
        )

    return (
        spark.read.schema(_ORDERS_DDL)
        .option("header", True)
        .option("timestampNTZFormat", _TS_FMT)
        .csv(build_once("orders_csv", sf_dir, write, sources=("orders",)))
    )


@register(
    "q_source_csv",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       CAST(MIN(o_orderdate) AS DATE) AS first_day,
       CAST(MAX(o_orderdate) AS DATE) AS last_day
FROM orders GROUP BY o_orderpriority
""",
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source roundtrip: orders exported to headered CSV and read
    back with an EXPLICIT schema + timestamp format (schema inference on
    CSV is an extra full pass at 100 TB and guesses types from a sample;
    pinning both keeps the read single-pass and deterministic). Doubles
    survive because Spark writes shortest-roundtrip representations;
    timestamps are pinned to a microsecond pattern. The aggregate runs
    on the re-read copy while the oracle reads the original parquet —
    equality proves losslessness."""
    orders = csv_orders(spark, sf_dir)
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.min("o_orderdate").cast("date").alias("first_day"),
        F.max("o_orderdate").cast("date").alias("last_day"),
    )


def _partitioned_orders(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders hive-partitioned by o_orderpriority plus a tiny
    priority dimension table, once per sf_dir."""

    def write(base: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        orders.write.partitionBy("o_orderpriority").parquet(
            os.path.join(base, "orders")
        )
        dim = (
            orders.select(F.col("o_orderpriority").alias("pr"))
            .distinct()
            .withColumn(
                "urgency",
                F.when(
                    F.col("pr").startswith("1-") | F.col("pr").startswith("2-"),
                    F.lit("high"),
                ).otherwise(F.lit("normal")),
            )
        )
        dim.coalesce(1).write.parquet(os.path.join(base, "priorities"))

    base = build_once("partitioned_orders", sf_dir, write, sources=("orders",))
    return os.path.join(base, "orders"), os.path.join(base, "priorities")


@register(
    "q_join_dpp",
    oracle="""
SELECT o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
GROUP BY o_orderpriority
""",
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: fact orders laid out hive-partitioned
    by o_orderpriority, joined to a parquet priority dimension filtered
    on a NON-key attribute (urgency = 'high'). The partition keys to
    keep are only known after the dim filter runs, so Catalyst injects a
    runtime pruning subquery into the fact scan (reusing the broadcast)
    — the scan never opens the 3 non-matching partitions. This is the
    Spark-native replacement for the reference's getShardID routing
    (MasterServer.py:77-87): the layout carries the key; the engine
    prunes. At 100 TB a date-partitioned fact ⋈ filtered dim join reads
    days, not years. A unit test asserts `dynamicpruning` appears in the
    fact scan's PartitionFilters."""
    fact_path, dim_path = _partitioned_orders(spark, sf_dir)
    fact = read_parquet(spark, fact_path)
    dim = read_parquet(spark, dim_path).filter(F.col("urgency") == "high")
    joined = fact.join(
        F.broadcast(dim), fact["o_orderpriority"] == dim["pr"], "inner"
    )
    return joined.groupBy(F.col("pr")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register("q_agg_hll_partial")  # rows-only: HLL estimates are
# implementation-defined (Spark DataSketches vs DuckDB HLL differ);
# tests/test_hll.py bounds the estimate against the exact distinct count.
def q_agg_hll_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches: per (event_type, shard)
    HLL partials via hll_sketch_agg, merged with hll_union_agg, then
    estimated — the two-level shape that matters at 100 TB: partials are
    computed per partition/day and STORED (bytes, not raw keys), and any
    later rollup (per-week, per-type, global) merges sketches without
    re-touching raw data. The estimate is split-invariant (HLL merge is
    a register-wise max), so the arbitrary 16-way salt changes nothing —
    a unit test asserts salted == unsalted == within 5% of exact.
    approx_count_distinct (q_agg_approx_distinct) gives one-shot
    estimates; this query is the *mergeable-state* variant."""
    events = load_table(spark, sf_dir, "events")
    partials = (
        events.withColumn("shard", F.pmod(F.hash("event_id"), F.lit(16)))
        .groupBy("event_type", "shard")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        partials.groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("approx_users"),
        )
    )
