"""Seventeenth extension batch: weighted single-source shortest paths,
federated mixed-format join, linear trend forecast from exact sums.

Lineage: SSSP completes the Pregel-style iterative family (CC, BFS,
PageRank, k-core) with edge WEIGHTS — the remaining GraphX primitive the
north star names (SURVEY §1.5). The federated join is the polyglot-read
story the reference faked with three database backends behind HTTP
(SURVEY §1.4): here one Catalyst plan reads CSV and parquet and joins
them — no per-backend connectors, no routing tier. The forecast query
extends the exact-sufficient-statistics pattern (q_agg_corr_regr) to a
time-series regression that predicts beyond the observed range."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..session import pinned_confs
from .graph_ext3 import _copurchase_edges
from .relational_ext12 import csv_orders
from .triple import E_CTE
from ..materialize import count_rows, fixpoint, materialize
from .graph import improved, min_merge

SSSP_ROUND_CAP = 15

# Broadcast the frontier only while it is provably small: on a
# high-diameter or expander graph the frontier grows to O(|V|) rows and
# a forced broadcast hint becomes a driver-memory hazard at
# 1000-executor scale. 1M (node, dist) rows ≈ 16 MB raw —
# comfortably inside executor broadcast budgets; above it the
# relaxation join falls back to a shuffle hash join keyed on the
# adjacency layout. The frontier size is known for free each round
# (the convergence check already counts the improved set).
FRONTIER_BROADCAST_MAX = 1_000_000


def _edge_weight(a, b):
    """Deterministic pseudo-weight in [1, 5] from the endpoint ids."""
    return ((a + b) % 5 + 1).cast("long")


def _relax_candidates(
    frontier: DataFrame, frontier_rows: int, adj: DataFrame
) -> DataFrame:
    """One Bellman-Ford relaxation: probe the adjacency layout with the
    frontier, explode matched neighbor lists, take the per-node min
    candidate distance. Size-adaptive join strategy — broadcast while
    frontier_rows <= FRONTIER_BROADCAST_MAX, shuffle hash join above
    (plan flip pinned in tests/test_ext17.py)."""
    f = (
        F.broadcast(frontier)
        if frontier_rows <= FRONTIER_BROADCAST_MAX
        else frontier
    )
    return (
        f.join(adj, F.col("node") == F.col("src"))
        .select("dist", F.explode("nbrs").alias("e"))
        .select(
            F.col("e.dst").alias("node"),
            (F.col("dist") + F.col("e.w")).alias("cand"),
        )
        .groupBy("node")
        .agg(F.min("cand").alias("dist"))
    )


@register("q_graph_sssp")  # rows-only: iterative fixpoint (DuckDB's
# recursive CTE cannot take min-over-aggregate per round on a cyclic
# graph without path enumeration blowup); relaxation-fixpoint,
# source-distance-zero, and determinism invariants in tests/test_ext17.py
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the co-purchase part
    graph (Bellman-Ford as iterative DataFrame joins): dist' =
    min(dist, min over edges (u,v) of dist[u] + w(u,v)), from the
    smallest part id in the edge set, undirected edges with
    deterministic weights in [1,5]. Each round is one join + one min
    aggregate, both keyed by node (shuffle volume = frontier edges);
    lineage cut per round by materialize.fixpoint; converges in
    O(weighted diameter) rounds — capped at {cap} with a hard error
    (same contract as the CC loops). At 100 TB-scale graphs the same
    loop runs with the edge relation bucketed by src so every round
    reuses the layout without re-shuffling the edges."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("pa").alias("src"),
        F.col("pb").alias("dst"),
        _edge_weight(F.col("pa"), F.col("pb")).alias("w"),
    ).unionByName(
        edges.select(
            F.col("pb").alias("src"),
            F.col("pa").alias("dst"),
            _edge_weight(F.col("pa"), F.col("pb")).alias("w"),
        )
    )
    # Pregel adjacency-list layout (the graph-family sweep's one
    # >data-proportional flag): grouping the 2|E| edge rows into
    # (src, nbrs[]) ONCE means every relaxation round hash-probes |V|
    # adjacency rows and explodes only the FRONTIER's neighbor lists —
    # instead of re-scanning all edge rows per round (measured at
    # derived sf3: 5 rounds × 36M-row scans; the adjacency form scans
    # 5 × 60k rows after one 36M-row groupBy). At 100 TB this is the
    # adjacency-bucketed edge table every Pregel system stores.
    adj = (
        und.groupBy("src")
        .agg(F.collect_list(F.struct("dst", "w")).alias("nbrs"))
        .transform(materialize)
    )
    source = adj.agg(F.min("src")).collect()[0][0]
    # Semi-naive frontier relaxation: only nodes whose distance improved
    # last round propagate this round (the Datalog delta trick the BGP
    # closure uses) — per-round shuffle volume is frontier edges, not
    # the whole graph, and an empty frontier IS convergence. Its count is
    # the round's one action and next round's frontier-size estimate.
    # The per-round aggregates are tiny, so the loop pins a small
    # shuffle width for its lifetime (a vanilla session's default 200
    # partitions would cost ~200 empty tasks per round × ~10 rounds) and
    # restores it after (session.pinned_confs).
    frontier_rows = 1

    def relax(dist: DataFrame) -> DataFrame:
        frontier = improved(dist).select("node", "dist")
        return min_merge(dist, _relax_candidates(frontier, frontier_rows, adj))

    def settled(dist: DataFrame) -> bool:
        nonlocal frontier_rows
        frontier_rows = count_rows(improved(dist))
        return frontier_rows == 0

    with pinned_confs(spark, {"spark.sql.shuffle.partitions": "8"}):
        start = spark.createDataFrame(
            [(int(source), 0, None)], "node long, dist long, old long"
        )
        dist = fixpoint(
            start, relax, settled, cap=SSSP_ROUND_CAP, what="SSSP"
        )
    return dist.select("node", "dist")


q_graph_sssp.__doc__ = q_graph_sssp.__doc__.format(cap=SSSP_ROUND_CAP)


@register(
    "q_source_federated",
    oracle="""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q_source_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated mixed-format join: CSV-backed orders (csv_orders — the
    ext12 roundtrip export) joined to parquet-backed customers in ONE
    Catalyst plan. This is the Spark-native answer to the reference's
    three-backend architecture (Mongo + PostgreSQL + SQLite behind
    Flask routing, SURVEY §1.4): format is a scan-node property, not a
    system boundary — the join, the optimizer, and the shuffle don't
    care. The oracle reads both sides from the original parquet,
    proving the CSV leg is lossless through the join too."""
    orders = csv_orders(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_FORECAST_ORACLE = f"""
{E_CTE},
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vc
  FROM e GROUP BY 1, 2),
idx AS (
  SELECT event_type, day, vc,
         CAST(day - MIN(day) OVER (PARTITION BY event_type) AS BIGINT) AS d
  FROM daily),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(d) AS DOUBLE) AS sd,
         CAST(SUM(vc) AS DOUBLE) AS sv,
         CAST(SUM(d * vc) AS DOUBLE) AS sdv,
         CAST(SUM(d * d) AS DOUBLE) AS sdd,
         CAST(MAX(d) AS DOUBLE) AS dmax,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM idx GROUP BY event_type),
f AS (
  SELECT event_type, n_days,
         (n*sdv - sd*sv) / (n*sdd - sd*sd) AS slope_c,
         (sv - ((n*sdv - sd*sv) / (n*sdd - sd*sd)) * sd) / n AS icept_c,
         dmax
  FROM s)
SELECT event_type, n_days,
       ROUND(slope_c / 100, 2) AS slope_per_day,
       ROUND((icept_c + slope_c * (dmax + 1)) / 100, 2) AS forecast_next_day
FROM f
"""


@register("q_agg_trend_forecast", oracle=_FORECAST_ORACLE)
def q_agg_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear trend forecast per event type: daily value totals in
    exact integer CENTS regressed on the day index, then extrapolated
    one day past the observed range — naive-forecasting as a pure
    aggregate. Same exact-sufficient-statistics discipline as
    q_agg_corr_regr: every sum is an exact integer (< 2^53, lossless
    double cast), the closed forms evaluate identical expression trees
    in both engines, and rounding happens once at presentation. One
    groupBy chain, partial-aggregable; the 'model' per group is 6
    numbers — the cheapest possible distributed training loop."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc"))
    from pyspark.sql import Window

    idx = daily.withColumn(
        "d",
        F.datediff(
            "day", F.min("day").over(Window.partitionBy("event_type"))
        ).cast("long"),
    )
    s = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("d").cast("double").alias("sd"),
        F.sum("vc").cast("double").alias("sv"),
        F.sum(F.col("d") * F.col("vc")).cast("double").alias("sdv"),
        F.sum(F.col("d") * F.col("d")).cast("double").alias("sdd"),
        F.max("d").cast("double").alias("dmax"),
        F.count(F.lit(1)).alias("n_days"),
    )
    n, sd, sv = F.col("n"), F.col("sd"), F.col("sv")
    sdv, sdd = F.col("sdv"), F.col("sdd")
    slope_c = (n * sdv - sd * sv) / (n * sdd - sd * sd)
    f = s.select(
        "event_type",
        "n_days",
        slope_c.alias("slope_c"),
        ((sv - slope_c * sd) / n).alias("icept_c"),
        "dmax",
    )
    return f.select(
        "event_type",
        "n_days",
        F.round(F.col("slope_c") / 100, 2).alias("slope_per_day"),
        F.round(
            (F.col("icept_c") + F.col("slope_c") * (F.col("dmax") + 1)) / 100, 2
        ).alias("forecast_next_day"),
    )
