"""Graph analytics over derived edge sets (SURVEY §2.C north star: the
reference's RDF triples form a graph; BASELINE.json names GraphX-style
analytics the growth path — SURVEY §1.5 maps triples to vertex/edge
DataFrames).

Graph model (FIXTURES.md): the customer→nation→region hierarchy plus
supplier→nation gives a directed forest with numeric node ids in disjoint
ranges (region = key, nation = 10+key, customer = 1000+key, supplier =
1_000_000+key); a part co-purchase graph (parts sharing an order) supplies
a cyclic graph for triangle counting.

GraphFrames is not assumed present (SURVEY §7.4): connected components is
a hand-rolled iterative min-label propagation in pure DataFrame joins —
the same shape GraphX's Pregel iterations lower to. Scale notes: each
iteration is one join+aggregate shuffle keyed by node; lineage is cut
per iteration by ``materialize.fixpoint`` so plans don't grow; iteration
count is O(graph diameter), capped at CC_ROUND_CAP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..materialize import count_rows, fixpoint, materialize

CC_ROUND_CAP = 10

_EDGES_SQL = """
edges AS (
  SELECT 1000 + c_custkey AS src, 10 + c_nationkey AS dst FROM customer
  UNION ALL
  SELECT 1000000 + s_suppkey, 10 + s_nationkey FROM supplier
  UNION ALL
  SELECT 10 + n_nationkey, CAST(n_regionkey AS BIGINT) FROM nation)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.select(
            (F.lit(1000) + F.col("c_custkey")).alias("src"),
            (F.lit(10) + F.col("c_nationkey")).cast("long").alias("dst"),
        )
        .unionByName(
            supp.select(
                (F.lit(1000000) + F.col("s_suppkey")).alias("src"),
                (F.lit(10) + F.col("s_nationkey")).cast("long").alias("dst"),
            )
        )
        .unionByName(
            nation.select(
                (F.lit(10) + F.col("n_nationkey")).cast("long").alias("src"),
                F.col("n_regionkey").cast("long").alias("dst"),
            )
        )
    )


@register(
    "q_graph_degree",
    oracle=f"""
WITH {_EDGES_SQL},
o AS (SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src),
i AS (SELECT dst AS node_id, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY dst)
SELECT COALESCE(o.node_id, i.node_id) AS node_id,
       COALESCE(o.d, 0) AS out_deg, COALESCE(i.d, 0) AS in_deg
FROM o FULL JOIN i ON o.node_id = i.node_id
""",
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In/out degree per node — the GraphFrames inDegrees/outDegrees
    semantics as two group-by counts + full outer merge."""
    e = _edges(spark, sf_dir)
    out_d = e.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = e.groupBy(F.col("dst").alias("node_id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "node_id", "full_outer")
        .select(
            "node_id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


@register(
    "q_graph_cc",
    oracle="""
SELECT 1000 + c_custkey AS node_id, CAST(n_regionkey AS BIGINT) AS component
FROM customer JOIN nation ON c_nationkey = n_nationkey
UNION ALL
SELECT 1000000 + s_suppkey, CAST(n_regionkey AS BIGINT)
FROM supplier JOIN nation ON s_nationkey = n_nationkey
UNION ALL
SELECT 10 + n_nationkey, CAST(n_regionkey AS BIGINT) FROM nation
UNION ALL
SELECT CAST(r_regionkey AS BIGINT), CAST(r_regionkey AS BIGINT) FROM region
""",
)
def q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components: min-label propagation over undirected
    edges to a fixpoint (:func:`min_label_fixpoint`). Component id = min
    node id in the component — which the oracle derives non-iteratively
    from the known hierarchy (every node's component is its region's id,
    since region ids are globally minimal). The algorithm is fully
    general; a graph whose diameter exceeds CC_ROUND_CAP needs
    q_graph_cc_stars instead."""
    region = load_table(spark, sf_dir, "region")
    e_dir = _edges(spark, sf_dir)
    e = e_dir.unionByName(
        e_dir.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(materialize)  # loop invariant: one materialization, not one
    # union-of-parquet-scans replan per round (guide §2.4)
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .union(e.select("dst"))
        .union(region.select(F.col("r_regionkey").cast("long")))
        .distinct()
    )
    labels = nodes.select(
        "node_id", F.col("node_id").alias("component")
    ).transform(materialize)  # round 1 otherwise recomputes the distinct twice
    return min_label_fixpoint(
        labels, e, cap=CC_ROUND_CAP, what="connected components"
    )


def min_merge(cur: DataFrame, cand: DataFrame) -> DataFrame:
    """``cur(key, v, ...)`` (one row per key) ∪ ``cand(key, v)`` folded
    to the min ``v`` per key, carrying the previous ``v`` as ``old``
    (null for a new key), so the change test needs no join back to
    ``cur``. Per-round DataFrame count matters here: each one is a
    driver-side analysis."""
    key, v = cur.columns[:2]
    return (
        cur.select(key, v, F.col(v).alias("old"))
        .unionByName(cand, allowMissingColumns=True)
        .groupBy(key)
        .agg(F.min(v).alias(v), F.max("old").alias("old"))
    )


def improved(merged: DataFrame) -> DataFrame:
    """The :func:`min_merge` rows whose value is new or lower."""
    v = merged.columns[1]
    return merged.filter(F.col("old").isNull() | (F.col(v) < F.col("old")))


def min_label_fixpoint(
    labels: DataFrame, edges: DataFrame, *, cap: int, what: str, hop: int = 0
) -> DataFrame:
    """Relax ``labels(node, label)`` along ``edges(src, dst)`` (column
    names distinct from the labels') until no label improves: each round
    every ``dst`` takes the min of its label and ``label(src) + hop``
    over its in-edges (a node without a label gains one). ``hop=0`` is
    min-label propagation (CC, SCC coloring), ``hop=1`` is BFS levels.
    ``edges`` is joined every round: cut it."""
    node, lab = labels.columns
    src, dst = edges.columns
    reach = F.col(lab) + hop if hop else F.col(lab)

    def step(cur: DataFrame) -> DataFrame:
        cand = edges.join(cur, F.col(src) == F.col(node)).select(
            F.col(dst).alias(node), reach.alias(lab)
        )
        return min_merge(cur, cand)

    out = fixpoint(
        labels, step, lambda m: count_rows(improved(m)) == 0, cap=cap, what=what
    )
    return out.select(node, lab)


_TRIANGLE_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM pairs e1
JOIN pairs e2 ON e1.pb = e2.pa
JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


@register("q_graph_triangles", oracle=_TRIANGLE_ORACLE)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph (parts sharing an
    order). Ordered-id edge orientation (a<b) counts each triangle once
    via the canonical e1(a,b)⋈e2(b,c)⋈e3(a,c) double join — the classic
    distributed formulation; degree-based orientation keeps the path
    explosion bounded by heavy-hitter degree."""
    from .graph_ext3 import triangle_list

    # Orientation note (measured): id-ordered orientation (a<b) does the
    # canonical wedge join in ~13 s at sf0.1. A degree-based orientation
    # (orient toward higher degree — the O(sqrt m) heavy-hitter bound)
    # was tried and measured 2.5x SLOWER here: this co-purchase graph has
    # near-uniform degrees (~4 parts/order), so the two extra degree
    # joins cost more than the wedge bound saves. Keep id-orientation;
    # switch to degree-orientation only for power-law edge sets.
    # The wedge join materializes ~50M intermediate rows at sf0.1; at the
    # session default of 32 shuffle partitions that's ~1.5M rows/task and
    # the tasks GC-thrash (measured 48 s; 10 s at 96+ on local[32]). The wedge joins
    # (width = widths.wedge_width, 3x cluster cores) live in
    # graph_ext3.triangle_list, materialized once per process and shared
    # with q_graph_clustering_coeff.
    return triangle_list(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


_PR_MAX_ROUNDS = 8
_PR_TOL = 1e-9  # max per-node rank delta; well under the 6-dp rounding


@register("q_graph_pagerank", oracle=None)  # rows-only: iterative float
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85) over the hierarchy edges — the Pregel-style
    iterate-join-aggregate loop in pure DataFrames, with a rank-delta
    convergence exit (same contract as q_graph_cc's changed-count): the
    loop stops once max|rank−prev| < tol, capped at 8 rounds. On this
    near-forest hierarchy ranks stabilize in ~diameter rounds, so the
    exit typically halves the iteration count; the delta check is one
    co-keyed join+max per round, far cheaper than the round it saves.
    Float contribution sums are partition-order dependent at ~1e-13, so
    ranks round to 6 dp and the check is rows-only."""
    e = _edges(spark, sf_dir)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Loop invariants materialized ONCE (guide §2.4): without the
    # checkpoints each round replans and re-executes the parquet scans,
    # the degree aggregate + edge join (e_w) and the union+distinct
    # (nodes) — measured 2 extra exchanges per round at sf0.1 and the
    # same re-scan pattern at any scale. GraphX caches the edge RDD for
    # exactly this reason.
    e_w = e.join(out_deg, "src").transform(materialize)
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .union(e.select("dst"))
        .distinct()
        .transform(materialize)
    )
    n_nodes = nodes.count()
    ranks = nodes.select(
        "node_id", F.lit(1.0 / n_nodes).alias("rank")
    ).transform(materialize)
    for _ in range(_PR_MAX_ROUNDS):
        contribs = (
            e_w.join(ranks, e_w.src == ranks.node_id)
            .select(
                F.col("dst").alias("node_id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node_id")
            .agg(F.sum("c").alias("c"))
        )
        # ranks always holds every node (initialized from nodes and
        # rebuilt over the same key set each round), so left-joining
        # contribs onto ranks replaces BOTH the nodes join and the
        # separate delta join: one join per round instead of two, and
        # the convergence check reads the checkpointed step result.
        stepped = (
            ranks.select("node_id", F.col("rank").alias("prev"))
            .join(contribs, "node_id", "left")
            .select(
                "node_id",
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
                "prev",
            )
            .transform(materialize)
        )
        delta = (
            stepped.agg(
                F.max(F.abs(F.col("rank") - F.col("prev"))).alias("d")
            ).first()["d"]
        )
        ranks = stepped.select("node_id", "rank")
        if delta is not None and delta < _PR_TOL:
            break
    return ranks.select("node_id", F.round("rank", 6).alias("rank"))
