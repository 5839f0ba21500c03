"""Graph batch 3: k-core decomposition (iterative peel) on the part
co-purchase graph, and customer-similarity Jaccard over the bipartite
customer->part incidence."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..registry import register, register_layout
from ..scratch import build_once
from ..widths import wedge_width
from ..materialize import count_rows, fixpoint, lazy_cut, materialize

K_CORE = 4
KCORE_ROUND_CAP = 50

@register_layout("copurchase_edges", r"q_graph")
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected distinct part-pair edges (parts sharing an order),
    materialized ONCE per process as parquet and re-read by every
    consumer (triangles, assortativity, SSSP, k-core).

    The derivation is an order-key self-join + distinct — the single
    most expensive shared intermediate in the graph family. Before
    materialization each consumer re-derived it per *branch* (triangles
    alone consumed it 3x), multiplying the dominant shuffle; measured at
    sf0.1 the write costs ~3 s once and turns every subsequent use into
    a sub-second 2-column parquet scan. This is the SCALE.md fan-out
    rule applied across queries: a derived relation consumed by many
    analytics gets written once, exactly like a production feature/edge
    table (at 100 TB, bucketed by pa so the wedge joins also skip their
    shuffle)."""

    def write(out: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
        b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
        wide = wedge_width(spark)  # wedge-width rule (SCALE.md)
        (
            a.repartition(wide, "l_orderkey")
            .join(b.repartition(wide, "l_orderkey"), "l_orderkey")
            .filter(F.col("pa") < F.col("pb"))
            .select("pa", "pb")
            .distinct()
            .write.parquet(out)
        )

    return read_parquet(
        spark,
        build_once("copurchase_edges", sf_dir, write, sources=("lineitem",)),
    )


@register_layout("triangle_list", r"q_graph")
def triangle_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All id-oriented triangles (x < y < z) of the co-purchase graph,
    materialized ONCE per process and shared by q_graph_triangles and
    q_graph_clustering_coeff — the wedge double-join is the graph
    family's second expensive shared intermediate after the edge list
    itself (~1.9M triangle rows / ~50M wedge intermediates at sf0.1),
    so enumerating it once halves the cost of every triangle consumer.
    Same plan-local width-96 note as q_graph_triangles (SCALE.md)."""

    def write(out: str) -> None:
        pairs = _copurchase_edges(spark, sf_dir)
        wide = wedge_width(spark)
        e1 = pairs.select(F.col("pa").alias("x"), F.col("pb").alias("y"))
        e2 = pairs.select(F.col("pa").alias("y"), F.col("pb").alias("z"))
        e3 = pairs.select(F.col("pa").alias("x"), F.col("pb").alias("z"))
        wedges = e1.repartition(wide, "y").join(
            e2.repartition(wide, "y"), "y"
        )
        tri = wedges.repartition(wide, "x", "z").join(
            e3.repartition(wide, "x", "z"), ["x", "z"]
        )
        tri.select("x", "y", "z").write.parquet(out)

    return read_parquet(
        spark,
        build_once("triangle_list", sf_dir, write, sources=("lineitem",)),
    )


@register("q_graph_kcore", oracle=None)  # rows-only: iterative fixpoint
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=4): repeatedly peel nodes with degree < k
    until every survivor has >= k neighbors inside the survivor set —
    the standard graph-mining density filter (community seeds, spam
    cores). Each round is one degree aggregate + one semi join, both
    keyed by node; lineage truncated per round; the node count is
    monotone decreasing so convergence is <= |V| rounds (tens in
    practice — capped with an error, same contract as the CC loops).
    Not SQL-expressible without recursion over aggregates (beyond
    DuckDB's recursive-UNION restrictions), so rows-only; the k-core
    INVARIANTS (min degree >= k inside the core; peeled nodes cannot
    re-qualify) are asserted in tests/test_kcore.py."""
    e0 = _copurchase_edges(spark, sf_dir)  # materialized parquet
    sym = e0.unionByName(
        e0.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    return core_degrees(sym).select(
        F.col("pa").alias("part_id"), F.col("deg").alias("core_deg")
    )


def core_degrees(sym: DataFrame) -> DataFrame:
    """(pa, deg): each K_CORE-core node of the symmetric edge set
    ``sym(pa, pb)`` with its degree inside the core."""

    def degrees(edges: DataFrame) -> DataFrame:
        return edges.groupBy("pa").agg(F.count(F.lit(1)).alias("deg"))

    def peel(deg: DataFrame) -> DataFrame:
        """Degrees of the edges between the nodes that survive ``deg``:
        a peeled node takes its edges with it, so the edge set of round
        r is ``sym`` restricted to round r's survivors."""
        keep = deg.filter(F.col("deg") >= K_CORE).select("pa")
        keep_b = keep.select(F.col("pa").alias("pb"))
        return degrees(
            sym.join(keep, "pa", "left_semi").join(keep_b, "pb", "left_semi")
        )

    def is_core(deg: DataFrame) -> bool:
        return count_rows(deg.filter(F.col("deg") < K_CORE)) == 0

    # the whole graph is often a core already: test it before peeling
    core = degrees(sym).transform(lazy_cut)
    if is_core(core):
        return core
    return fixpoint(core, peel, is_core, cap=KCORE_ROUND_CAP, what="k-core peel")


@register(
    "q_graph_node_jaccard",
    oracle="""
WITH basket AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
deg AS (SELECT cust, CAST(COUNT(*) AS BIGINT) AS d
        FROM basket GROUP BY cust),
wedge AS (
  SELECT x.cust AS u, y.cust AS v, CAST(COUNT(*) AS BIGINT) AS common
  FROM basket x JOIN basket y ON x.part = y.part AND x.cust < y.cust
  GROUP BY 1, 2)
SELECT u, v, common,
       ROUND(common * 1.0 / (du.d + dv.d - common), 4) AS jaccard
FROM wedge
JOIN deg du ON du.cust = u
JOIN deg dv ON dv.cust = v
WHERE common >= 5
ORDER BY common * 1.0 / (du.d + dv.d - common) DESC, u, v
LIMIT 50
""",
)
def q_graph_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer similarity by purchased-part-set Jaccard (top-50 pairs
    with >= 5 common parts) — the collaborative-filtering neighbor
    computation, via the inverted-index wedge join on the shared part.

    Graph-shape note (probed, recorded here deliberately): the obvious
    alternative — neighbor Jaccard on the part co-PURCHASE graph — is
    infeasible at sf0.1 and beyond: that graph's MEDIAN degree is ~119
    (min > 30), so the wedge through shared neighbors is sum(deg^2) ~
    298M rows and OOMs a default driver. The bipartite customer->part
    relation is the naturally sparse encoding of the same information
    (per-part customer lists are ~15 long; wedge = sum over parts of
    that squared ~ 4.5M). Choosing WHICH incidence to wedge through is
    the real scale decision for set-similarity on graphs. Jaccard is a
    ratio of exact ints; (u, v) tiebreaks pin the top-k."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    basket = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        .transform(materialize)
    )
    deg = basket.groupBy("cust").agg(F.count(F.lit(1)).alias("d"))
    # repartition BEFORE aliasing the two self-join sides: the two
    # exchange subtrees are then byte-identical, so ReuseExchange ships
    # the basket over the wire once instead of twice (aliasing first
    # made the exchanges differ by projection and defeated the reuse)
    wide = wedge_width(spark)
    bp = basket.repartition(wide, "part")
    x = bp.select(F.col("cust").alias("u"), "part")
    y = bp.select(F.col("cust").alias("v"), "part")
    wedge = (
        x.join(y, "part")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 5)
    )
    du = deg.select(F.col("cust").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("cust").alias("v"), F.col("d").alias("dv"))
    jac = F.col("common") * 1.0 / (F.col("du") + F.col("dv") - F.col("common"))
    return (
        wedge.join(du, "u")
        .join(dv, "v")
        .select(
            "u", "v", "common",
            jac.alias("_j"), F.round(jac, 4).alias("jaccard"),
        )
        .orderBy(F.desc("_j"), "u", "v")
        .limit(50)
        .select("u", "v", "common", "jaccard")
    )
