"""Alternating large-star/small-star connected components — the
O(log^2 n)-round CC algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14), as pure DataFrame joins.

This is the SCALE path promised by q_graph_cc's convergence error message:
min-label propagation needs O(diameter) rounds (a 100 TB web-ish graph can
have diameter in the hundreds), while star contraction needs O(log^2 n)
rounds regardless of diameter. Same oracle as q_graph_cc (the fixture
hierarchy's components are its regions); the algorithm itself is fully
general.

Per round: two groupBy-min shuffles keyed by node (large-star on the
symmetric edge view, small-star on the high->low orientation), both
partial-aggregable; lineage cut per round by ``materialize.fixpoint`` so
plans stay O(1). Convergence = the oriented edge set reaches a fixpoint
(count + per-edge xor-hash compare — one scalar aggregate, no collect of
edges). A final consistency guard re-joins the ORIGINAL edges and raises
if any edge straddles two labels."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .graph import _edges
from ..materialize import fixpoint, lazy_cut

STAR_ROUND_CAP = 12


def _oriented(e: DataFrame) -> DataFrame:
    """Canonical (hi, lo) orientation, self-loops dropped, distinct."""
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u (on the hi->lo orientation): connect u and all its
    smaller neighbors to min(N⁻(u) ∪ {u})."""
    o = _oriented(e)
    m = o.groupBy("src").agg(F.min("dst").alias("m"))
    lower = (
        o.join(m, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = m.select("src", F.col("m").alias("dst"))
    return lower.unionByName(self_edge)


def _edge_digest(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent, overflow-free under ANSI mode
        # (edges are distinct, so xor is a faithful set digest)
        F.coalesce(
            F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def star_fixpoint(edges: DataFrame, what: str) -> DataFrame:
    """Run alternating large-star/small-star contraction on ``edges`` to
    its edge fixpoint and return the fixpoint edge set (every edge is
    then node -> its component min). Shared by the four CC consumers
    (q_graph_cc_stars, q_dedup_clusters, q_dedup_embed_clusters,
    dedup_pipeline._cluster_labels).

    Converged when the (count, xor) digest of the edge set repeats; the
    digest is each round's one action. At most STAR_ROUND_CAP rounds."""
    e = _oriented(edges).transform(lazy_cut)
    prev = _edge_digest(e)  # one job: checkpoint blocks + digest
    if prev[0] == 0:  # no edges
        return e

    def repeats(e: DataFrame) -> bool:
        nonlocal prev
        last, prev = prev, _edge_digest(e)
        return prev == last

    return fixpoint(
        e,
        lambda e: _oriented(_small_star(_large_star(e))),
        repeats,
        cap=STAR_ROUND_CAP,
        what=f"{what}: star contraction",
    )


@register(
    "q_graph_cc_stars",
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
def q_graph_cc_stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction; component id = min node id (region keys are globally
    minimal in the fixture, so the oracle is the region hierarchy)."""
    region = load_table(spark, sf_dir, "region")
    e0 = _edges(spark, sf_dir)
    e = star_fixpoint(e0, "q_graph_cc_stars")
    # At the fixpoint every edge is (node -> its component min): a star.
    star = e.select(F.col("src").alias("node_id"), F.col("dst").alias("component"))
    roots = e.select("dst").distinct().select(
        F.col("dst").alias("node_id"), F.col("dst").alias("component")
    )
    nodes = (
        e0.select(F.col("src").alias("node_id"))
        .union(e0.select("dst"))
        .union(region.select(F.col("r_regionkey").cast("long")))
        .distinct()
    )
    labels = (
        nodes.join(star.unionByName(roots), "node_id", "left")
        .select(
            "node_id",
            F.coalesce("component", "node_id").alias("component"),
        )
        # consumed twice (guard count below + returned result): the
        # guard's count materializes the lazy cut, the returned plan
        # reads the blocks instead of recomputing the 3-scan node union
        .transform(lazy_cut)
    )
    # Consistency guard: no ORIGINAL edge may straddle two labels.
    la = labels.select(
        F.col("node_id").alias("src"), F.col("component").alias("ca")
    )
    lb = labels.select(
        F.col("node_id").alias("dst"), F.col("component").alias("cb")
    )
    bad = (
        e0.join(la, "src").join(lb, "dst")
        .filter(F.col("ca") != F.col("cb"))
        .count()
    )
    if bad:
        raise RuntimeError(f"star CC inconsistent on {bad} edges")
    return labels
