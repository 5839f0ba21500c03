"""Eighth graph batch: eccentricity census via simultaneous
multi-source BFS on the session-transition digraph.

Lineage: the distance-distribution analysis (how far is every state
from every other state?) that complements the engine's single-source
walks (q_graph_bfs, q_graph_sssp). All sources run AT ONCE as one
(source, node) frontier relation — the DataFrame-native way to get
all-pairs shortest distances on a domain-bounded graph without |V|
sequential BFS jobs. The oracle is an independent recursive-CTE
walk with a length cap + MIN fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..materialize import materialize, semi_naive
from .graph_ext7 import _DIGRAPH_SQL, _digraph

_ECC_MAX_ROUNDS = 12


def _all_pairs_dists(ed: DataFrame) -> DataFrame:
    """Simultaneous multi-source BFS over edge list ``ed(a, b)``:
    returns the (s, d, l, sigma) shortest-distance relation for every
    ordered reachable pair (including s=d rows only when a cycle
    returns to s), where ``sigma`` is the GEODESIC COUNT — the number
    of distinct shortest s→d paths, accumulated layer-by-layer exactly
    as in Brandes' forward pass: a pair first discovered at round r
    sums the sigmas of all its layer-(r-1) predecessors (any shorter
    predecessor would have discovered the pair earlier, so the
    anti-join guarantees only true geodesic prefixes contribute).
    First discovery = shortest distance (BFS layer order); raises if a
    pair is still first discovered after {_ECC_MAX_ROUNDS} hops (silent
    truncation would under-report distances). Shared by the
    eccentricity, closeness, and betweenness censuses."""
    first = ed.select(
        F.col("a").alias("s"),
        F.col("b").alias("d"),
        F.lit(1).alias("l"),
        F.lit(1).cast("long").alias("sigma"),
    ).transform(materialize)

    def expand(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(ed, frontier.d == ed.a)
            .groupBy("s", F.col("b").alias("d"), (F.col("l") + 1).alias("l"))
            .agg(F.sum("sigma").alias("sigma"))
        )

    # layer 1 is `first`, so the cap's rounds cover hops 2 .. cap + 1;
    # a non-empty hop cap + 1 raises
    return semi_naive(
        first,
        expand,
        ["s", "d"],
        cap=_ECC_MAX_ROUNDS,
        what="multi-source BFS",
    )


@register(
    "q_graph_eccentricity",
    oracle=f"""
WITH RECURSIVE {_DIGRAPH_SQL},
vs AS (
  SELECT DISTINCT v
  FROM (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed) u),
walk(s, d, l) AS (
  SELECT a, b, 1 FROM ed
  UNION
  SELECT w.s, e2.b, w.l + 1
  FROM walk w JOIN ed e2 ON e2.a = w.d
  WHERE w.l < {_ECC_MAX_ROUNDS}),
sp AS (
  SELECT s, d, CAST(MIN(l) AS BIGINT) AS dist
  FROM walk WHERE s <> d GROUP BY s, d)
SELECT vs.v AS node,
       CAST(MAX(sp.dist) AS BIGINT) AS ecc,
       CAST(COUNT(sp.d) AS BIGINT) AS n_reachable
FROM vs LEFT JOIN sp ON sp.s = vs.v
GROUP BY vs.v
""",
)
def q_graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity census: for every state node, the longest shortest
    path to any other reachable state (its eccentricity) and how many
    states it reaches — MAX over rows gives the graph diameter, MIN
    the radius, and sinks report NULL/0. Computed as a simultaneous
    multi-source BFS: the frontier is a (source, node) PAIR relation
    expanded one hop per round against the edge list, with first
    discovery = shortest distance (BFS layer order), known-pair
    anti-join preventing re-expansion, and a raise if the cap of
    {_ECC_MAX_ROUNDS} rounds still yields new pairs (silent truncation
    would under-report eccentricities).

    Scale: each round is one equi-join + anti-join + distinct, all
    hash-partitioned on the pair key; the pair relation is bounded by
    |V|² of the DOMAIN-bounded state graph (event_type x hour). For
    billion-node graphs all-pairs is the wrong question — sample
    sources instead (the same code runs unchanged on a sampled source
    set, which is how q_graph_bfs scales).
    """
    ed = _digraph(spark, sf_dir).transform(materialize)
    vs = (
        ed.select(F.col("a").alias("v")).union(ed.select("b")).distinct()
    )
    known = _all_pairs_dists(ed)
    sp = known.filter(F.col("s") != F.col("d"))
    per_src = sp.groupBy("s").agg(
        F.max("l").cast("long").alias("ecc"),
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
    )
    return (
        vs.join(per_src, vs.v == per_src.s, "left")
        .select(
            F.col("v").alias("node"),
            "ecc",
            F.coalesce("n_reachable", F.lit(0)).alias("n_reachable"),
        )
    )


@register(
    "q_graph_triad_types",
    oracle=f"""
WITH {_DIGRAPH_SQL},
cyc AS (
  SELECT COUNT(*) AS n
  FROM ed e1 JOIN ed e2 ON e2.a = e1.b
             JOIN ed e3 ON e3.a = e2.b AND e3.b = e1.a
  WHERE e1.a < e1.b AND e1.a < e2.b),
tra AS (
  SELECT COUNT(*) AS n
  FROM ed e1 JOIN ed e2 ON e2.a = e1.b
             JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
  WHERE e1.a <> e2.b)
SELECT CAST(cyc.n AS BIGINT) AS n_cyclic,
       CAST(tra.n AS BIGINT) AS n_transitive
FROM cyc, tra
""",
)
def q_graph_triad_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed triad census (the two closed types): CYCLIC triangles
    a→b→c→a (counted once by rotating the minimum node first) and
    TRANSITIVE closures a→b→c with the a→c shortcut present (each
    ordered triple once) — the cyclic/transitive ratio is the classic
    hierarchy-vs-feedback diagnostic for directed networks, sharpening
    what the undirected q_graph_triangles count can't see.

    Scale: the same two-hop wedge join as triangle counting (join
    paths a→b→c, close with the third edge), all equi-joins on edge
    endpoints; degree-orientation / df-cap hub guards (graph.py:175)
    apply to the wedge stream unchanged.
    """
    ed = _digraph(spark, sf_dir).transform(materialize)
    e1 = ed.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = ed.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3c = ed.select(F.col("a").alias("z2"), F.col("b").alias("x2"))
    cyc = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(
            e3c,
            (F.col("z") == F.col("z2")) & (F.col("x") == F.col("x2")),
        )
        .filter((F.col("x") < F.col("y")) & (F.col("x") < F.col("z")))
        .agg(F.count(F.lit(1)).alias("n_cyclic"))
    )
    e3t = ed.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tra = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(
            e3t,
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
        .filter(F.col("x") != F.col("z"))
        .agg(F.count(F.lit(1)).alias("n_transitive"))
    )
    return cyc.crossJoin(F.broadcast(tra))
