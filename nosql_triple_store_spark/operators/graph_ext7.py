"""Seventh graph batch: resource-allocation link prediction and
strongly connected components, both on the session-transition digraph
(nodes = event_type@hour states, edges = consecutive-event transitions
per user — the q_events_markov / q_graph_reciprocity graph family).

Lineage: the two classic digraph analyses still missing from the
engine's graph suite. Link prediction scores non-adjacent node pairs
by their shared neighborhood (Zhou-Lü-Zhang resource allocation index
Σ 1/deg(z) — chosen over Adamic-Adar's Σ 1/ln deg(z) because the RA
sum is computed here in EXACT integer ppm, so the oracle matches
bit-for-bit with no float-summation hazard). SCC uses the iterative
forward/backward min-label coloring that underlies every
Pregel-without-Pregel SCC implementation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..materialize import count_rows, fixpoint, lazy_cut, materialize
from .graph import min_label_fixpoint

# transition digraph, distinct non-loop directed edges (a, b): strings
_DIGRAPH_SQL = """
ev AS (
  SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts,
         event_type || '@' || CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP))
                                    AS VARCHAR) AS node
  FROM events),
tr AS (
  SELECT u, node AS a,
         LEAD(node) OVER (PARTITION BY u ORDER BY ts) AS b
  FROM ev),
ed AS (
  SELECT DISTINCT a, b FROM tr WHERE b IS NOT NULL AND a <> b)
"""


def _digraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct non-loop directed (a, b) transition edges."""
    ev = load_table(spark, sf_dir, "events")
    node = F.concat_ws("@", F.col("event_type"), F.hour("ts").cast("string"))
    nodes = ev.select(F.col("user_id").alias("u"), "ts", node.alias("node"))
    w = Window.partitionBy("u").orderBy("ts")
    return (
        nodes.select(
            F.col("node").alias("a"), F.lead("node").over(w).alias("b")
        )
        .filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
    )


@register(
    "q_graph_link_predict",
    oracle=f"""
WITH {_DIGRAPH_SQL},
und AS (
  SELECT LEAST(a, b) AS lo, GREATEST(a, b) AS hi FROM ed GROUP BY 1, 2),
half AS (
  SELECT lo AS z, hi AS other FROM und
  UNION ALL
  SELECT hi, lo FROM und),
deg AS (SELECT z AS v, CAST(COUNT(*) AS BIGINT) AS d FROM half GROUP BY 1),
wedge AS (
  SELECT u1.other AS x, u2.other AS y, u1.z
  FROM half u1 JOIN half u2 ON u1.z = u2.z AND u1.other < u2.other),
cand AS (
  SELECT w.x, w.y, CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(1000000 // deg.d) AS BIGINT) AS ra_ppm
  FROM wedge w JOIN deg ON deg.v = w.z
  GROUP BY 1, 2)
SELECT c.x AS lo, c.y AS hi, c.n_common, c.ra_ppm
FROM cand c LEFT JOIN und ON und.lo = c.x AND und.hi = c.y
WHERE und.lo IS NULL AND c.n_common >= 2
""",
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by resource-allocation index: for every
    NON-adjacent node pair sharing >= 2 neighbors in the undirected
    transition graph, score RA(x,y) = Σ_z 1/deg(z) over common
    neighbors z — the edges most likely to appear next. The per-hub
    weight is the exact integer 1000000 div deg(z), so the score is an
    order-free integer sum both engines reproduce bit-for-bit (the
    reason RA was chosen over Adamic-Adar's irrational 1/ln d).

    Scale: the wedge join is the triangle-counting shape
    (q_graph_triangles): group half-edges by hub z, pair neighbors.
    Hub fanout is C(deg,2); on power-law graphs the df-cap /
    degree-orientation guards from dedup.py:65 / graph.py:175 apply
    unchanged — here the node domain (event_type x hour) bounds deg.
    The candidate anti-join against existing edges is an equi-join on
    the pair key, broadcast when the edge list is small.
    """
    und = (
        _digraph(spark, sf_dir)
        .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
        .distinct()
    )
    half = und.select(F.col("lo").alias("z"), F.col("hi").alias("other")).unionByName(
        und.select(F.col("hi").alias("z"), F.col("lo").alias("other"))
    )
    deg = half.groupBy(F.col("z").alias("v")).agg(F.count(F.lit(1)).alias("d"))
    u1, u2 = half.alias("u1"), half.alias("u2")
    wedge = u1.join(
        u2,
        (F.col("u1.z") == F.col("u2.z"))
        & (F.col("u1.other") < F.col("u2.other")),
    ).select(
        F.col("u1.other").alias("x"),
        F.col("u2.other").alias("y"),
        F.col("u1.z").alias("z"),
    )
    cand = (
        wedge.join(deg, wedge.z == deg.v)
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("1000000 div d")).alias("ra_ppm"),
        )
    )
    return (
        cand.join(
            und,
            (cand.x == und.lo) & (cand.y == und.hi),
            "left_anti",
        )
        .filter(F.col("n_common") >= 2)
        .select(
            F.col("x").alias("lo"),
            F.col("y").alias("hi"),
            "n_common",
            "ra_ppm",
        )
    )


SCC_OUTER_CAP = 20
SCC_INNER_CAP = 15


@register(
    "q_graph_scc",
    oracle=f"""
WITH RECURSIVE {_DIGRAPH_SQL},
vs AS (
  SELECT DISTINCT v
  FROM (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed) u),
reach(s, d) AS (
  SELECT a, b FROM ed
  UNION
  SELECT r.s, e2.b FROM reach r JOIN ed e2 ON r.d = e2.a),
mut AS (
  SELECT r1.s AS u, r1.d AS v
  FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s),
scc AS (
  SELECT vs.v AS node,
         LEAST(vs.v, COALESCE(MIN(m.v), vs.v)) AS scc_id
  FROM vs LEFT JOIN mut m ON m.u = vs.v
  GROUP BY vs.v)
SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MAX(node) AS max_node
FROM scc GROUP BY scc_id
""",
)
def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the transition digraph by
    iterative forward/backward min-label coloring: propagate the
    minimum reachable label along out-edges (F) and in-edges (B) to
    fixpoint; every node with F(u) == B(u) == m is in SCC(m) (m reaches
    u and u reaches m, and m is provably the SCC's minimum member);
    assign those, delete them, repeat on the remainder. Deleting whole
    SCCs never splits another SCC, so each outer round is sound. SCC
    id = min member label, which the oracle derives independently via a
    recursive transitive closure + mutual-reachability join.

    Scale: each coloring round is one join + hash-min aggregation, the
    q_graph_cc loop (graph.min_label_fixpoint). Outer rounds are bounded
    by the SCC condensation's depth in practice (real session graphs:
    1-3 giant SCCs plus stragglers). Both loops go through
    materialize.fixpoint, so a cap raises rather than silently
    under-merging.
    """
    edges0 = _digraph(spark, sf_dir).transform(materialize)
    nodes = (
        edges0.select(F.col("a").alias("node"))
        .union(edges0.select("b"))
        .distinct()
        .transform(materialize)
    )
    sccs: list[DataFrame] = []

    def peel(remaining: DataFrame) -> DataFrame:
        """Color the remaining subgraph both ways, record the SCCs it
        settles, and return the nodes still unassigned."""
        edges = (
            edges0.join(remaining.withColumnRenamed("node", "a"), "a")
            .join(remaining.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
            .transform(lazy_cut)  # read by every coloring round
        )
        labels = remaining.select("node", F.col("node").alias("lab"))
        fwd = min_label_fixpoint(
            labels, edges, cap=SCC_INNER_CAP, what="SCC label propagation"
        )
        bwd = min_label_fixpoint(
            labels,
            edges.select("b", "a"),
            cap=SCC_INNER_CAP,
            what="SCC label propagation",
        )
        scc = (
            fwd.alias("f")
            .join(bwd.alias("g"), "node")
            .filter(F.col("f.lab") == F.col("g.lab"))
            .select("node", F.col("f.lab").alias("scc_id"))
            .transform(lazy_cut)  # read by the anti-join and the result
        )
        sccs.append(scc)
        return remaining.join(scc, "node", "left_anti")

    fixpoint(
        nodes,
        peel,
        lambda remaining: count_rows(remaining) == 0,
        cap=SCC_OUTER_CAP,
        what="SCC coloring",
    )
    assigned = reduce(DataFrame.unionByName, sccs)
    return assigned.groupBy("scc_id").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("node").alias("max_node"),
    )


_WALK_STEPS = 4
_WALKS_PER_NODE = 2
_AFFINE = "((({key}) % 2147483648) * 2654435761 + 12345) % 4294967296"


def _walk_step_sql(prev: str, t: int) -> str:
    key = f"nid.id * 8191 + {t} * 131 + p.walk_id"
    return f"""
  SELECT p.start, p.walk_id,
         COALESCE(adj.b, p.node) AS node,
         p.path || '>' || COALESCE(adj.b, p.node) AS path
  FROM {prev} p
  JOIN nid ON nid.v = p.node
  LEFT JOIN deg ON deg.a = p.node
  LEFT JOIN adj ON adj.a = p.node
   AND adj.idx = ({_AFFINE.format(key=key)}) % deg.d"""


@register(
    "q_graph_random_walk",
    oracle=f"""
WITH {_DIGRAPH_SQL},
vs AS (SELECT a AS v FROM ed UNION SELECT b FROM ed),
nid AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS id FROM vs),
adj AS (
  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS idx
  FROM ed),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY a),
w0 AS (
  SELECT v AS start, CAST(w AS BIGINT) AS walk_id, v AS node, v AS path
  FROM vs CROSS JOIN (SELECT unnest(range({_WALKS_PER_NODE})) AS w) ws),
w1 AS ({_walk_step_sql("w0", 0)}),
w2 AS ({_walk_step_sql("w1", 1)}),
w3 AS ({_walk_step_sql("w2", 2)}),
w4 AS ({_walk_step_sql("w3", 3)})
SELECT start, walk_id, node AS end_node, path FROM w4
""",
)
def q_graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random walks ({_WALKS_PER_NODE} per node,
    {_WALK_STEPS} steps) over the transition digraph — the sampling
    stage of DeepWalk/node2vec-style graph embedding pipelines, made
    REPRODUCIBLE: at each step the walker picks neighbor index
    affine_hash(node_id*8191 + step*131 + walk_id) mod out-degree, so
    every engine and every rerun produces byte-identical walks (the
    same property q_train_shard_manifest gives corpus shuffles).
    Dead-end nodes self-absorb.

    Scale: the adjacency index (neighbor rank within each source node)
    is a per-node window bounded by out-degree; node ids come from
    sources/dictionary.assign_dense_ids — the two-pass
    range-partitioned assignment (per-partition rank + broadcast
    prefix offsets), so there is NO single-partition global window
    over the vertex set: the only global window is over P partition
    counts. Each step is one equi-join frontier × adjacency, the
    Pregel iteration shape; K steps = K joins, no driver-side state.
    """
    from ..sources.dictionary import assign_dense_ids

    ed = _digraph(spark, sf_dir).transform(materialize)
    vs = (
        ed.select(F.col("a").alias("v"))
        .union(ed.select("b"))
        .distinct()
    )
    # materialize the step-invariant sides once (each is consumed by
    # all _WALK_STEPS joins; without the checkpoint the id assignment
    # and adjacency window would be re-derived per step)
    nid = assign_dense_ids(vs, "v", id_col="id", start=0).transform(materialize)
    adj = ed.select(
        "a",
        "b",
        (
            F.row_number().over(Window.partitionBy("a").orderBy("b")) - 1
        ).alias("idx"),
    ).transform(materialize)
    deg = ed.groupBy("a").agg(F.count(F.lit(1)).alias("d")).transform(materialize)
    walks = spark.range(_WALKS_PER_NODE).select(
        F.col("id").alias("walk_id")
    )
    cur = vs.crossJoin(F.broadcast(walks)).select(
        F.col("v").alias("start"),
        "walk_id",
        F.col("v").alias("node"),
        F.col("v").alias("path"),
    )
    for t in range(_WALK_STEPS):
        key = f"__nid * 8191 + {t} * 131 + walk_id"
        nid_t = nid.select(
            F.col("v").alias("__nv"), F.col("id").alias("__nid")
        )
        deg_t = deg.select(
            F.col("a").alias("__da"), F.col("d").alias("__d")
        )
        adj_t = adj.select(
            F.col("a").alias("__aa"),
            F.col("b").alias("__ab"),
            F.col("idx").alias("__aidx"),
        )
        nxt = F.coalesce(F.col("__ab"), F.col("node"))
        cur = (
            cur.join(nid_t, F.col("node") == F.col("__nv"))
            .join(deg_t, F.col("node") == F.col("__da"), "left")
            .withColumn(
                "pick",
                F.expr(f"({_AFFINE.format(key=key)}) % __d"),
            )
            .join(
                adj_t,
                (F.col("node") == F.col("__aa"))
                & (F.col("pick") == F.col("__aidx")),
                "left",
            )
            .select(
                "start",
                "walk_id",
                nxt.alias("__next"),
                F.concat_ws(">", "path", nxt).alias("path"),
            )
            .withColumnRenamed("__next", "node")
        )
    return cur.select(
        "start", "walk_id", F.col("node").alias("end_node"), "path"
    )
