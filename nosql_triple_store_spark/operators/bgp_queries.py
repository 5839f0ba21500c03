"""The triple-pattern (BGP) family: every ``q_bgp_*`` registration and
the ``bgp_encoded_store`` layout they read.

The reference answers only (subject, ?, ?) lookups (SURVEY §3.1); these
run full conjunctive patterns as SPARQL text through
``plans.sparql.compile_sparql_encoded`` over the dictionary-encoded
store (the S2RDF design: constants encoded once, self-joins on ids,
decode only the final bindings). A ``q_bgp_*`` name that asks the same
question as a ``q_sparql_*`` query is registered there as its alias.
Two queries here leave that path on purpose: ``q_bgp_path_quantified``
(a bounded path's shortest hop count has no SPARQL 1.1 form) and
``q_bgp_aggregate`` (the star is the events table's own columns)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..plans.bgp import TRIPLE_SOURCES, TRIPLES_SQL, triples_view
from ..plans.sparql import compile_sparql_encoded
from ..registry import register, register_layout
from ..scratch import build_once
from ..sources.dictionary import build_dictionary, encode_triples
from .triple import E_CTE


@register_layout("bgp_encoded_store", r"q_bgp|q_sparql|q_stream_bgp")
def encoded_store(spark: SparkSession, sf_dir: str):
    """The dictionary-encoded triple store as scratch parquet, built
    ONCE per process and source state — the on-disk layout every serious
    RDF engine keeps (S2RDF/RDF-3X store encoded triples + the
    dictionary; the encode pass and the xxhash64 collision check are
    load-time ETL, not per-query work). Returns (dictionary_df,
    encoded_triples_df), both columnar scans after first use; bench.py
    builds this in its layout phase like the co-purchase/shingle tables.

    The store is keyed by the fingerprints of the tables the triples
    derive from (``TRIPLE_SOURCES``): a rewritten source builds a fresh
    store in a new scratch path, so SPARQL never answers from stale
    triples and a DataFrame still reading the old store keeps its files."""

    def write_dict(out: str) -> None:
        build_dictionary(triples_view(spark, sf_dir), ids="hash").write.parquet(out)

    d = read_parquet(
        spark, build_once("bgp_dict", sf_dir, write_dict, sources=TRIPLE_SOURCES)
    )

    def write_enc(out: str) -> None:
        enc = encode_triples(triples_view(spark, sf_dir), d)
        enc.toDF("s", "p", "o").write.parquet(out)

    enc = build_once("bgp_enc", sf_dir, write_enc, sources=TRIPLE_SOURCES)
    return d, read_parquet(spark, enc)


@register(
    "q_bgp_point",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT p, o FROM triples WHERE s = 'customer:42'
""",
)
def q_bgp_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """('customer:42', ?p, ?o) — the reference's /search by-subject point
    lookup (R1/R10) as a one-pattern BGP; the subject constant pushes to
    the scan exactly like getShardID routed it to one shard."""
    return compile_sparql_encoded(
        spark, sf_dir, "SELECT ?p ?o WHERE { customer:42 ?p ?o }"
    )


@register(
    "q_bgp_path",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT a.s AS c, a.o AS n, b.o AS r
FROM triples a
JOIN triples b ON a.o = b.s
JOIN triples c ON b.o = c.s
WHERE a.p = 'inNation' AND b.p = 'inRegion'
  AND c.p = 'hasName' AND c.o = 'ASIA'
""",
)
def q_bgp_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path pattern: ?c inNation ?n . ?n inRegion ?r . ?r hasName 'ASIA'
    — a 3-hop chain join; the most selective pattern (hasName='ASIA',
    1 row) ends up broadcast by AQE, shrinking the chain left-to-right."""
    return compile_sparql_encoded(
        spark,
        sf_dir,
        'SELECT ?c ?n ?r WHERE { ?c inNation ?n . ?n inRegion ?r . '
        '?r hasName "ASIA" }',
    )


@register(
    "q_bgp_varpred",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT s, p FROM triples WHERE o = 'nation:7'
""",
)
def q_bgp_varpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(?s, ?p, 'nation:7') — variable predicate, constant object: the
    reverse-lookup pattern (who points at this node?). Exercises a
    variable in predicate position; on a predicate-partitioned layout this
    is the one shape that scans all partitions — the documented trade of
    vertical partitioning (add an object-sorted secondary layout if this
    pattern dominates)."""
    return compile_sparql_encoded(
        spark, sf_dir, "SELECT ?s ?p WHERE { ?s ?p nation:7 }"
    )


@register(
    "q_bgp_optional",
    oracle=f"""
WITH {TRIPLES_SQL},
nat AS (SELECT s, o AS n FROM triples WHERE p = 'inNation'),
seg AS (SELECT s, o AS seg FROM triples WHERE p = 'inSegment')
SELECT nat.s, nat.n, seg.seg
FROM nat LEFT JOIN seg ON nat.s = seg.s
""",
)
def q_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL: ?s inNation ?n . OPTIONAL { ?s inSegment ?seg } —
    customers bind ?seg, suppliers leave it NULL (a left join after the
    required patterns)."""
    return compile_sparql_encoded(
        spark,
        sf_dir,
        "SELECT ?s ?n ?seg WHERE { ?s inNation ?n . "
        "OPTIONAL { ?s inSegment ?seg } }",
    )


@register(
    "q_bgp_values",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT n.s AS nation, r.o AS region_name
FROM triples n
JOIN triples r ON n.o = r.s
WHERE n.p = 'inRegion' AND r.p = 'hasName'
  AND r.o IN ('ASIA', 'EUROPE')
""",
)
def q_bgp_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES inline binding: `VALUES ?region_name { 'ASIA'
    'EUROPE' }` joined into the pattern — the literals encode to
    dictionary ids once and filter the encoded binding column."""
    return compile_sparql_encoded(
        spark,
        sf_dir,
        "SELECT ?nation ?region_name WHERE { ?nation inRegion ?r . "
        '?r hasName ?region_name . VALUES ?region_name { "ASIA" "EUROPE" } }',
    )


@register(
    "q_bgp_construct",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT c.s AS s, 'inRegionName' AS p, r.o AS o
FROM triples c
JOIN triples n ON c.o = n.s
JOIN triples r ON n.o = r.s
WHERE c.p = 'inNation' AND n.p = 'inRegion' AND r.p = 'hasName'
  AND c.s LIKE 'customer:%'
""",
)
def q_bgp_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT: derive NEW triples from a matched pattern —
    the materialized-inference step RDF pipelines use to flatten
    hierarchies. The derived relation is the BGP join projected back
    into (s, p, o) shape, so it can be unioned with the base triples
    and queried by the same compiler (composability is the point)."""
    return compile_sparql_encoded(
        spark,
        sf_dir,
        "CONSTRUCT { ?c inRegionName ?name } WHERE { ?c inNation ?n . "
        "?n inRegion ?r . ?r hasName ?name . "
        'FILTER(STRSTARTS(?c, "customer:")) }',
    )


@register(
    "q_bgp_path_inverse",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT fwd.s AS peer
FROM triples inv
JOIN triples fwd ON fwd.p = 'inNation' AND fwd.o = inv.o
WHERE inv.s = 'supplier:5' AND inv.p = 'inNation'
  AND fwd.s <> 'supplier:5'
""",
)
def q_bgp_path_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 inverse property path: `?peer inNation/^inNation
    supplier:5` — every entity co-located with supplier:5 (walk
    forward to its nation, then traverse inNation BACKWARD to the
    nation's members). The inverse step is a join with the pattern's
    subject/object roles swapped; no new physical operator exists or
    is needed — the S2RDF translation scheme the compiler uses for
    forward steps.

    Scale: the anchor pattern (one subject constant) prunes to one
    row; the inverse step is then a semi-lookup into the single
    inNation predicate partition (vertical partitioning,
    plans/bgp.py:15).
    """
    return compile_sparql_encoded(
        spark,
        sf_dir,
        "SELECT ?peer WHERE { ?peer inNation/^inNation supplier:5 . "
        'FILTER(?peer != "supplier:5") }',
    )


@register(
    "q_bgp_path_quantified",
    oracle=f"""
WITH {TRIPLES_SQL},
loc AS (SELECT s, o FROM triples WHERE p IN ('inNation', 'inRegion')),
h1 AS (SELECT s, o, 1 AS hops FROM loc),
h2 AS (
  SELECT a.s, b.o, 2 AS hops FROM loc a JOIN loc b ON a.o = b.s),
h3 AS (
  SELECT a.s, c.o, 3 AS hops
  FROM loc a JOIN loc b ON a.o = b.s JOIN loc c ON b.o = c.s),
uni AS (
  SELECT s, o, hops FROM h1 UNION ALL
  SELECT s, o, hops FROM h2 UNION ALL
  SELECT s, o, hops FROM h3)
SELECT s, o, CAST(MIN(hops) AS BIGINT) AS min_hops
FROM uni GROUP BY s, o
""",
)
def q_bgp_path_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 bounded path quantifier: `?s (inNation|inRegion){1,3}
    ?o` — every entity reachable over one to three location hops, with
    the shortest hop count. Between the single pattern (q_bgp_path)
    and the unbounded Kleene closure (q_sparql_path_closure), the
    bounded quantifier compiles to a UNION of 1..3 static join chains —
    no fixpoint loop, so Catalyst sees one finite plan it can reorder
    and push filters through.

    Scale: each chain is an equi-join on the shared endpoint; the
    location predicate prunes to two vertical partitions
    (plans/bgp.py's predicate layout). MIN(hops) folds the union with
    one hash aggregation.
    """
    t = triples_view(spark, sf_dir)
    loc = t.filter(F.col("p").isin("inNation", "inRegion")).select(
        "s", "o"
    )
    a = loc
    b = loc.select(F.col("s").alias("s2"), F.col("o").alias("o2"))
    c = loc.select(F.col("s").alias("s3"), F.col("o").alias("o3"))
    h1 = a.select("s", "o", F.lit(1).alias("hops"))
    h2 = (
        a.join(b, a.o == b.s2)
        .select("s", F.col("o2").alias("o"), F.lit(2).alias("hops"))
    )
    h3 = (
        a.join(b, a.o == b.s2)
        .join(c, F.col("o2") == F.col("s3"))
        .select("s", F.col("o3").alias("o"), F.lit(3).alias("hops"))
    )
    uni = h1.unionByName(h2).unionByName(h3)
    return uni.groupBy("s", "o").agg(
        F.min("hops").cast("long").alias("min_hops")
    )


# Events read as triples: subject = event entity, predicates user/type.
# Pattern:  ?e :user ?u . ?e :type ?t .  GROUP BY ?t → COUNT(DISTINCT ?u)
_BGP_AGG_ORACLE = f"""
{E_CTE}
SELECT event_type AS t,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_subjects,
       CAST(COUNT(*) AS BIGINT) AS n_matches
FROM e GROUP BY event_type
"""


@register("q_bgp_aggregate", oracle=_BGP_AGG_ORACLE)
def q_bgp_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregation over a star BGP:
    `SELECT ?t (COUNT(DISTINCT ?u) AS n) WHERE { ?e :user ?u ; :type ?t }
    GROUP BY ?t`. The shared-subject triples of the star live in ONE
    wide relation (the events table), so the pattern match is a
    projection (no self-join) and the aggregate runs directly on it —
    S2RDF's property-table insight. The distinct-count is an exact
    two-level aggregate (partial distinct per partition, then merge),
    not expand-based."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("t")).agg(
        F.count_distinct("user_id").alias("n_subjects"),
        F.count(F.lit(1)).alias("n_matches"),
    )
