"""Round-9 SPARQL surface (VERDICT r8 #4, #5, #7): named graphs over
the graph-partitioned quad layout, the SPARQL Update subset compiled to
the engine's LWW-upsert state algebra, and ORDER BY expressions.

Reference parity: SPARQL Update is the textual twin of the reference's
write path — R2 keyed upsert (SQLite3DBConnector.py:48-119) and the
R8 delta-dict last-wins overwrite (MasterServer.py:106-115) — the one
reference capability that had no SPARQL-text surface until now. Named
graphs generalize the reference's physical source-split (SURVEY §1.4)
into the standard SPARQL dataset feature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.bgp import TRIPLES_SQL
from ..plans.quads import QUADS_SQL
from ..plans.sparql import compile_sparql_encoded, compile_sparql_update
from ..registry import register

_GRAPH_Q = """
SELECT ?g (COUNT(*) AS ?n) WHERE {
  GRAPH ?g { ?s inNation ?o }
} GROUP BY ?g
"""


@register(
    "q_sparql_graph",
    oracle=f"""
WITH {QUADS_SQL}
SELECT g, CAST(COUNT(*) AS BIGINT) AS n
FROM quads WHERE p = 'inNation' GROUP BY g
""",
)
def q_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GRAPH ?g {{ ?s inNation ?o }}`: the graph variable binds each
    named graph (entity family) holding inNation triples — customers
    and suppliers — counted per graph. The ?g column is the parquet
    partition column, materialized for free by the scan."""
    return compile_sparql_encoded(spark, sf_dir, _GRAPH_Q)


_GRAPH_CONST_Q = """
SELECT ?seg (COUNT(*) AS ?n) WHERE {
  GRAPH <g:customer> { ?c inSegment ?seg }
} GROUP BY ?seg
"""


@register(
    "q_sparql_graph_const",
    oracle=f"""
WITH {QUADS_SQL}
SELECT o AS seg, CAST(COUNT(*) AS BIGINT) AS n
FROM quads WHERE g = 'g:customer' AND p = 'inSegment' GROUP BY o
""",
)
def q_sparql_graph_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GRAPH <g:customer> {{ ... }}`: a CONSTANT graph term — the
    g='g:customer' predicate prunes every other graph's `g=` partition
    directory at the manifest (PartitionFilters; pinned in
    tests/test_sparql_graphs.py). Segment histogram inside the one
    scanned graph."""
    return compile_sparql_encoded(spark, sf_dir, _GRAPH_CONST_Q)


_FROM_NAMED_Q = """
SELECT ?g ?o (COUNT(*) AS ?n)
FROM NAMED <g:supplier>
WHERE { GRAPH ?g { ?s inNation ?o } }
GROUP BY ?g ?o
"""


@register(
    "q_sparql_from_named",
    oracle=f"""
WITH {QUADS_SQL}
SELECT g, o, CAST(COUNT(*) AS BIGINT) AS n
FROM quads WHERE g IN ('g:supplier') AND p = 'inNation'
GROUP BY g, o
""",
)
def q_sparql_from_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`FROM NAMED <g:supplier>` restricts the graph universe: the
    same GRAPH ?g pattern as q_sparql_graph now ranges over suppliers
    only (customers' inNation triples excluded by the dataset clause,
    not by a pattern constant) — per-nation supplier counts."""
    return compile_sparql_encoded(spark, sf_dir, _FROM_NAMED_Q)


_UPDATE_Q = """
INSERT DATA {
  <customer:1> inSegment "PROMO_X" .
  <region:99> hasName "NEWLAND" .
  <region:99> hasName "NEWLAND_2" .
} ;
DELETE DATA { <nation:3> inRegion <region:3> . } ;
DELETE WHERE { ?s hasBalanceCents ?v }
"""


@register(
    "q_sparql_update",
    oracle=f"""
WITH {TRIPLES_SQL},
ins AS (SELECT * FROM (VALUES
    ('customer:1', 'inSegment', 'PROMO_X'),
    ('region:99', 'hasName', 'NEWLAND_2')) v(s, p, o)),
st1 AS (
  SELECT t.s, t.p, t.o FROM triples t
  WHERE NOT EXISTS (SELECT 1 FROM ins i WHERE i.s = t.s AND i.p = t.p)
  UNION ALL SELECT s, p, o FROM ins),
st2 AS (SELECT * FROM st1
        WHERE NOT (s = 'nation:3' AND p = 'inRegion' AND o = 'region:3'))
SELECT s, p, o FROM st2 WHERE NOT (p = 'hasBalanceCents')
""",
)
def q_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL Update sequence applied as a state transformation (the
    engine's storage is immutable parquet — q_upsert_result's
    contract): an INSERT DATA batch with (a) an upsert of an EXISTING
    (s, p) key (customer:1 inSegment — old object replaced, R2
    semantics), (b) a brand-new key, and (c) a batch-internal
    duplicate key where the LAST write wins (region:99 — the
    reference's delta-dict overwrite, R8); then an exact-triple
    DELETE DATA; then a pattern DELETE WHERE removing a whole
    predicate family. Output: the full post-update triple state,
    matched against the oracle's replay of the same algebra."""
    return compile_sparql_update(spark, sf_dir, _UPDATE_Q)


_GROUP_CONCAT_Q = """
SELECT ?rn (GROUP_CONCAT(?nm; SEPARATOR=",") AS ?names)
       (COUNT(?nm) AS ?n) WHERE {
  ?x inRegion ?r .
  ?x hasName ?nm .
  ?r hasName ?rn .
} GROUP BY ?rn
"""


@register(
    "q_sparql_group_concat",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT c.o AS rn, string_agg(b.o, ',' ORDER BY b.o) AS names,
       CAST(COUNT(b.o) AS BIGINT) AS n
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'hasName'
JOIN triples c ON c.s = a.o AND c.p = 'hasName'
WHERE a.p = 'inRegion'
GROUP BY c.o
""",
)
def q_sparql_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP_CONCAT with an explicit SEPARATOR: nation names
    concatenated per region name. SPARQL leaves concat order undefined;
    the engine SORTS values (array_join(sort_array(collect_list)))) so
    the result is deterministic and oracle-comparable (DuckDB
    string_agg ... ORDER BY)."""
    return compile_sparql_encoded(spark, sf_dir, _GROUP_CONCAT_Q)


_BOUND_IF_Q = """
SELECT ?kind (COUNT(*) AS ?n) (SAMPLE(?s) AS ?first_subject) WHERE {
  ?s inNation ?nat .
  OPTIONAL { ?s inSegment ?seg }
  BIND(IF(BOUND(?seg), COALESCE(?seg, "X"), "UNSEGMENTED") AS ?kind)
} GROUP BY ?kind
"""


@register(
    "q_sparql_bound_if",
    oracle=f"""
WITH {TRIPLES_SQL},
base AS (
  SELECT a.s, seg.o AS seg FROM triples a
  LEFT JOIN triples seg ON seg.s = a.s AND seg.p = 'inSegment'
  WHERE a.p = 'inNation')
SELECT COALESCE(seg, 'UNSEGMENTED') AS kind,
       CAST(COUNT(*) AS BIGINT) AS n, MIN(s) AS first_subject
FROM base GROUP BY 1
""",
)
def q_sparql_bound_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUND + IF + COALESCE + SAMPLE in one query: inNation subjects
    (customers AND suppliers) bucketed by IF(BOUND(?seg), ...) — the
    OPTIONAL binds for customers only, so suppliers land in
    UNSEGMENTED; SAMPLE picks the deterministic MIN subject."""
    return compile_sparql_encoded(spark, sf_dir, _BOUND_IF_Q)


_FILTER_BOUND_Q = """
SELECT ?s ?nat WHERE {
  ?s inNation ?nat .
  OPTIONAL { ?s inSegment ?seg }
  FILTER(!BOUND(?seg))
}
"""


@register(
    "q_sparql_filter_bound",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT a.s, a.o AS nat FROM triples a
LEFT JOIN triples seg ON seg.s = a.s AND seg.p = 'inSegment'
WHERE a.p = 'inNation' AND seg.o IS NULL
""",
)
def q_sparql_filter_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER(!BOUND(?seg)) — negation-as-failure over an OPTIONAL
    binding (the pre-1.1 idiom for MINUS): inNation subjects WITHOUT a
    segment, i.e. the suppliers."""
    return compile_sparql_encoded(spark, sf_dir, _FILTER_BOUND_Q)


_UPDATE_WHERE_Q = """
DELETE { ?n inRegion ?r } INSERT { ?n inRegionName ?rn }
WHERE { ?n inRegion ?r . ?r hasName ?rn } ;
INSERT { ?c inRegionName ?rn }
WHERE { ?c inNation ?n . ?n inRegionName ?rn }
"""


@register(
    "q_sparql_update_where",
    oracle=f"""
WITH {TRIPLES_SQL},
i1 AS (
  SELECT DISTINCT a.s, 'inRegionName' AS p, b.o
  FROM triples a JOIN triples b ON a.o = b.s AND b.p = 'hasName'
  WHERE a.p = 'inRegion'),
st1 AS (
  SELECT s, p, o FROM triples WHERE p <> 'inRegion'
  UNION
  SELECT s, p, o FROM i1),
i2 AS (
  SELECT DISTINCT c.s, 'inRegionName' AS p, r.o
  FROM st1 c JOIN st1 r ON c.o = r.s AND r.p = 'inRegionName'
  WHERE c.p = 'inNation')
SELECT s, p, o FROM st1 UNION SELECT s, p, o FROM i2
""",
)
def q_sparql_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template update sequence (SPARQL 1.1 §3.1.3): op 1 rewrites the
    nation→region edge into a direct inRegionName literal (DELETE +
    INSERT instantiated from the same solutions); op 2's WHERE then
    matches the triples op 1 JUST INSERTED (textual sequence semantics
    over the evolving state), propagating the region name down to every
    customer and supplier. Output: the full post-update graph."""
    return compile_sparql_update(spark, sf_dir, _UPDATE_WHERE_Q)


@register(
    "q_sparql_describe",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT s, p, o FROM triples WHERE s = 'nation:7'
UNION
SELECT s, p, o FROM triples WHERE o = 'nation:7'
""",
    aliases=("q_bgp_describe",),
)
def q_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textual `DESCRIBE <nation:7>`: the resource's neighborhood, every
    triple where it is subject or object, with graph set semantics
    (UNION, not UNION ALL: a description is a graph). Constant iris
    push into both scans of the string-space triples."""
    return compile_sparql_encoded(spark, sf_dir, "DESCRIBE <nation:7>")


@register(
    "q_sparql_describe_where",
    oracle=f"""
WITH {TRIPLES_SQL},
res AS (SELECT DISTINCT s AS r FROM triples
        WHERE p = 'inRegion' AND o = 'region:2')
SELECT t.s, t.p, t.o FROM triples t JOIN res ON t.s = res.r
UNION
SELECT t.s, t.p, t.o FROM triples t JOIN res ON t.o = res.r
""",
)
def q_sparql_describe_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DESCRIBE ?n WHERE {{ ?n inRegion <region:2> }}`: the described
    resources come from a WHERE solution (all nations of region 2) —
    the variable form compiles its body through the normal encoded
    pipeline, then joins the distinct bindings against both triple
    positions."""
    return compile_sparql_encoded(
        spark,
        sf_dir,
        "DESCRIBE ?n WHERE { ?n inRegion <region:2> }",
    )


_ORDER_EXPR_Q = """
SELECT ?nm ?rn WHERE {
  ?n hasName ?nm .
  ?n inRegion ?r .
  ?r hasName ?rn .
}
ORDER BY DESC(STRLEN(?nm)) ?nm
LIMIT 10
"""


@register(
    "q_sparql_order_expr",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT b.o AS nm, c.o AS rn
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'hasName'
JOIN triples c ON c.s = a.o AND c.p = 'hasName'
WHERE a.p = 'inRegion'
ORDER BY LENGTH(b.o) DESC, b.o
LIMIT 10
""",
)
def q_sparql_order_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY over an EXPRESSION (round 9 — the last everyday-SELECT
    gap): nations sorted by descending name length with the unique
    name itself as tiebreak (deterministic LIMIT cut), through the
    same expression grammar BIND uses."""
    return compile_sparql_encoded(spark, sf_dir, _ORDER_EXPR_Q)


_UPDATE_TMPL_Q = """
DELETE { ?c inSegment ?seg }
INSERT { ?seg hasMember ?c . ?c wasSegmented "y" }
WHERE { ?c inSegment ?seg . ?c inNation ?n } ;
INSERT { ?n hasSegMember ?seg }
WHERE { ?c inNation ?n . ?seg hasMember ?c }
"""


@register(
    "q_sparql_update_tmpl",
    oracle=f"""
WITH {TRIPLES_SQL},
sol AS (
  SELECT c.s AS c, c.o AS seg, n.o AS n
  FROM triples c JOIN triples n ON n.s = c.s AND n.p = 'inNation'
  WHERE c.p = 'inSegment'),
st1 AS (
  SELECT t.s, t.p, t.o FROM triples t
  WHERE NOT EXISTS (SELECT 1 FROM sol
                    WHERE sol.c = t.s AND t.p = 'inSegment'
                      AND sol.seg = t.o)
  UNION SELECT seg, 'hasMember', c FROM sol
  UNION SELECT c, 'wasSegmented', 'y' FROM sol),
i2 AS (
  SELECT DISTINCT cn.o AS s, 'hasSegMember' AS p, hm.s AS o
  FROM st1 cn JOIN st1 hm ON hm.o = cn.s AND hm.p = 'hasMember'
  WHERE cn.p = 'inNation')
SELECT s, p, o FROM st1 UNION SELECT s, p, o FROM i2
""",
)
def q_sparql_update_tmpl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined `DELETE {{tmpl}} INSERT {{tmpl}} WHERE` form with a
    MULTI-TRIPLE insert template and variable reordering (?seg becomes
    a SUBJECT — template instantiation is positional, SPARQL 1.1
    §3.1.3): customer segment edges are rewritten into reverse
    hasMember edges plus a wasSegmented marker, both instantiated from
    the SAME solution multiset as the delete (deletions first). Op 2's
    WHERE then joins triples op 1 JUST INSERTED (hasMember) against
    surviving inNation edges — textual sequence semantics over the
    evolving state — rolling segment membership up to the nation level.
    Reference parity: the template generalization of the R2 keyed write
    path (SQLite3DBConnector.py:48-119) the way SPARQL 1.1 generalizes
    ground writes. Output: the full post-update graph."""
    return compile_sparql_update(spark, sf_dir, _UPDATE_TMPL_Q)
