"""Registered BGP (triple-pattern) queries — the reference's query model
as SPARQL text over the encoded store (SURVEY §3.1 generalized: the
reference answers only (subject, ?, ?) lookups; these run full conjunctive
patterns as self-joins, per the S2RDF design)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.bgp import TRIPLES_SQL
from ..plans.sparql import compile_sparql_encoded
from ..registry import register
from .sparql_queries import SPARQL_STAR, STAR_ORACLE


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


@register("q_bgp_star", oracle=STAR_ORACLE)
def q_bgp_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star pattern: ?c inSegment 'BUILDING' . ?c inNation ?n — two
    patterns joined on the shared subject variable."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_STAR)


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
