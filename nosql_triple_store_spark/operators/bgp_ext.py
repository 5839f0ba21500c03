"""SPARQL surface extensions over the triples: transitive property paths
(`(p)+`), FILTER NOT EXISTS, and VALUES inline bindings — the three
most-used SPARQL 1.1 features beyond plain BGPs (reference models RDF
triples but has no path engine; SURVEY §2.B).

Scale notes: the closure is semi-naive iteration — each round joins only
the NEW frontier against the base relation (not the whole closure), the
classic Datalog evaluation that keeps per-round shuffle volume
proportional to newly-derived facts; rounds are O(longest path), lineage
truncated per round. NOT EXISTS lowers to a left-anti join; VALUES to an
IN-list filter on the encoded binding column."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.bgp import TRIPLES_SQL
from ..plans.sparql import compile_sparql_encoded
from ..registry import register
from .sparql_queries import (
    CLOSURE_ORACLE,
    NOTEXISTS_ORACLE,
    SPARQL_NOTEXISTS,
    SPARQL_PATH_CLOSURE,
)


@register("q_bgp_path_closure", oracle=CLOSURE_ORACLE)
def q_bgp_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path `?x (inNation|inRegion)+ ?y`: transitive
    closure by semi-naive iteration (plans.sparql.transitive_closure:
    each round frontier ⋈ base, dedup against the accumulated closure by
    left-anti, stop when no new pairs). Round count = longest simple
    path (2 in the fixture hierarchy; capped at CLOSURE_ROUND_CAP with a
    non-convergence error). The oracle is DuckDB's WITH RECURSIVE over
    the same triples — a different fixpoint engine computing the same
    relation."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_PATH_CLOSURE)


@register("q_bgp_notexists", oracle=NOTEXISTS_ORACLE)
def q_bgp_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER NOT EXISTS: customers with a nation but no
    `inSegment BUILDING` triple — a left-anti join between two
    predicate-filtered scans of the encoded triples (with predicate
    partitioning, two partition reads; the anti join hashes on ?c)."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_NOTEXISTS)


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
