"""SPARQL surface extensions over the triples view: transitive property
paths (`(p)+`), FILTER NOT EXISTS, and VALUES inline bindings — the three
most-used SPARQL 1.1 features beyond plain BGPs (reference models RDF
triples but has no path engine; SURVEY §2.B).

Scale notes: the closure is semi-naive iteration — each round joins only
the NEW frontier against the base relation (not the whole closure), the
classic Datalog evaluation that keeps per-round shuffle volume
proportional to newly-derived facts; rounds are O(longest path), lineage
truncated per round. NOT EXISTS lowers to a left-anti join; VALUES to a
broadcast hash join against a literal DataFrame."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.bgp import TRIPLES_SQL, triples_view
from ..plans.sparql import transitive_closure
from ..registry import register
from ..materialize import materialize

# DuckDB recursive CTE needs the RECURSIVE keyword up front; reuse the
# shared triples derivation inside it.
_CLOSURE_ORACLE = f"""
WITH RECURSIVE {TRIPLES_SQL},
loc AS (SELECT s, o FROM triples WHERE p IN ('inNation', 'inRegion')),
closure AS (
  SELECT s, o FROM loc
  UNION
  SELECT c.s, l.o FROM closure c JOIN loc l ON c.o = l.s)
SELECT s, o FROM closure
"""


@register("q_bgp_path_closure", oracle=_CLOSURE_ORACLE)
def q_bgp_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path `?x (inNation|inRegion)+ ?y`: transitive
    closure by semi-naive iteration. The oracle is DuckDB's WITH
    RECURSIVE over the same triples — a genuinely different fixpoint
    engine computing the same relation.

    The fixpoint is the SPARQL compiler's `p+` lowering
    (plans.sparql.transitive_closure): each round frontier ⋈ base
    (shuffle keyed on the hop column), dedup against the accumulated
    closure (left-anti), stop when no new pairs. Round count = longest
    simple path (2 in the fixture hierarchy; capped at 12 with a
    non-convergence error, same contract as q_graph_cc)."""
    t = triples_view(spark, sf_dir)
    base = (
        t.filter(F.col("p").isin("inNation", "inRegion"))
        .select("s", "o")
        .distinct()
        .transform(materialize)
    )
    return transitive_closure(base)


@register(
    "q_bgp_notexists",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT a.s AS c, a.o AS n
FROM triples a
WHERE a.p = 'inNation'
  AND a.s LIKE 'customer:%'
  AND NOT EXISTS (
    SELECT 1 FROM triples b
    WHERE b.p = 'inSegment' AND b.o = 'BUILDING' AND b.s = a.s)
""",
)
def q_bgp_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER NOT EXISTS: customers with a nation but no
    `inSegment BUILDING` triple — a left-anti join between two
    predicate-filtered scans of the triples relation (with predicate
    partitioning, two partition reads; the anti join hashes on s)."""
    t = triples_view(spark, sf_dir)
    nat = (
        t.filter((F.col("p") == "inNation") & F.col("s").startswith("customer:"))
        .select(F.col("s").alias("c"), F.col("o").alias("n"))
    )
    seg = (
        t.filter((F.col("p") == "inSegment") & (F.col("o") == "BUILDING"))
        .select(F.col("s").alias("c"))
    )
    return nat.join(seg, "c", "left_anti")


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
    """SPARQL VALUES inline binding: `VALUES ?name { 'ASIA' 'EUROPE' }`
    joined into the pattern — implemented as a broadcast hash join
    against a literal DataFrame (not an IN filter) to mirror how a
    VALUES block composes with arbitrary patterns."""
    t = triples_view(spark, sf_dir)
    values = spark.createDataFrame(
        [("ASIA",), ("EUROPE",)], "region_name string"
    )
    nat = t.filter(F.col("p") == "inRegion").select(
        F.col("s").alias("nation"), F.col("o").alias("region")
    )
    named = t.filter(F.col("p") == "hasName").select(
        F.col("s").alias("region"), F.col("o").alias("region_name")
    )
    return (
        nat.join(named, "region")
        .join(F.broadcast(values), "region_name")
        .select("nation", "region_name")
    )
