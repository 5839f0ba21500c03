"""SPARQL CONSTRUCT and shingle-containment — closing out the SPARQL 1.1
surface and the asymmetric near-dup case."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.bgp import TRIPLES_SQL
from ..plans.sparql import compile_sparql_encoded
from ..registry import register
from .dedup import _NEAR_ORACLE
from .sparql_queries import ASK_ORACLE, SPARQL_ASK


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


_CONTAIN_ORACLE = _NEAR_ORACLE.replace(
    """SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY common * 1.0 / (sa.n_sh + sb.n_sh - common) DESC, doc_a, doc_b
LIMIT 50""",
    """SELECT doc_a, doc_b,
       ROUND(common * 1.0 / LEAST(sa.n_sh, sb.n_sh), 4) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE sa.n_sh >= 10 AND sb.n_sh >= 10
ORDER BY common * 1.0 / LEAST(sa.n_sh, sb.n_sh) DESC, doc_a, doc_b
LIMIT 50""",
)


@register("q_text_containment", oracle=_CONTAIN_ORACLE)
def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT (|A∩B| / min(|A|,|B|)) — the asymmetric
    near-dup measure: a short document quoted inside a long one scores
    ~1.0 here but low Jaccard (the union washes it out). Round 9: pairs
    come from the adaptive prefix-filter ladder (dedup_prefix.py,
    smaller-side prefix vs full index — the exact containment-join
    scheme), not the quadratic `_shingle_pairs` layout; min-size floor
    of 10 shingles keeps trivially-tiny docs from saturating the top-k.
    Ratio of exact ints — bit-identical ordering cross-engine."""
    from .dedup_prefix import containment_threshold_pairs, top_pairs_ladder

    pairs = top_pairs_ladder(
        lambda p, q: containment_threshold_pairs(spark, sf_dir, p, q, 10), 50
    )
    cont = F.col("common") * 1.0 / F.least("na", "nb")
    return (
        pairs.filter((F.col("na") >= 10) & (F.col("nb") >= 10))
        .select(
            "doc_a", "doc_b",
            cont.alias("_c"), F.round(cont, 4).alias("containment"),
        )
        .orderBy(F.desc("_c"), "doc_a", "doc_b")
        .limit(50)
        .select("doc_a", "doc_b", "containment")
    )


@register("q_bgp_ask", oracle=ASK_ORACLE)
def q_bgp_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK: does any nation sit in the region named ASIA? —
    boolean existence of a pattern match. Planned as the pattern join
    under a LIMIT 1 (Spark stops scanning at the first match; at scale
    the limit propagates into the scan), emitted as one 0/1 row."""
    return compile_sparql_encoded(spark, sf_dir, SPARQL_ASK)


@register(
    "q_bgp_describe",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT s, p, o FROM triples WHERE s = 'nation:7'
UNION ALL
SELECT s, p, o FROM triples WHERE o = 'nation:7'
""",
)
def q_bgp_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE <nation:7>: every triple where the resource is
    subject or object — the resource's full neighborhood. The
    compiler's DESCRIBE form: two term-pushed scans of the triples
    relation, unioned as a set (the neighborhood holds no duplicate
    triple, so the set equals the oracle's bag union)."""
    return compile_sparql_encoded(spark, sf_dir, "DESCRIBE <nation:7>")
