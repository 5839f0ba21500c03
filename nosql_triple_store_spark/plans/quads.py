"""Named-graph quad layout: the triples view extended with a graph
column and PHYSICALLY PARTITIONED by it.

Graph model: the dataset's entity families are its named graphs —
every triple belongs to the graph of its subject's family
(``g:customer``, ``g:supplier``, ``g:nation``, ``g:region``). This is
the standard warehouse reading of SPARQL datasets (one named graph per
ingested source), and it mirrors how the reference physically splits
its one logical relation across backends (SURVEY §1.4) — there the
split is by key range, here by provenance.

Physical layout: scratch parquet written ``partitionBy("g")`` once per
process, so a constant graph term (``GRAPH <g:customer> { ... }``)
prunes ``g=`` directories at the manifest — PartitionFilters, no data
read from other graphs (asserted in tests/test_sparql_graphs.py). A
``GRAPH ?g`` variable scans all (FROM-NAMED-restricted) partitions and
projects the partition column, which parquet materializes for free.

At 100 TB the analog is the quad table partitioned by graph/source —
the layout every RDF warehouse (and every multi-source corpus) uses so
per-source queries never touch other sources' files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet
from ..scratch import build_once
from .bgp import TRIPLE_SOURCES, triples_view

GRAPHS = ("g:customer", "g:nation", "g:region", "g:supplier")

# DuckDB CTE mirroring quads_view (same provenance rule over the same
# TRIPLES_SQL branches), kept adjacent so engine and oracle derive the
# same quad relation.
QUADS_SQL = """
quads AS (
  SELECT 'g:customer' AS g, 'customer:' || c_custkey AS s,
         'inNation' AS p, 'nation:' || c_nationkey AS o FROM customer
  UNION ALL
  SELECT 'g:customer', 'customer:' || c_custkey, 'inSegment',
         c_mktsegment FROM customer
  UNION ALL
  SELECT 'g:supplier', 'supplier:' || s_suppkey, 'inNation',
         'nation:' || s_nationkey FROM supplier
  UNION ALL
  SELECT 'g:nation', 'nation:' || n_nationkey, 'inRegion',
         'region:' || n_regionkey FROM nation
  UNION ALL
  SELECT 'g:nation', 'nation:' || n_nationkey, 'hasName', n_name
  FROM nation
  UNION ALL
  SELECT 'g:region', 'region:' || r_regionkey, 'hasName', r_name
  FROM region
  UNION ALL
  SELECT 'g:customer', 'customer:' || c_custkey, 'hasBalanceCents',
         CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR)
  FROM customer)
"""


def graph_of(subject):
    """The named graph of a subject: ``g:`` + its entity family (the
    text before the first ``:``) — the provenance each UNION branch of
    triples_view carries. Takes a subject Column or a subject string;
    every graph-scoped construct (FROM, CLEAR/DROP, LOAD INTO, WITH,
    USING) derives graphs through this one rule."""
    if isinstance(subject, str):
        return "g:" + subject.split(":")[0]
    return F.concat(F.lit("g:"), F.split(subject, ":").getItem(0))


def quads_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g, s, p, o): the triples view tagged with its subject-family
    graph (:func:`graph_of`)."""
    t = triples_view(spark, sf_dir)
    return t.select(graph_of(F.col("s")).alias("g"), "s", "p", "o")


def quad_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quad view materialized as graph-partitioned scratch parquet
    (once per process). GRAPH-constant queries prune ``g=`` partition
    directories; the partition column is virtual (no storage cost)."""

    def write(out: str) -> None:
        quads_view(spark, sf_dir).write.partitionBy("g").parquet(out)

    return read_parquet(
        spark, build_once("quads", sf_dir, write, sources=TRIPLE_SOURCES)
    )
