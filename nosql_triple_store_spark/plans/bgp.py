"""Basic-graph-pattern (SPARQL-style) query compiler over a triples
DataFrame — the reference's data model queried the way a triple store is
queried.

The reference serves exactly one pattern shape: (subject, ?, ?) point
lookups routed by shard (SURVEY §3.1; MasterServer.py:292-330). This
module generalizes to arbitrary conjunctive triple patterns compiled to
self-joins of the triples relation — the S2RDF/SPARQL-on-Spark design
(PAPERS.md: S2RDF, VLDB 2016): each pattern becomes a filtered projection
of the triples table; shared variables become equi-join keys; Catalyst
orders the joins and pushes the constant s/p/o filters into the scans.

Scale notes (S2RDF's core result, restated): a generic (s,p,o) table
scans everything for every pattern; partitioning the physical layout by
predicate (vertical partitioning — one file group per predicate) turns
each pattern's constant-predicate filter into partition pruning, so a
5-pattern BGP reads only 5 predicate partitions. `triples_view` keeps the
logical shape; sources/etl.py writes the predicate-partitioned layout.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table


@dataclass(frozen=True)
class Var:
    """A BGP variable; equal names join across patterns."""

    name: str


Term = Var | str | int  # int terms arise from dictionary-encoded triples

# DuckDB CTE mirroring triples_view — kept adjacent so engine and oracle
# derive the same triples relation.
TRIPLES_SQL = """
triples AS (
  SELECT 'customer:' || c_custkey AS s, 'inNation' AS p,
         'nation:' || c_nationkey AS o FROM customer
  UNION ALL
  SELECT 'customer:' || c_custkey, 'inSegment', c_mktsegment FROM customer
  UNION ALL
  SELECT 'supplier:' || s_suppkey, 'inNation', 'nation:' || s_nationkey
  FROM supplier
  UNION ALL
  SELECT 'nation:' || n_nationkey, 'inRegion', 'region:' || n_regionkey
  FROM nation
  UNION ALL
  SELECT 'nation:' || n_nationkey, 'hasName', n_name FROM nation
  UNION ALL
  SELECT 'region:' || r_regionkey, 'hasName', r_name FROM region
  UNION ALL
  SELECT 'customer:' || c_custkey, 'hasBalanceCents',
         CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR)
  FROM customer)
"""


# The fixture tables the triples relation is derived from.
TRIPLE_SOURCES = ("customer", "supplier", "nation", "region")


def triples_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive an RDF-ish (s, p, o) triples DataFrame from the fixture
    tables (FIXTURES.md maps the fixtures onto the reference's YAGO triple
    schema: 4 string columns, SURVEY §1.2)."""
    cust, supp, nation, region = (
        load_table(spark, sf_dir, t) for t in TRIPLE_SOURCES
    )

    parts = [
        cust.select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit("inNation").alias("p"),
            F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("o"),
        ),
        cust.select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit("inSegment").alias("p"),
            F.col("c_mktsegment").alias("o"),
        ),
        supp.select(
            F.concat(F.lit("supplier:"), F.col("s_suppkey")).alias("s"),
            F.lit("inNation").alias("p"),
            F.concat(F.lit("nation:"), F.col("s_nationkey")).alias("o"),
        ),
        nation.select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
            F.lit("inRegion").alias("p"),
            F.concat(F.lit("region:"), F.col("n_regionkey")).alias("o"),
        ),
        nation.select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
            F.lit("hasName").alias("p"),
            F.col("n_name").alias("o"),
        ),
        region.select(
            F.concat(F.lit("region:"), F.col("r_regionkey")).alias("s"),
            F.lit("hasName").alias("p"),
            F.col("r_name").alias("o"),
        ),
        # the one numeric-literal predicate (SPARQL SUM/AVG target):
        # integer cents via FLOOR(x*100) — identical IEEE-double math
        # in Spark and the DuckDB oracle, so the string literal is
        # byte-equal in both engines (formatting a fractional double
        # would not be)
        cust.select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit("hasBalanceCents").alias("p"),
            F.floor(F.col("c_acctbal") * 100)
            .cast("long")
            .cast("string")
            .alias("o"),
        ),
    ]
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def _pattern_step(triples: DataFrame, pat: tuple[Term, Term, Term]) -> DataFrame:
    df = triples
    proj = []
    seen: dict[str, str] = {}
    for col, term in zip(("s", "p", "o"), pat):
        if isinstance(term, Var):
            if term.name in seen:  # same var twice in one pattern
                df = df.filter(F.col(col) == F.col(seen[term.name]))
            else:
                proj.append(F.col(col).alias(term.name))
                seen[term.name] = col
        else:
            df = df.filter(F.col(col) == F.lit(term))
    return df.select(*proj)


def compile_bgp(
    triples: DataFrame,
    patterns: list[tuple[Term, Term, Term]],
    optional: list[tuple[Term, Term, Term]] = (),
) -> DataFrame:
    """Compile a conjunctive BGP to a DataFrame of variable bindings.

    Each (s, p, o) pattern: constants become pushed-down filters, Vars
    become projected binding columns; patterns sharing a Var are
    equi-joined on it (natural join over the accumulated bindings).
    ``optional`` patterns implement SPARQL OPTIONAL: left joins that
    extend bindings where they match and leave NULLs where they don't.
    Catalyst reorders/broadcasts the joins; with a predicate-partitioned
    layout the constant-p filters prune partitions (see module docstring).
    """
    if not patterns:
        raise ValueError("empty BGP")
    bound: DataFrame | None = None
    for pat in patterns:
        step = _pattern_step(triples, pat)
        if bound is None:
            bound = step
        else:
            shared = sorted(set(bound.columns) & set(step.columns))
            bound = (
                bound.join(step, on=shared, how="inner")
                if shared
                else bound.crossJoin(step)
            )
    for pat in optional:
        step = _pattern_step(triples, pat)
        shared = sorted(set(bound.columns) & set(step.columns))
        if not shared:
            raise ValueError("OPTIONAL pattern shares no variable with BGP")
        bound = bound.join(step, on=shared, how="left")
    return bound
