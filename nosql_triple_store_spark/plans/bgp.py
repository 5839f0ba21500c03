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
logical shape; `sources.readers.write_predicate_partitioned` writes the
predicate-partitioned layout.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

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


def term_conditions(terms) -> tuple[list, list]:
    """The binding rule shared by every pattern kind (triple pattern,
    path endpoints, GRAPH quad pattern, DELETE WHERE): ``terms`` pairs a
    column with a Term. A constant is an equality condition on its
    column; a variable projects its column under the variable's name; a
    variable repeated in one pattern is an equality condition between
    its columns. Returns (conditions, projections)."""
    conds, proj = [], []
    seen: dict[str, str] = {}
    for col, term in terms:
        if isinstance(term, Var):
            if term.name in seen:
                conds.append(F.col(col) == F.col(seen[term.name]))
            else:
                proj.append(F.col(col).alias(term.name))
                seen[term.name] = col
        else:
            conds.append(F.col(col) == F.lit(term))
    return conds, proj


def bind_terms(df: DataFrame, terms) -> DataFrame:
    """The rows of ``df`` that match ``terms``, as variable bindings."""
    conds, proj = term_conditions(terms)
    for cond in conds:
        df = df.filter(cond)
    return df.select(*proj)


def natural_join(
    left: DataFrame, right: DataFrame, how: str = "inner"
) -> DataFrame:
    """Join two binding relations on their shared variables.

    - ``inner``: equi-join on the shared variables, a cross join when
      none are shared (a conjunctive group).
    - ``left``: SPARQL OPTIONAL; the pattern must share a variable.
    - ``left_anti``: SPARQL MINUS, anti-join against the distinct shared
      keys; a no-op when none are shared (SPARQL 1.1 §8.3, the
      difference from FILTER NOT EXISTS).
    """
    shared = sorted(set(left.columns) & set(right.columns))
    if how == "left_anti":
        if not shared:
            return left
        right = right.select(*shared).distinct()
    elif not shared:
        if how == "left":
            raise ValueError("OPTIONAL pattern shares no variable with BGP")
        return left.crossJoin(right)
    return left.join(right, on=shared, how=how)


def compile_bgp(
    triples: DataFrame, patterns: list[tuple[Term, Term, Term]]
) -> DataFrame:
    """Compile a conjunctive BGP to a DataFrame of variable bindings.

    Each (s, p, o) pattern binds through :func:`bind_terms` (constants
    become pushed-down filters, Vars projected binding columns);
    patterns are natural-joined on shared Vars. Catalyst
    reorders/broadcasts the joins; with a predicate-partitioned layout
    the constant-p filters prune partitions (see module docstring).
    """
    if not patterns:
        raise ValueError("empty BGP")
    return reduce(
        natural_join,
        [bind_terms(triples, zip(("s", "p", "o"), p)) for p in patterns],
    )
