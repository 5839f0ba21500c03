"""Twenty-seventh extension batch: XML source, binaryFile ingest,
bitwise scalar/aggregate surface, exact heavy hitters.

Two more ingest formats (Spark 4's native XML reader, and the
binaryFile source that is how a raw media corpus actually lands in a
lakehouse before any decode), plus the bit-manipulation function family
and the exact heavy-hitters census that anchors the count-min sketch's
error-bound tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..scratch import build_once

# --- q_source_xml ---------------------------------------------------------

_XML_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM customer GROUP BY c_mktsegment
"""


@register("q_source_xml", oracle=_XML_ORACLE)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source roundtrip (Spark 4 native `xml` format — no external
    package): customers exported as <customer> row elements, read back
    with an EXPLICIT schema + rowTag (inference on XML costs an extra
    full pass at scale, same rule as q_source_jsonl/q_source_csv). The
    census over the readback proves losslessness against the parquet
    original. XML is the interchange format of the enterprise systems a
    100 TB lake typically federates (the reference's PostgreSQL/Mongo
    tier speaks it via every ESB); parsing happens JVM-side per
    partition, no Python in the row path."""

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment", "c_acctbal")
            .write.option("rowTag", "customer")
            .option("rootTag", "customers")
            .format("xml")
            .save(out)
        )

    out = build_once("customer_xml", sf_dir, write, sources=("customer",))
    back = (
        spark.read.schema(
            "c_custkey long, c_mktsegment string, c_acctbal double"
        )
        .option("rowTag", "customer")
        .format("xml")
        .load(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
            "acctbal_cents"
        ),
    )


# --- q_source_binaryfile ----------------------------------------------------

_BINFILE_ORACLE = """
SELECT source,
       CAST(SUM(octet_length(encode(text)) + 1) AS BIGINT) AS n_bytes
FROM documents GROUP BY source
"""


@register("q_source_binaryfile", oracle=_BINFILE_ORACLE)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingest — how a raw media/text corpus actually enters
    the lake: opaque files on storage, read as (path, length, content)
    rows with NO parsing, partition identity recovered from the path.
    Here the corpus is materialized by exporting documents as one text
    blob per source directory (partitionBy('source')); the binaryFile
    scan then reconstructs per-source byte volume purely from file
    lengths — the content column is never touched, so at 100 TB the
    scan reads only file-status metadata, not the payload bytes (column
    pruning applies to binaryFile like any source). The oracle recomputes
    the same bytes as Σ(octet_length(text)+1 newline) per source —
    file-count-independent, so the check is layout-stable."""

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .select("source", "text")
            .repartition("source")
            .write.partitionBy("source")
            .text(out)
        )

    out = build_once("documents_binfiles", sf_dir, write, sources=("documents",))
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
    )
    return (
        files.select(
            F.regexp_extract(
                F.col("path"), r"source=([^/]+)", 1
            ).alias("source"),
            "length",
        )
        .groupBy("source")
        .agg(F.sum("length").alias("n_bytes"))
    )


# --- q_scalar_bitwise -------------------------------------------------------

_BITWISE_ORACLE = """
WITH x AS (
  SELECT event_type, user_id, event_id,
         bit_count(CAST(event_id AS BIGINT)) AS pc
  FROM events)
SELECT event_type,
       CAST(bit_and(user_id) AS BIGINT) AS and_uid,
       CAST(bit_or(user_id) AS BIGINT) AS or_uid,
       CAST(bit_xor(event_id) AS BIGINT) AS xor_eid,
       CAST(SUM(pc) AS BIGINT) AS popcount_sum
FROM x GROUP BY event_type
"""


@register("q_scalar_bitwise", oracle=_BITWISE_ORACLE)
def q_scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-manipulation surface: per-row popcount (bit_count) and the
    bit_and / bit_or / bit_xor aggregate family — the primitives under
    q_agg_bitmap's exact-distinct bitmap words and every bloom/bitset
    operator. All integer-exact, fully partial-aggregable (AND/OR/XOR
    are associative+commutative), codegen'd JVM expressions."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            "user_id",
            "event_id",
            F.bit_count("event_id").alias("pc"),
        )
        .groupBy("event_type")
        .agg(
            F.bit_and("user_id").alias("and_uid"),
            F.bit_or("user_id").alias("or_uid"),
            F.bit_xor("event_id").alias("xor_eid"),
            F.sum("pc").cast("long").alias("popcount_sum"),
        )
    )


# --- q_agg_heavy_hitters -----------------------------------------------------

# Threshold as an exact rational 1/_HH_DEN: the filter is cnt*_HH_DEN >=
# total on BOTH sides, pure int64 arithmetic, so Spark and DuckDB agree
# bit-for-bit at the boundary (a double 0.02*total is strictly > 1/50 of
# an exact DECIMAL total, which silently excluded exact-2% holders).
# 1/125 = 0.8% is fixture-calibrated: sf0.01 max share is ~1.2%, so the
# result is non-empty and the oracle check is non-vacuous.
_HH_DEN = 125

_HH_ORACLE = f"""
WITH c AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, user_id),
t AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total
  FROM c GROUP BY event_type)
SELECT c.event_type, c.user_id, c.cnt,
       ROUND(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE), 5) AS share
FROM c JOIN t USING (event_type)
WHERE c.cnt * {_HH_DEN} >= t.total
"""


@register("q_agg_heavy_hitters", oracle=_HH_ORACLE)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: users holding ≥1/{den} of their event type's
    traffic — the ground truth that q_agg_countmin's sketch estimates
    (the sketch path wins when the key universe doesn't fit a groupBy;
    this exact path is two partial-aggregable shuffles and a broadcast
    of the per-type totals, the right plan while distinct keys stay
    bounded). The threshold compare is pure int64 (cnt·den ≥ total) so
    the boundary is engine-exact; only the reported share is rounded."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    t = c.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    return (
        c.join(F.broadcast(t), "event_type")
        .filter(F.col("cnt") * _HH_DEN >= F.col("total"))
        .select(
            "event_type",
            "user_id",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("total").cast("double"),
                5,
            ).alias("share"),
        )
    )


q_agg_heavy_hitters.__doc__ = q_agg_heavy_hitters.__doc__.format(
    den=_HH_DEN
)
