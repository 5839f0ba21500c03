"""Fifty-fifth extension batch: planner-facing observability and two
pipeline primitives — join-key skew census, physical partition-layout
round-trip, keyed pseudonymization, and readability banding.

Lineage: the skew census is the DIAGNOSTIC that decides when
q_join_salted's salting and AQE skew-join kick in (reference analog:
the shard-routing layer's implicit assumption of uniform subject
hashing, MasterServer-style range splits — here the assumption becomes
a measurable query); the layout census proves a partitioned write
round-trips exactly (the write side of R20's offline sort-partition
ETL); pseudonymization is the privacy batch's referential-integrity
member (keyed tokens, not raw ids, is how a 100 TB events corpus ships
to analysts); readability joins the text-quality family used for
training-data curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..registry import register, register_layout
from ..scratch import build_once
from ..widths import cluster_cores

_PEPPER = "pepper-v1:"


@register(
    "q_meta_join_skew",
    oracle="""
WITH c AS (
  SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_share,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt) AS p50_cnt,
       percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt) AS p99_cnt,
       ROUND(MAX(cnt) * 1.0
             / percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt), 3)
         AS skew_ratio,
       CAST(MIN(k) FILTER (WHERE cnt = (SELECT MAX(cnt) FROM c))
            AS BIGINT) AS hottest_key
FROM c
""",
)
def q_meta_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census over ``lineitem.l_suppkey`` — the planner
    input that decides a join strategy BEFORE the shuffle runs: distinct
    key count, total rows, the hottest key's absolute count and share,
    p50/p99 of the per-key frequency distribution, and the max/p50 skew
    ratio. A skew_ratio near 1 means plain hash partitioning is fine; a
    large ratio is the signal to salt (q_join_salted) or rely on AQE's
    skew-join split. Ties on the hottest key break to the smallest key
    id so the answer is deterministic.

    Scale: one partial-aggregable count per key (map-side combine), then
    a single reduction over |keys| count rows — never over raw rows. At
    100 TB this is the cheap pre-flight you run on a 1% sample or on
    NDV/histogram stats; the query shape is identical either way.
    """
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_share"),
        F.percentile("cnt", F.lit(0.5)).alias("p50_cnt"),
        F.percentile("cnt", F.lit(0.99)).alias("p99_cnt"),
        F.round(
            F.max("cnt") / F.percentile("cnt", F.lit(0.5)), 3
        ).alias("skew_ratio"),
        F.max_by("k", F.struct(F.col("cnt"), (-F.col("k")).alias("nk")))
        .cast("long")
        .alias("hottest_key"),
    )


_N_BUCKETS = 8


@register_layout("bucket_layout", r"q_meta_partition_layout")
def bucket_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once hive-partitioned lineitem layout
    (``bucket = l_orderkey % {_N_BUCKETS}``), built once by
    ``scratch.build_once``. Exposed so bench.py's layout phase can amortize the
    one-time partitioned write as layout ETL (like bucketed_tables) —
    charging it to whichever query first touches it made the sf0.1
    (median-of-3, runs 2-3 cached) vs sf1 (single-run) scaling ratio
    incomparable."""

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "lineitem")
            .withColumn("bucket", F.pmod("l_orderkey", F.lit(_N_BUCKETS)))
            # hash-repartition BY BUCKET: every bucket's rows land in one
            # task, so each directory still gets exactly one file (the
            # oracle's n_files=1 contract) while the write parallelizes
            # across buckets — repartition(1) serialized the whole table
            # through a single task (sf1 sweep: 15 s at 6M rows)
            .repartition(_N_BUCKETS, "bucket")
            .write.partitionBy("bucket")
            .parquet(out)
        )

    return build_once("bucket_layout", sf_dir, write, sources=("lineitem",))


@register(
    "q_meta_partition_layout",
    oracle=f"""
SELECT CAST(l_orderkey % {_N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
       CAST(1 AS BIGINT) AS n_files
FROM lineitem GROUP BY 1
""",
)
def q_meta_partition_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical partition-layout round-trip: write lineitem
    hive-partitioned by ``bucket = l_orderkey % {_N_BUCKETS}``, read the
    layout back, and recover the bucket FROM THE FILE PATH via the
    ``_metadata.file_path`` hidden column — proving the on-disk
    directory layout agrees row-for-row with the logical bucketing
    (counts + key ranges per bucket match the oracle computed purely
    from values). The R20 offline sort-partition ETL's write side,
    made verifiable.

    Scale: partitionBy writes are the standard layout for partition
    pruning; one file per bucket comes from the pre-write
    ``repartition(_N_BUCKETS, "bucket")`` — each bucket's rows
    co-locate in one task, so the write parallelizes across buckets
    while every directory gets exactly one file (the census then
    reports real per-bucket file counts, the small-files
    diagnostic). The read side's bucket
    recovery is a projection over the scan's constant metadata column —
    no shuffle beyond the final {_N_BUCKETS}-group aggregate.
    """
    back = read_parquet(spark, bucket_layout(spark, sf_dir)).select(
        "l_orderkey", F.col("_metadata.file_path").alias("fp")
    )
    path_bucket = F.regexp_extract("fp", r"bucket=(\d+)", 1).cast("long")
    return (
        back.groupBy(path_bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
            F.countDistinct("fp").alias("n_files"),
        )
    )


@register(
    "q_privacy_pseudonymize",
    oracle=f"""
SELECT sha256('{_PEPPER}' || CAST(user_id AS VARCHAR)) AS token,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_ids,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1
""",
)
def q_privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization: replace ``user_id`` with a peppered
    SHA-256 token and aggregate on the TOKEN — referential consistency
    (same id → same token, so grouping survives tokenization) is proven
    by ``n_ids = 1`` on every output row, and the per-token event counts
    and value sums equal the raw per-user aggregates. The pepper lives
    in the job, not the data: without it, tokens cannot be brute-forced
    from the (small) id domain. Complements q_privacy_kanon /
    q_privacy_column_encryption: tokens are irreversible by design
    where AES columns are decryptable.

    Scale: a hash projection folded into the scan stage plus one
    partial-aggregable groupBy — the same cost as grouping on the raw
    id. In production the pepper comes from a secret store and rotates
    per release; rotation = one full re-tokenization pass, which this
    exact query shape performs.
    """
    ev = load_table(spark, sf_dir, "events")
    tok = F.sha2(
        F.concat(F.lit(_PEPPER), F.col("user_id").cast("string")), 256
    )
    return ev.groupBy(tok.alias("token")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_ids"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "q_text_readability",
    oracle="""
WITH d AS (
  SELECT lang,
         CAST(len(regexp_extract_all(trim(text), '[^ ]+')) AS BIGINT)
           AS words,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS syllables
  FROM documents WHERE length(trim(text)) > 0),
f AS (
  SELECT lang,
         206.835 - 1.015 * words
                 - 84.6 * (syllables * 1.0 / words) AS flesch
  FROM d),
b AS (
  SELECT lang,
         CASE WHEN flesch >= 90 THEN 'very_easy'
              WHEN flesch >= 60 THEN 'easy'
              WHEN flesch >= 30 THEN 'difficult'
              ELSE 'very_difficult' END AS band,
         flesch
  FROM f)
SELECT lang, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(flesch), 2) AS avg_flesch
FROM b GROUP BY lang, band
""",
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease banding per language: per document, words
    (whitespace runs) and syllables (vowel-group runs, the standard
    dictionary-free approximation), then the Flesch formula with the
    fixture's one-sentence-per-document convention, bucketed into the
    canonical bands. The curation knob this feeds: training mixtures
    often cap the very_difficult band (boilerplate/code soup) and
    upsample the easy bands.

    Scale: two regexp counts folded into the scan projection (JVM
    regex, no Python), then a |lang|×|band| aggregate. The band
    assignment compares doubles computed by the identical IEEE
    expression on both engines, so the cut is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    words = F.size(
        F.expr(r"regexp_extract_all(trim(text), '[^ ]+', 0)")
    ).cast("long")
    syll = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    d = docs.select("lang", words.alias("words"), syll.alias("syllables"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("words")
        - F.lit(84.6) * (F.col("syllables") / F.col("words"))
    )
    b = d.select(
        "lang",
        F.when(flesch >= 90, "very_easy")
        .when(flesch >= 60, "easy")
        .when(flesch >= 30, "difficult")
        .otherwise("very_difficult")
        .alias("band"),
        flesch.alias("flesch"),
    )
    return b.groupBy("lang", "band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("flesch"), 2).alias("avg_flesch"),
    )


# fixture FILE COUNT (not a plan width): 4 files x 1 MiB row groups
# give the bloom scan multiple row groups to skip
_N_BLOOM_FILES = 4
_BLOOM_KEY = 17


@register_layout("bloom_layout", r"q_source_parquet_bloom")
def bloom_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once bloom-filtered lineitem rewrite
    (``scratch.build_once``). Exposed for bench.py's layout phase — the
    one-time rewrite is layout ETL (CREATE TABLE ... TBLPROPERTIES
    bloom), not part of the point-lookup being measured."""

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "lineitem")
            # at least the fixture's 4 files for row-group skipping;
            # cluster-core width so the one-time rewrite of a large
            # table doesn't serialize on 4 tasks
            .repartition(max(_N_BLOOM_FILES, cluster_cores(spark)))
            .write.option("parquet.bloom.filter.enabled#l_suppkey", "true")
            .option("parquet.bloom.filter.expected.ndv#l_suppkey", "2000")
            .option("parquet.block.size", 1 << 20)
            .parquet(out)
        )

    return build_once("bloom_layout", sf_dir, write, sources=("lineitem",))


@register(
    "q_source_parquet_bloom",
    oracle=f"""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem WHERE l_suppkey = {_BLOOM_KEY}
GROUP BY l_returnflag
""",
)
def q_source_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter point lookup: lineitem rewritten with a
    column bloom filter on ``l_suppkey`` (writer options
    ``parquet.bloom.filter.enabled#l_suppkey`` + small row groups), then
    a point-predicate read — the layout that turns needle-in-haystack
    lookups on a NON-sort column into row-group skips. Sorting covers
    one column's min/max stats; blooms cover the other hot point-lookup
    columns at ~1 byte/value. The oracle reads the original table,
    proving the rewritten layout is lossless under the predicate.

    Scale: this is the R1 point-scan answer for columns the R20 range
    layout did not sort by — at 100 TB, blooms on (subject, object)
    alongside a predicate sort is the triple-store layout; the read
    side still shows PushedFilters and skips row groups whose bloom
    rejects the key.
    """
    li = read_parquet(spark, bloom_layout(spark, sf_dir)).filter(
        F.col("l_suppkey") == _BLOOM_KEY
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )
