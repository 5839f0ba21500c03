"""Eighth extension batch: JSONL source roundtrip, bigram-novelty text
scoring, count-min sketch frequency estimation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.textfns import TOKS_SQL, tokens_col
from ..registry import register
from ..scratch import build_once
from ..materialize import lazy_cut

@register(
    "q_source_jsonl",
    oracle="""
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang, source
""",
)
def q_source_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source: documents exported to JSONL (the interchange
    format every LLM data pipeline speaks), read back with an EXPLICIT
    schema — schema inference on JSON costs a full extra pass at 100 TB
    and can silently widen types; pinning the schema keeps the read
    single-pass and stable. Aggregate proves the roundtrip is lossless
    (oracle runs on the original parquet)."""
    out = build_once(
        "documents_jsonl",
        sf_dir,
        lambda out: load_table(spark, sf_dir, "documents").write.json(out),
        sources=("documents",),
    )
    docs = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_BIGRAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
bi AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM toks, LATERAL UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
df AS (SELECT bg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM bi GROUP BY bg),
scored AS (
  SELECT bi.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CASE WHEN df.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rare,
         SUM(df.df) AS sum_df
  FROM bi JOIN df USING (bg)
  GROUP BY bi.doc_id)
SELECT doc_id, n_bigrams, n_rare,
       ROUND(n_rare * 1.0 / n_bigrams, 4) AS rare_ratio
FROM scored
WHERE n_bigrams >= 5
ORDER BY n_rare * 1.0 / n_bigrams DESC, sum_df ASC, doc_id
LIMIT 100
"""


@register("q_text_bigram_novelty", oracle=_BIGRAM_ORACLE)
def q_text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-novelty scoring: docs ranked by the fraction of their
    token bigrams that are corpus-rare (document frequency <= 2) — the
    exact-arithmetic stand-in for LM-perplexity filtering in training
    pipelines (high rare-bigram ratio ≈ high perplexity ≈ novel or
    noisy). Every score is a ratio of exact ints (no logs, no float
    accumulation), so ranking is bit-identical cross-engine; ties break
    by total corpus-frequency then doc_id.

    Round-8 plan (VERDICT r7 #5, 13.4 → 6.4 s at sf1): the tokenize +
    explode pass — the dominant cost — runs ONCE; its output is
    immediately reduced to the (bg, doc_id, c) incidence relation
    (partial-aggregable, so instance rows combine map-side before the
    one wide shuffle) and lazily checkpointed. BOTH downstream
    consumers — the per-bigram document frequency and the per-doc
    score — read the incidence, never the instance stream: df(bg) is
    a row count per bg over it, and every per-doc stat is a weighted
    sum (Σc, Σc·[df≤2], Σc·df). The df join is left to AQE: at
    fixture scale df broadcasts; on a real corpus (billions of
    distinct bigrams) it degrades to a shuffle join whose both sides
    are already aggregates — no variant of this plan ever windows
    over a raw bg partition, which would hot-spot on stopword bigrams."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col().alias("t"))
    # size >= 2 guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]),
    # so a 1-token doc would index t[1] and error; DuckDB's
    # generate_series(1, 0) is empty, so filtering matches the oracle
    bi = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(t[i-1], ' ', t[i]))"
            )
        ).alias("bg"),
    )
    cnt = (
        bi.groupBy("bg", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(lazy_cut)
    )
    df = cnt.groupBy("bg").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        cnt.join(df, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.when(F.col("df") <= 2, F.col("c")).otherwise(0)).alias(
                "n_rare"
            ),
            F.sum(F.col("c") * F.col("df")).alias("sum_df"),
        )
        .filter(F.col("n_bigrams") >= 5)
    )
    ratio = F.col("n_rare") * 1.0 / F.col("n_bigrams")
    return (
        scored.select(
            "doc_id", "n_bigrams", "n_rare", "sum_df",
            ratio.alias("_r"), F.round(ratio, 4).alias("rare_ratio"),
        )
        .orderBy(F.desc("_r"), F.asc("sum_df"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", "n_bigrams", "n_rare", "rare_ratio")
    )


CMS_DEPTH = 4
CMS_WIDTH = 256


def build_countmin(events: DataFrame, key: str) -> DataFrame:
    """Count-min sketch as a DataFrame: (seed, bucket, cnt) counters,
    bucket = xxhash64(key, seed) mod width. Fully partial-aggregable —
    a 100 TB stream reduces map-side to depth x width counters per
    partition before any shuffle; sketches from disjoint data UNION+SUM
    into the sketch of the union (mergeability is what makes CMS the
    streaming/distributed counter of choice)."""
    seeds = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed")
    return (
        events.select(F.col(key).alias("k"), seeds)
        .select(
            "seed",
            F.pmod(F.xxhash64("k", "seed"), F.lit(CMS_WIDTH)).alias("bucket"),
        )
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register("q_agg_countmin", oracle=None)  # rows-only: hash-layout specific
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimate of per-user event counts: probe each distinct
    user through the sketch (min over depth rows of its bucket
    counters). Estimates are deterministic given the hash (xxhash64) but
    engine-specific, so the driver check is rows-only; the CMS guarantee
    (estimate >= true count, bounded overshoot) is asserted exactly in
    tests/test_countmin.py against the exact aggregate."""
    events = load_table(spark, sf_dir, "events")
    cms = build_countmin(events, "user_id")
    keys = events.select(F.col("user_id").alias("k")).distinct()
    probes = keys.select(
        "k",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed"),
    ).select(
        "k", "seed", F.pmod(F.xxhash64("k", "seed"), F.lit(CMS_WIDTH)).alias("bucket")
    )
    est = (
        probes.join(F.broadcast(cms), ["seed", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_n"))
    )
    return est.select(F.col("k").alias("user_id"), "est_n")
