"""Twenty-sixth extension batch: repetition filters, benchmark
contamination, rolling medians, small-file compaction.

Three more training-data-pipeline staples (Gopher's within-document
repetition signals, the eval-set n-gram contamination audit every LLM
corpus ships with, and the table-maintenance compaction job), plus the
exact rolling median — the order-statistic rolling aggregate that, unlike
sum/count, has no incremental form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.textfns import TOKS_SQL, shingles_col, shingles_sql, tokens_col
from ..operators.triple import E_CTE
from ..registry import register
from ..scratch import build_once
from ..widths import fanout_width
from ..materialize import materialize

# --- q_text_repetition --------------------------------------------------

_REPETITION_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
b AS (
  SELECT doc_id,
         unnest([array_to_string(toks[i:i+1], ' ')
                 for i in range(1, len(toks))]) AS bg
  FROM t WHERE len(toks) >= 2),
c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY doc_id, bg)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 4)
         AS dup_frac,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 4)
         AS top_frac
FROM c GROUP BY doc_id
"""


@register("q_text_repetition", oracle=_REPETITION_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1, public paper): per document, the fraction of word bigrams
    that are repeats (1 - distinct/total) and the share of the single
    most frequent bigram. High values flag boilerplate/spam for the
    cleaning pass (compose with q_text_quality / q_clean_pipeline).

    Shape: explode bigrams -> count per (doc, bigram) -> per-doc roll-up
    — two partial-aggregable groupBys, shuffle keyed (doc_id, bigram)
    then doc_id. All ratios are divisions of exact integer counts, so
    the 4dp round is engine-stable. Docs with <2 tokens drop out on
    both sides (no bigrams)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    bigrams = F.when(
        F.size("toks") < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
        )
    )
    bg = (
        docs.select("doc_id", toks.alias("toks"))
        .repartition(fanout_width(spark), "doc_id")  # single-file scan fan-out (SCALE.md)
        .select("doc_id", F.explode(bigrams).alias("bg"))
    )
    counts = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            1.0
            - F.count(F.lit(1)).cast("double")
            / F.sum("cnt").cast("double"),
            4,
        ).alias("dup_frac"),
        F.round(
            F.max("cnt").cast("double") / F.sum("cnt").cast("double"), 4
        ).alias("top_frac"),
    )


# --- q_text_contamination ------------------------------------------------

_CONTAM_K = 5

_CONTAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest({shingles_sql("toks", _CONTAM_K)}) AS sh
  FROM t WHERE len(toks) >= {_CONTAM_K}),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN sh IN (SELECT sh FROM bench) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       ROUND(CAST(SUM(CASE WHEN sh IN (SELECT sh FROM bench) THEN 1
                           ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 4) AS contamination
FROM sh WHERE doc_id % 2 = 0
GROUP BY doc_id
"""


@register("q_text_contamination", oracle=_CONTAM_ORACLE)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination audit: for every training document (even
    doc_id), the fraction of its distinct {k}-token shingles that appear
    anywhere in the held-out benchmark slice (doc_id % 10 == 1) — the
    n-gram-overlap decontamination check run before every LLM training
    run (GPT-3 appendix C / PaLM-style, public papers).

    Scale shape: the benchmark shingle set is DISTINCT'd then broadcast
    (eval sets are tiny next to the corpus — here ~10% of docs, in
    production a few hundred benchmarks); the training side streams
    through a broadcast left-semi probe, so the corpus is never
    shuffled by shingle. The shingle stream fans out two ways
    (benchmark + training) -> localCheckpoint once (SCALE.md single-file
    fan-out rule). Counts are exact integers; one 4dp-rounded ratio."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", tokens_col().alias("toks"))
        .repartition(fanout_width(spark), "doc_id")
        .select(
            "doc_id",
            F.explode(shingles_col(F.col("toks"), _CONTAM_K)).alias("sh"),
        )
        .transform(materialize)
    )
    bench = (
        sh.filter(F.col("doc_id") % 10 == 1).select("sh").distinct()
    )
    train = sh.filter(F.col("doc_id") % 2 == 0)
    hit = (
        train.join(F.broadcast(bench), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    total = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    return (
        total.join(hit, "doc_id", "left")
        .na.fill({"n_contaminated": 0})
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double"),
                4,
            ).alias("contamination"),
        )
    )


q_text_contamination.__doc__ = q_text_contamination.__doc__.format(
    k=_CONTAM_K
)

# --- q_window_rolling_median ---------------------------------------------

_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
x AS (SELECT user_id, d, cents,
             date_diff('day', DATE '1970-01-01', d) AS day_idx
      FROM daily)
SELECT user_id, d, cents,
       ROUND(median(cents) OVER (
         PARTITION BY user_id ORDER BY day_idx
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 1) AS med7
FROM x
"""


@register("q_window_rolling_median", oracle=_ROLLMED_ORACLE)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of per-user daily spend — the order-statistic
    rolling aggregate. Unlike q_window_running's sum, a median cannot be
    maintained incrementally by a frame delta; both engines re-rank the
    frame per row, which is exactly why at 100 TB you bound the frame by
    TIME (RANGE over a day index, ≤7 rows here) rather than ROWS over raw
    events. Daily values are exact integer cents (the round(value*100)
    contract shared with q_agg_gini), so the only float is the final
    even-count interpolation (a+b)/2 — exactly representable, rounded
    1dp on both engines. Spark's median()/percentile() aggregates
    reject window frames (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so
    the bounded frame is collected with collect_list and the midpoint
    taken from the sorted array — exact, and the array stays ≤7 long
    regardless of event volume because it runs over PRE-AGGREGATED
    daily rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id",
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
        .withColumn(
            "day_idx", F.datediff("d", F.lit("1970-01-01").cast("date"))
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_idx")
        .rangeBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("cents").over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1,
        F.element_at(arr, ((n + 1) / 2).cast("int")).cast("double"),
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2).cast("int") + 1)
        )
        / 2.0
    )
    return daily.select(
        "user_id",
        "d",
        "cents",
        F.round(med, 1).alias("med7"),
    )


# --- q_maintenance_compact ------------------------------------------------

_COMPACT_ORACLE = f"""
{E_CTE}
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM e GROUP BY event_type
"""

_SMALL_FILES = 48
_COMPACT_TARGET = 4


def compact_dir(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the small-file layout and its compacted rewrite
    once (``scratch.build_once``); returns (small_dir, compacted_dir).
    Exposed for tests."""

    def write(base: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        ev.repartition(_SMALL_FILES).write.parquet(f"{base}/small")
        (
            spark.read.parquet(f"{base}/small")
            .coalesce(_COMPACT_TARGET)
            .write.parquet(f"{base}/compacted")
        )

    base = build_once("compact", sf_dir, write, sources=("events",))
    return f"{base}/small", f"{base}/compacted"


@register("q_maintenance_compact", oracle=_COMPACT_ORACLE)
def q_maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every streaming
    ingest needs (per-micro-batch appends leave thousands of KB-sized
    files; parquet footer+open overhead then dominates scans). The
    rewrite is coalesce(), NOT repartition(): coalesce merges existing
    partitions without a shuffle, which is the right tool when the goal
    is purely fewer/bigger files and no clustering change (compare
    sources/zorder.py when a layout change IS wanted). The oracle checks
    the census of the compacted copy equals the source table — compaction
    must be byte-transparent to readers; tests/test_ext26.py asserts the
    file count actually dropped {sf}x."""
    _, compacted = compact_dir(spark, sf_dir)
    back = spark.read.parquet(compacted)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


q_maintenance_compact.__doc__ = q_maintenance_compact.__doc__.format(
    sf=_SMALL_FILES // _COMPACT_TARGET
)
