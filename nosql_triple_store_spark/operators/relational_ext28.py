"""Twenty-eighth extension batch: training-sequence packing, corpus
mixture rebalancing, register time travel, time-weighted averages.

Four operators a 100 TB training-data/lakehouse deployment runs daily:

- q_pack_sequences: GPT-style concat-and-chunk packing of documents into
  fixed-token-budget training sequences, per source shard.
- q_mixture_weights: per-source sampling weights that rebalance the
  corpus toward a target mixture (uniform across sources), capped at 1 —
  the static form of DoReMi/Pile-style mixture control.
- q_lww_asof: the versioned register read AS OF a past timestamp — time
  travel over the changelog, the query every Delta/Iceberg user expects
  (reference analog: replaying modifications up to a point,
  SQLite3DBConnector.py:134-180 keeps the full history to allow it).
- q_time_weighted_avg: interval-weighted mean over irregular event
  samples — the correct average for sensor/price series where readings
  arrive unevenly (plain AVG over-weights bursts).

All four are single-pass window/aggregate plans: packing is a per-source
prefix sum (one shuffle by source, ordered scan within), mixture is two
partial-aggregable aggregates and a broadcast, as-of is one filtered LWW
aggregate, TWA is one lead() window + one aggregate. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.lww import latest_by_key
from ..functions.textfns import TOKS_SQL, tokens_col
from ..operators.triple import E_CTE
from ..registry import register

# --- q_pack_sequences -----------------------------------------------------

_SEQ_BUDGET = 2048  # tokens per packed training sequence


@register(
    "q_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok
  FROM documents),
o AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS off
  FROM t)
SELECT source, CAST(off // {_SEQ_BUDGET} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM o GROUP BY source, off // {_SEQ_BUDGET}
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each source shard,
    documents are concatenated in doc_id order and cut into
    {budget}-token training sequences; a document belongs to the
    sequence its first token lands in. Output is the packing manifest
    (docs + token mass per sequence) a dataloader shards by.

    Scale: the prefix sum partitions by source — each shard packs
    independently (one shuffle, no global ordering), exactly how a
    100 TB corpus is packed per input shard in parallel. The global
    single-sequence variant would serialize; per-source is both the
    standard practice and the scalable plan."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens_col()).cast("long").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = t.withColumn("off", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        o.groupBy(
            "source",
            (F.col("off") / _SEQ_BUDGET).cast("long").alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


q_pack_sequences.__doc__ = q_pack_sequences.__doc__.format(budget=_SEQ_BUDGET)


# --- q_mixture_weights ----------------------------------------------------


@register(
    "q_mixture_weights",
    oracle=f"""
WITH t AS (
  SELECT source, CAST(SUM(len({TOKS_SQL})) AS BIGINT) AS tokens
  FROM documents GROUP BY source),
tot AS (
  SELECT CAST(SUM(tokens) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_sources FROM t)
SELECT source, tokens,
       ROUND(CAST(tokens AS DOUBLE) / total, 6) AS actual_share,
       ROUND(LEAST(1.0, (CAST(total AS DOUBLE) / n_sources) / tokens), 6)
         AS sample_weight,
       CAST(ROUND(LEAST(1.0, (CAST(total AS DOUBLE) / n_sources) / tokens)
                  * tokens) AS BIGINT) AS sampled_tokens_est
FROM t, tot
""",
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture rebalancing: per-source sampling weight that moves
    the token mixture toward a uniform target share (1/n_sources),
    capped at 1.0 (never up-sample — over-represented sources are
    down-sampled, under-represented kept whole). The weight column is
    what a downstream `WHERE xxhash64(doc_id) % 1e6 < weight * 1e6`
    sampler consumes.

    Scale: one partial-aggregable token census by source + a broadcast
    of the (tiny) per-source totals — the corpus is never reshuffled."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(tokens_col()).cast("long")).alias("tokens")
    )
    tot = t.agg(
        F.sum("tokens").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    wcol = F.least(
        F.lit(1.0),
        (F.col("total").cast("double") / F.col("n_sources")) / F.col("tokens"),
    )
    return t.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.round(F.col("tokens").cast("double") / F.col("total"), 6).alias(
            "actual_share"
        ),
        F.round(wcol, 6).alias("sample_weight"),
        F.round(wcol * F.col("tokens")).cast("long").alias(
            "sampled_tokens_est"
        ),
    )


# --- q_lww_asof -----------------------------------------------------------


@register(
    "q_lww_asof",
    oracle=f"""
{E_CTE},
cut AS (SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM e),
ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM e, cut WHERE ts <= cutoff)
SELECT user_id, event_type, event_id, ts, value
FROM ranked WHERE rn = 1
""",
)
def q_lww_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register state AS OF a past instant (max event time − 7 days):
    time travel over the changelog. Filter events to ts ≤ cutoff, then
    the same ``latest_by_key`` aggregate as q_lww_latest, over history;
    this is the read Delta/Iceberg `VERSION AS OF` sugar compiles to
    when versions are event-time based (the reference keeps its full
    modification history for exactly this replay,
    SQLite3DBConnector.py:134-180).

    Scale: the cutoff is a 1-row broadcast (no driver round-trip); the
    cut filter runs below the partial aggregate, so only one row per key
    and input partition is shuffled."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    cut = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("cutoff")
    )
    return latest_by_key(
        ev.crossJoin(F.broadcast(cut)).filter(F.col("ts") <= F.col("cutoff")),
        keys=["user_id", "event_type"],
        order=["ts", "event_id"],
        payload=["event_id", "ts", "value"],
    )


# --- q_time_weighted_avg --------------------------------------------------


@register(
    "q_time_weighted_avg",
    oracle=f"""
{E_CTE},
s AS (
  SELECT user_id, ts, value,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_ts
  FROM e),
iv AS (
  SELECT user_id, value,
         CAST(epoch_us(next_ts) - epoch_us(ts) AS BIGINT) AS dur_us
  FROM s WHERE next_ts IS NOT NULL)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS span_us,
       ROUND(SUM(value * dur_us) / SUM(dur_us), 6) AS twa
FROM iv GROUP BY user_id HAVING SUM(dur_us) > 0
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user over irregular event
    samples: each reading holds until the next one, so its weight is
    the interval length (plain AVG over-weights bursts — the classic
    sensor/price-series correction). Integer-µs durations keep the
    weighting exact; one lead() window + one aggregate.

    Scale: window and aggregate share the user_id partitioning — one
    shuffle total, partial-aggregable second phase."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn("next_ts", F.lead("ts").over(w))
    iv = s.filter(F.col("next_ts").isNotNull()).select(
        "user_id",
        "value",
        (
            F.unix_micros(F.col("next_ts").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("dur_us"),
    )
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").alias("span_us"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
            ).alias("twa"),
        )
        .filter(F.col("span_us") > 0)
    )
