"""Fourteenth extension batch: interval-union coverage, hypertable-style
multi-granularity re-aggregation, runtime bloom-filter join, and product
quantization codes.

Lineage: north-star analytics + LLM-pipeline surface (SURVEY §2.C). The
hypertable rollup is the task brief's "hypertable rollup" custom
operator, expressed as re-aggregation of stored partials; the runtime
bloom filter is the third pruning mechanism the engine demonstrates
(static partition pruning in q_range_prune/q_zorder_prune, DYNAMIC
partition pruning in q_join_dpp, runtime ROW-level filtering here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..session import pinned_confs
from .triple import E_CTE
from ..materialize import materialize

_SESSION_US = 900 * 1_000_000  # 15-minute activity interval per event

_INTERVAL_UNION_ORACLE = f"""
{E_CTE},
iv AS (
  SELECT user_id, event_id,
         CAST(epoch_us(ts) AS BIGINT) AS s,
         CAST(epoch_us(ts) AS BIGINT) + {_SESSION_US} AS e
  FROM e),
marked AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e,
         event_id
  FROM iv),
islands AS (
  SELECT user_id, s, e,
         CAST(SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM marked),
per_island AS (
  SELECT user_id, island, MAX(e) - MIN(s) AS covered_us
  FROM islands GROUP BY user_id, island)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(covered_us) AS BIGINT) AS covered_us
FROM per_island GROUP BY user_id
"""


@register("q_interval_union", oracle=_INTERVAL_UNION_ORACLE)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage ("total active time"): each event opens a
    15-minute activity interval; overlapping intervals merge, and the
    answer is the exact union length per user in microseconds — the
    dedup-of-overlapping-watch-time operator every engagement metric
    needs (naive sum double-counts overlaps). Sweep-line as windows: a
    running max-end detects island starts, a running sum numbers the
    islands, then two exact-int aggregates. All arithmetic is integer
    microseconds — bit-identical cross-engine. One shuffle (by user);
    the ORDER BY carries an event_id tiebreak so ROWS frames are
    deterministic under equal timestamps."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + _SESSION_US).alias("e"),
    )
    order = [F.col("s"), F.col("e"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = iv.withColumn("prev_max_e", F.max("e").over(w_prev))
    islands = marked.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
                1,
            ).otherwise(0)
        ).over(w_cum),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered_us")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("covered_us").alias("covered_us"),
    )


_HYPERTABLE_ORACLE = f"""
{E_CTE},
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS v
  FROM e GROUP BY 1, 2),
daily AS (
  SELECT event_type, date_trunc('day', hr) AS day,
         CAST(SUM(n) AS BIGINT) AS n, ROUND(SUM(v), 2) AS v
  FROM hourly GROUP BY 1, 2),
monthly AS (
  SELECT event_type, CAST(date_trunc('month', day) AS DATE) AS month,
         CAST(SUM(n) AS BIGINT) AS n, ROUND(SUM(v), 2) AS v
  FROM daily GROUP BY 1, 2)
SELECT event_type, month, n, v FROM monthly
"""


@register("q_agg_hypertable", oracle=_HYPERTABLE_ORACLE)
def q_agg_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate chain (task brief): raw
    events roll to HOURLY partials, days re-aggregate the hours, months
    re-aggregate the days — three cascaded partial-aggregable groupBys,
    never re-touching raw data after the first. This is the storage
    pattern at 100 TB: persist the hourly layer (~raw/1000 rows), serve
    every coarser granularity from it; counts re-aggregate exactly and
    the value chain rounds at each layer to 2dp (sums of 2dp-clean
    addends — both engines accumulate identical doubles, and the oracle
    replicates the SAME chain, so chained rounding is not drift). Each
    re-aggregation shrinks keys ~24-30×, so shuffles get cheaper as the
    chain climbs."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "hr").alias("day")
    ).agg(F.sum("n").alias("n"), F.round(F.sum("v"), 2).alias("v"))
    monthly = daily.groupBy(
        "event_type", F.date_trunc("month", "day").cast("date").alias("month")
    ).agg(F.sum("n").alias("n"), F.round(F.sum("v"), 2).alias("v"))
    return monthly


_BLOOM_ORACLE = """
SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 1) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag
"""

_BLOOM_CONFS = {
    # force a shuffle join so the runtime filter has a big probe side to
    # protect (broadcast joins don't need blooms — the hash table IS the
    # filter); thresholds lowered so the demo fires at fixture scale.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}


@register("q_join_bloom_runtime", oracle=_BLOOM_ORACLE)
def q_join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join: revenue of line items belonging to
    URGENT orders, as a shuffle join where Catalyst injects a bloom
    filter built from the filtered orders side into the lineitem scan —
    row-level runtime pruning, the shuffle-join analog of q_join_dpp's
    partition pruning. At 100 TB this is the difference between
    shuffling ALL of lineitem vs ~the matching fraction: probe rows
    failing the bloom never enter the exchange. Confs pin the demo
    (broadcast disabled, thresholds floored) for THIS plan only — they
    are restored after an eager localCheckpoint materializes the small
    aggregated result, so nothing leaks into the caller's session.
    tests/test_ext14.py asserts the bloom is actually in the plan.
    Revenue rounds at 1dp (multiplied doubles are boundary-dense at
    2dp — the repo's probed rounding rule)."""
    with pinned_confs(spark, _BLOOM_CONFS):
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    1,
                ).alias("revenue"),
            )
            .transform(materialize)
        )
    return out


_PQ_M = 4  # subspaces
_PQ_K = 16  # centroids per subspace
_PQ_SUBDIM = 16  # 64-dim embeddings / 4 subspaces


@register("q_vector_pq")  # rows-only: float L2 distances + argmin are
# engine-specific at the ulp level; invariants in tests/test_ext14.py
def q_vector_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization codes: each 64-d embedding splits into 4
    16-d subvectors, each assigned to its nearest of 16 per-subspace
    centroids — the 4-byte-per-vector compression that lets a 100 TB
    ANN index hold codes in RAM and scan distances via lookup tables
    (Jégou et al., PQ for nearest neighbor search; complements
    q_vector_quantize's scalar int8 codes and q_vector_knn_ivf's
    coarse partitioning). Codebook is DETERMINISTIC: the subvectors of
    vec_id 0..15 (k-means would converge better but needs iterations;
    the plumbing — slice, broadcast codebook, min_by argmin with cid
    tiebreak, code assembly — is identical). Output: vec_id, one code
    per subspace, and the reconstruction squared error."""
    emb = load_table(spark, sf_dir, "embeddings")
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
                            "sv"
                        ),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.m").alias("m"), F.col("x.sv").alias("sv"))
    codebook = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("m").alias("cm"),
        F.col("vec_id").cast("int").alias("cid"),
        F.col("sv").alias("cv"),
    )
    dist = F.aggregate(
        F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        sub.join(F.broadcast(codebook), F.col("m") == F.col("cm"))
        .select(
            "vec_id",
            "m",
            F.struct(dist.alias("d"), F.col("cid").alias("cid")).alias("dc"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("best"))
        .select(
            "vec_id",
            "m",
            F.col("best.cid").alias("cid"),
            F.col("best.d").alias("sq_err"),
        )
    )
    return (
        assigned.groupBy("vec_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("m", "cid")))
            ).alias("codes"),
            F.sum("sq_err").alias("recon_sq_err"),
        )
        .select(
            "vec_id",
            F.col("codes")[0].alias("code0"),
            F.col("codes")[1].alias("code1"),
            F.col("codes")[2].alias("code2"),
            F.col("codes")[3].alias("code3"),
            F.round("recon_sq_err", 4).alias("recon_sq_err"),
        )
    )
