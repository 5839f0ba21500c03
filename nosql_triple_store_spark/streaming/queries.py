"""Streaming queries over the events table via a parquet file stream.

The reference's write path is an HTTP-driven changelog merged by periodic
anti-entropy (SURVEY §3.2-3.3); Spark-natively that's a stream: files
arrive, stateful operators maintain the LWW register / window aggregates
continuously. Each query here runs the stream with Trigger.AvailableNow
against the fixture directory, drains to a memory sink, and returns the
final table — on bounded input the result equals the batch computation,
which is exactly what the DuckDB oracles check (same oracles as the batch
twins).

Scale notes: state lives in the executor state store keyed by the
aggregation key (RocksDB-backed in production configs); watermarks bound
state growth by evicting windows older than the allowed lateness. The
aggregations are the same partial-aggregable shapes as their batch twins,
so per-microbatch shuffle volume is the distinct-keys delta, not the raw
event count.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import read_parquet
from ..functions.lww import latest_by_key
from ..registry import register
from ..scratch import build_once, ckpt_tmp, scratch_tmp
from ..session import ensure_runtime_confs, pinned_confs
from ..sources.compaction import publish, publish_file, versions
from ..operators.eventtime import _SLIDING_ORACLE as _BATCH_SLIDING_ORACLE
from ..operators.triple import _LWW_LATEST_ORACLE, E_CTE

# Explicit schema: file streams require one. The fixture's ts column has
# shipped in two physical representations across driver generations —
# INT64 TIMESTAMP(NANOS) (surfacing as ns-long under nanosAsLong) and
# native TIMESTAMP(MICROS) ntz — so the DDL and the event-time conversion
# are derived from the actual file footer (one batch-read peek, cached),
# exactly like catalog.load_table adapts.
_EVENTS_DDL_NS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
_EVENTS_DDL_TS = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _events_ts_is_long(spark: SparkSession, sf_dir: str) -> bool:
    dt = dict(read_parquet(spark, f"{sf_dir}/events.parquet").dtypes)
    return dt.get("ts") == "bigint"


def _events_ddl(spark: SparkSession, sf_dir: str) -> str:
    return (
        _EVENTS_DDL_NS
        if _events_ts_is_long(spark, sf_dir)
        else _EVENTS_DDL_TS
    )


def _event_time_col(spark: SparkSession, sf_dir: str):
    """Event-time ts as tz-aware TIMESTAMP (required by watermarks); the
    UTC-pinned session makes the ntz->tz cast value-preserving."""
    if _events_ts_is_long(spark, sf_dir):
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def _events_stream_dir(sf_dir: str) -> str:
    """File-stream sources require a *directory*; the fixture is a single
    read-only file, so expose it via a symlink in a temp dir (this is also
    how new micro-batch files would arrive in production: atomic moves
    into a watched directory)."""

    def write(d: str) -> None:
        os.makedirs(d)
        os.symlink(f"{sf_dir}/events.parquet", f"{d}/events.parquet")

    return build_once("events_stream", sf_dir, write, sources=("events",))


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    raw = (
        spark.readStream.schema(_events_ddl(spark, sf_dir))
        .format("parquet")
        .load(_events_stream_dir(sf_dir))
    )
    # Event-time columns must be tz-aware TIMESTAMP for watermarks
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on ntz); the session is pinned
    # to UTC, and outputs are cast back to ntz after the sink so results
    # collect identically to the batch twins on any host timezone.
    return raw.withColumn("ts", _event_time_col(spark, sf_dir))


# State-store partition count is baked from spark.sql.shuffle.partitions
# at query start, and its init cost is ∝ partitions × state stores ×
# batches: on these bounded fixtures 4 beats 8 and 16 on every built-in
# stateful query (sf0.1, 32 cores: tumbling 0.73/1.11/0.82 s, stream-
# stream join 1.62/2.14/2.77 s, late_drop 1.00/1.25/1.50 s at 4/8/16),
# and a vanilla session's 200 costs ~25 s. On a real cluster size it to
# active keys per executor memory budget; Python-kernel stateful
# operators (applyInPandasWithState) size it to cores instead.
STATE_WIDTH = 4


def drain(writer: DataStreamWriter, width: int | None) -> None:
    """Run a bounded stream to completion: pin spark.sql.shuffle.partitions
    to ``width`` for the query's lifetime (None keeps the session's),
    give it a fresh checkpoint, trigger availableNow, wait, restore.
    Every streaming query in the engine is started and awaited here."""
    spark = writer._spark  # the writer's session; pyspark has no public getter
    pin = {} if width is None else {"spark.sql.shuffle.partitions": str(width)}
    with pinned_confs(spark, pin):
        (
            writer.option("checkpointLocation", ckpt_tmp("ckpt_"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def drain_to_memory(
    stream_df: DataFrame, output_mode: str, width: int = STATE_WIDTH
) -> DataFrame:
    """``drain`` into a memory sink and return the final table."""
    name = f"mem_{uuid.uuid4().hex[:10]}"
    drain(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        width,
    )
    return stream_df.sparkSession.table(name)


@register(
    "q_stream_tumbling",
    oracle=f"""
{E_CTE}
SELECT date_trunc('hour', ts) AS win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM e GROUP BY 1, 2
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts with a 1-hour watermark — the
    same plan as batch q_tumbling_window lifted onto readStream. On the
    bounded fixture the final state equals the batch result (the oracle);
    the watermark becomes meaningful on unbounded input, bounding state."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    out = drain_to_memory(agg, "complete")
    return out.withColumn("win_start", F.col("win_start").cast("timestamp_ntz"))


@register("q_stream_sliding", oracle=_BATCH_SLIDING_ORACLE)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1h/15min sliding windows with watermark — each event
    expands into 4 window states; same oracle as batch q_sliding_window
    (bounded input ⇒ final state equals the batch result)."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    out = drain_to_memory(agg, "complete")
    return out.withColumn("win_start", F.col("win_start").cast("timestamp_ntz"))


@register("q_stream_lww", oracle=_LWW_LATEST_ORACLE)
def q_stream_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LWW register as a *continuously maintained* streaming state:
    the batch ``latest_by_key`` aggregate keyed (user_id, event_type) in
    complete mode — the reference's anti-entropy merge (R3) becomes a
    standing query. LWW's commutativity/idempotence is what makes
    arbitrary micro-batch boundaries safe: any arrival order converges
    to the same register."""
    agg = latest_by_key(
        _stream_events(spark, sf_dir),
        keys=["user_id", "event_type"],
        order=["ts", "event_id"],
        payload=["event_id", "ts", "value"],
    )
    out = drain_to_memory(agg, "complete")
    return out.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


_STREAM_SESSION_ORACLE = f"""
{E_CTE},
t AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM e),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM t),
g AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS total_value
  FROM s GROUP BY user_id, sess_id),
m AS (SELECT MAX(ts) AS mx FROM e)
SELECT user_id, session_start, n_events, total_value
FROM g, m
WHERE last_ts + INTERVAL 30 MINUTE <= mx - INTERVAL 30 MINUTE
"""


@register("q_stream_session", oracle=_STREAM_SESSION_ORACLE)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows in APPEND mode: a session is emitted
    only once the watermark (max event time − 30 min) passes its end
    (last_ts + 30 min gap) — so the stream's output is the batch result
    MINUS the still-open tail sessions. The oracle encodes exactly that
    truncation (last_ts ≤ max_ts − 60 min), making watermark semantics
    themselves oracle-checked, not just asserted. The final no-data
    micro-batch that availableNow commits is what advances the watermark
    and flushes the closed sessions."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    out = drain_to_memory(agg, "append")
    return out.withColumn(
        "session_start", F.col("session_start").cast("timestamp_ntz")
    )


_STREAM_JOIN_ORACLE = f"""
{E_CTE},
p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM e
      WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM e
      WHERE event_type = 'click')
SELECT p.purchase_id, c.click_id, p.user_id
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
 AND c.c_ts <= p.p_ts
"""


@register("q_stream_stream_join", oracle=_STREAM_JOIN_ORACLE)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding 30 minutes — the attribution join as
    two live streams. Both sides carry watermarks and the join condition
    carries the time bound, which is what lets Spark evict join state
    (purchases older than click-watermark − 30 min can never match
    again). Inner joins emit matches as both sides arrive, so on bounded
    input the result equals the batch interval join — the oracle."""
    ev = _stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 30 MINUTE"))
        & (clicks.c_ts <= purchases.p_ts),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return drain_to_memory(joined, "append")


def _counter_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: running per-user event count +
    running value sum, persisted in the state store across micro-batches."""
    (user_id,) = key
    if state.exists:
        (n, total) = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
    )


@register(
    "q_stream_stateful_counter",
    oracle="SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, "
    "ROUND(SUM(value), 2) AS total_value FROM events GROUP BY user_id",
)
def q_stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum) state — the escape hatch for stateful semantics
    the built-in aggregates can't express (reference analog: the node's
    in-memory updateModifications dict, SQLite3DBConnector.py:83, held as
    managed, fault-tolerant state instead of a process-local python dict).
    On bounded input the final emission equals the batch group-by."""
    from ..widths import fanout_width

    ev = _stream_events(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        _counter_fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Python-kernel stateful operator: the per-group pandas dispatch is
    # the cost, so width follows the machine (widths.fanout_width =
    # cores/2), not the fixture-sized default. A/B at sf0.1,
    # 32 cores: width 4 → 1.70 s, 8 → 1.42, 16 → 1.05, 32 → 1.54 —
    # cores/2 is the plateau, matching the module-wide fan-out policy.
    return drain_to_memory(out, "update", fanout_width(spark))


@register(
    "q_stream_dedup",
    oracle=f"""
{E_CTE}
SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
FROM e
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    dropDuplicatesWithinWatermark on (user_id, event_type, hour) — the
    streaming twin of exact dedup (q_dedup_exact) for a continuously
    arriving changelog. First-arrival rows are emitted immediately
    (append mode, no window end to wait for); the watermark lets the
    state store EVICT keys older than the lateness bound instead of
    holding every key ever seen — the difference between O(active keys)
    and O(all history) state at 100 TB. Output is projected to the dedup
    key, so which duplicate arrived first is immaterial — the result is
    exactly the batch DISTINCT the oracle computes."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    keyed = ev.select(
        "ts",
        "user_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
    )
    deduped = keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "hr"]
    ).select("user_id", "event_type", "hr")
    out = drain_to_memory(deduped, "append")
    return out.withColumn("hr", F.col("hr").cast("timestamp_ntz"))


@register("q_stream_compact", oracle=_LWW_LATEST_ORACLE)
def q_stream_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming write path END-TO-END: foreachBatch drives the
    versioned on-disk register (sources/compaction.py) — each
    micro-batch folds its delta into a new LWW-compacted parquet
    version, exactly how the production sink runs (Delta/Iceberg MERGE
    per micro-batch). The returned DataFrame is the register read back
    from disk after the stream drains; the oracle is the batch LWW
    state over all events. Retry: a micro-batch re-run after a failed
    compact finds no new version (the version dir is the commit point),
    drops the orphan delta and folds again; a re-run after a committed
    compact adds one more version with the same state, since the LWW
    fold is idempotent (the reference replays its changelog the same
    way, SURVEY §3.2)."""
    from ..sources.compaction import compact, read_register

    base = os.path.join(
        scratch_tmp("stream_register_"), "register"
    )
    keys, order = ["user_id", "event_type"], ["ts", "event_id"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        compact(batch_df.sparkSession, base, batch_df, keys, order)

    ev = _stream_events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    drain(ev.writeStream.foreachBatch(sink), 16)
    # a lazy read over the final version: the register dir outlives the
    # query fn (scratch_tmp removes it at process exit, after any
    # collect), so no checkpoint pass is needed to allow early cleanup
    out = read_register(spark, base).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    return out.select("user_id", "event_type", "event_id", "ts", "value")


@register(
    "q_stream_static_join",
    oracle=f"""
{E_CTE}
SELECT c.c_mktsegment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(e.value), 2) AS total_value
FROM e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — THE canonical streaming pattern: the
    event stream joins a static dimension (customer) micro-batch by
    micro-batch, then aggregates per (segment, type). The static side
    is planned as a broadcast into each micro-batch (no stream-side
    state for the join; only the downstream aggregate keeps state).
    On bounded input the final table equals the batch join+aggregate,
    which the oracle checks."""
    from ..catalog import load_table

    ev = _stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return drain_to_memory(agg, "complete")


_LATE_SPLIT = "2024-01-10"


def _late_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three-file stream: A1 + A2 = events on/after the split date (two
    on-time batches), B = everything before the split, arriving LAST.
    Three files, not two, because of a measured Spark semantic: the
    late-event filter uses the watermark as of ONE COMMIT EARLIER than
    the running batch (state EVICTION uses the current watermark, late-
    row filtering the previous one — watermark propagation lags a
    batch). With only two files the late batch runs under the initial
    1970 watermark and nothing is dropped; with the bulk split across
    two leading batches, the late batch filters under ~max_ts - delay.
    File order is pinned by mtime (FileStreamSource processes oldest
    first)."""

    def write(out: str) -> None:
        ensure_runtime_confs(spark)
        raw = spark.read.schema(_events_ddl(spark, sf_dir)).parquet(
            f"{sf_dir}/events.parquet"
        )
        ts = _event_time_col(spark, sf_dir)
        split = F.lit(_LATE_SPLIT).cast("timestamp")
        mid = F.lit("2024-01-20").cast("timestamp")
        os.makedirs(out)
        for sub, cond, mtime in (
            ("a1", (ts >= split) & (ts < mid), 1_000_000),
            ("a2", ts >= mid, 2_000_000),
            ("b", ts < split, 3_000_000),
        ):
            dst = f"{out}/{sub}.parquet"
            publish_file(raw.filter(cond), dst)
            os.utime(dst, (mtime, mtime))

    return build_once("events_late_stream", sf_dir, write, sources=("events",))


@register(
    "q_stream_late_drop",
    oracle=f"""
{E_CTE}
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM e
WHERE ts >= TIMESTAMP '{_LATE_SPLIT}'
GROUP BY 1, 2
""",
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, oracle-encoded: two on-time micro-
    batches push the watermark to ~max event time; the final micro-
    batch carries ONLY pre-split events — every one lands in a day-
    window whose end precedes the (one-commit-lagged, see
    _late_stream_dir) late-event watermark, so the stateful aggregate
    DROPS them all. The oracle is the batch aggregate over on-time
    rows only — the drop itself is what the differential check
    verifies (q_stream_session checks append-mode emission timing;
    this checks state-side rejection). maxFilesPerTrigger=1 pins the
    three-batch schedule."""
    d = _late_stream_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(_events_ddl(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(d)
    )
    ev = raw.withColumn("ts", _event_time_col(spark, sf_dir)).withWatermark(
        "ts", "1 hour"
    )
    agg = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("day"), "event_type", "n_events"
        )
    )
    out = drain_to_memory(agg, "update")
    return out.withColumn("day", F.col("day").cast("timestamp_ntz"))


# --- q_stream_incr_view ---------------------------------------------------

_INCR_FILES = 8


def _events_multifile_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events rewritten as 8 parquet files so maxFilesPerTrigger yields
    genuinely multiple micro-batches (the fixture is one file)."""
    from ..catalog import load_table

    def write(out: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value")
            .repartition(_INCR_FILES)
            .write.parquet(out)
        )

    return build_once("incrsrc", sf_dir, write, sources=("events",))


@register(
    "q_stream_incr_view",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
)
def q_stream_incr_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance — the streaming
    lakehouse pattern q_stream_compact's LWW register doesn't cover:
    each micro-batch folds its ADDITIVE partial aggregate into a
    versioned on-disk view (old view ∪ batch partial → re-aggregate →
    new version), i.e. what Delta Live Tables / Materialize do for
    `SELECT event_type, count(*), sum(cents) GROUP BY event_type`.
    maxFilesPerTrigger=2 over an 8-file copy forces 4 real micro-batch
    merges, so the fold path is actually exercised; the oracle is the
    batch census, which the final view version must equal exactly
    (integer-cent sums — associativity is exact, so arrival order
    can't change the result).

    Scale: the view is aggregate-sized (|distinct keys|), so each merge
    shuffles the batch partial + a tiny table; the source is never
    re-scanned (contrast a full-refresh MV, which re-reads everything
    every trigger — the whole point of incremental maintenance)."""
    src = _events_multifile_dir(spark, sf_dir)
    base = scratch_tmp("incr_view_")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch re-executes a failed micro-batch with the same
        # batch_id, so the version path derives from batch_id and a
        # retry whose version was published is a no-op
        vpath = f"{base}/v{batch_id:06d}"
        if os.path.isdir(vpath):
            return
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100).cast("long")
            ).alias("cents"),
        )
        prior = versions(base, "v")
        if prior:
            cur = batch_df.sparkSession.read.parquet(prior[-1])
            partial = (
                cur.unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("cents").alias("cents"),
                )
            )
        publish(partial.coalesce(1), vpath)

    stream = (
        spark.readStream.schema(
            "event_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(fold), 8)
    return spark.read.parquet(versions(base, "v")[-1])


@register(
    "q_stream_source_avro",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus
""",
)
def q_stream_source_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest through the pure-Python Avro codec: the orders
    table is landed as Avro container files (sources/avro_py.py), then
    read back as a FILE STREAM — binaryFile streaming source feeding
    the same mapInPandas decoder the batch path uses — and aggregated
    to the batch answer (availableNow drain). Proves the custom-codec
    plumbing composes with Structured Streaming unchanged: a
    landing-zone directory of Avro files becomes an incremental
    pipeline by swapping read() for readStream(), which is exactly the
    Kafka-archive/landing-zone ingest shape at 100 TB (new files =
    new micro-batches; the decoder runs per-task on whole files)."""
    import os as _os

    from ..catalog import load_table
    from ..sources.avro_py import write_avro_dir

    ensure_runtime_confs(spark)
    from ..widths import cluster_cores

    # width the encode so write and binaryFile read parallelize past
    # the source's scan-partition count (see relational_ext9)
    src = load_table(spark, sf_dir, "orders").repartition(
        cluster_cores(spark)
    )
    out = build_once(
        "avro_stream",
        sf_dir,
        lambda out: write_avro_dir(src, out),
        sources=("orders",),
    )
    # the streaming twin of read_avro_dir: binaryFile as a stream,
    # decoded by the SAME kernel the batch reader uses
    from pyspark.sql import types as T

    from ..sources.avro_py import decode_kernel

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("modificationTime", T.TimestampType()),
                    T.StructField("length", T.LongType()),
                    T.StructField("content", T.BinaryType()),
                ]
            )
        )
        .load(_os.path.join(out, "*.avro"))
    )
    decoded = files.select("content").mapInPandas(
        decode_kernel(src.schema), schema=src.schema
    )
    agg = decoded.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    return drain_to_memory(agg, "complete")


@register(
    "q_stream_source_bson",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders GROUP BY o_orderstatus
""",
)
def q_stream_source_bson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest of mongodump exports: BSON files
    (sources/bson_py.py) read as a binaryFile stream and decoded by
    the same per-file kernel the batch path uses — the incremental
    migration shape off the reference's MongoDB backend (each new dump
    chunk in the landing directory becomes a micro-batch; availableNow
    drains to the batch answer). Sibling of q_stream_source_avro with
    the other interchange codec."""
    import os as _os

    from pyspark.sql import types as T

    from ..catalog import load_table
    from ..sources.bson_py import decode_documents, write_bson_dir

    ensure_runtime_confs(spark)
    cols = ["o_orderkey", "o_orderstatus"]
    from ..widths import cluster_cores

    src = (
        load_table(spark, sf_dir, "orders")
        .select(*cols)
        .repartition(cluster_cores(spark))
    )
    out = build_once(
        "bson_stream",
        sf_dir,
        lambda out: write_bson_dir(src, out),
        sources=("orders",),
    )
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("modificationTime", T.TimestampType()),
                    T.StructField("length", T.LongType()),
                    T.StructField("content", T.BinaryType()),
                ]
            )
        )
        .load(_os.path.join(out, "*.bson"))
    )

    def _read(it):
        import pandas as pd

        for pdf in it:
            for content in pdf["content"]:
                docs = decode_documents(bytes(content))
                yield pd.DataFrame(
                    {c: [d.get(c) for d in docs] for c in cols},
                    columns=cols,
                )

    decoded = files.select("content").mapInPandas(_read, schema=src.schema)
    agg = decoded.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
    )
    return drain_to_memory(agg, "complete")
