"""The LWW register as a CUSTOM STATEFUL streaming operator.

This is the most literal Spark-native re-expression of the reference's
node-local register semantics: each node held an in-memory
``updateModifications`` dict keyed (subject, predicate) whose values were
overwritten newest-timestamp-wins (SQLite3DBConnector.py:83,
mergeSelf at :134-180). Here that dict becomes per-key state in the
executor state store, updated by arbitrary micro-batches — fault-
tolerant, partitioned by the grouping key across 1000 executors, and
evictable via timeouts/TTL where the reference's dict only ever grew.

q_stream_lww expresses the same semantics as a builtin max_by aggregation
(always prefer builtins); these operators cover the *custom stateful
operator* surface — arbitrary per-key state machines (sessionization with
side conditions, CDC normalization, enrich-with-history) that builtin
aggregates cannot express. Two implementations:

- ``q_stream_lww_state``: ``applyInPandasWithState`` (Spark 3.4+ API) —
  always registered, DuckDB-oracle-checked.
- ``q_stream_transform_state``: ``transformWithStateInPandas`` (Spark 4
  API, typed ValueState + timers). Its state-server protocol needs the
  ``google.protobuf`` runtime, which this container lacks, so it is
  registered ONLY when protobuf imports (the driver never sees a query
  that cannot run here; on a protobuf-equipped cluster it registers and
  is oracle-checked identically). The plumbing — grouping, state schema,
  update flow, output compaction — is shared with the runnable variant.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.triple import E_CTE
from ..registry import register, register_skip
from ..widths import cluster_cores
from .queries import _stream_events, drain_to_memory

_STATE_SCHEMA = "ts_us long, event_id long, value double"
_OUT_SCHEMA = (
    "user_id long, event_type string, event_id long, ts_us long, value double"
)

_LWW_STATE_ORACLE = f"""
{E_CTE},
r AS (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM e)
SELECT user_id, event_type, event_id, ts, value FROM r WHERE rn = 1
"""


def _lww_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event stream projected to integer event time (long microseconds) so
    state and Arrow transport stay integer-typed end-to-end."""
    return _stream_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )


def _compact_register(sink: DataFrame) -> DataFrame:
    """Update-mode sinks hold one row per key per emitting micro-batch;
    the register is monotone in (ts_us, event_id), so the lexicographic
    max IS the final state."""
    ordering = F.struct(F.col("ts_us"), F.col("event_id"))
    payload = F.struct(F.col("event_id"), F.col("ts_us"), F.col("value"))
    return (
        sink.groupBy("user_id", "event_type")
        .agg(F.max_by(payload, ordering).alias("__r"))
        .select(
            "user_id",
            "event_type",
            F.col("__r.event_id").alias("event_id"),
            F.timestamp_micros(F.col("__r.ts_us"))
            .cast("timestamp_ntz")
            .alias("ts"),
            F.col("__r.value").alias("value"),
        )
    )


def _lww_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: keep the (ts_us, event_id)-
    lexicographic-max event per key. The tuple order is the deterministic
    tie-break the reference lacks (its strict `>` timestamp compare keeps
    an arbitrary replica on equal timestamps,
    SQLite3DBConnector.py:166)."""
    user_id, event_type = key
    best = tuple(state.get) if state.exists else None
    for pdf in pdfs:
        # numpy lexsort argmax, not pandas sort_values — avoids pandas
        # sort machinery per call; profiling (PLANS.md round 8) shows
        # the per-GROUP applyInPandas dispatch dominates either way,
        # so this is a small constant win, not the lever (the lever
        # was state-partition width, see queries.STATE_WIDTH)
        ts = pdf["ts_us"].to_numpy()
        eid = pdf["event_id"].to_numpy()
        i = int(np.lexsort((eid, ts))[-1])
        cand = (int(ts[i]), int(eid[i]), float(pdf["value"].to_numpy()[i]))
        if best is None or (cand[0], cand[1]) > (best[0], best[1]):
            best = cand
    state.update(best)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "event_type": [event_type],
            "event_id": [best[1]],
            "ts_us": [best[0]],
            "value": [best[2]],
        }
    )


@register("q_stream_lww_state", oracle=_LWW_STATE_ORACLE)
def q_stream_lww_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW register as a custom stateful operator (module docstring):
    per-(user_id, event_type) register state updated newest-wins by each
    micro-batch via applyInPandasWithState. On the bounded fixture the
    compacted output equals the batch window dedup the oracle runs.
    State is O(distinct keys) — the managed, shuffled, fault-tolerant
    version of the reference's process-local dict."""
    out = _lww_inputs(spark, sf_dir).groupBy(
        "user_id", "event_type"
    ).applyInPandasWithState(
        _lww_state_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _compact_register(
        drain_to_memory(out, "update", cluster_cores(spark))
    )


def _protobuf_available() -> bool:
    try:  # pragma: no cover - environment probe
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_lww_processor() -> StatefulProcessor:
    """Build the transformWithState LWW processor.

    Defined as a CLOSURE-LOCAL class on purpose: the transformWithState
    runner unpickles the processor in a state-server worker that does not
    resolve addPyFile-shipped modules (unlike mapInPandas workers), so a
    module-level class fails with ModuleNotFoundError on a vanilla driver
    session. A locally-defined class makes cloudpickle serialize the
    class by value — self-contained bytes, no package import needed
    executor-side."""

    class LWWRegisterProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._reg = handle.getValueState("reg", _STATE_SCHEMA)

        def handleInputRows(
            self, key, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            best = tuple(self._reg.get()) if self._reg.exists() else None
            for pdf in rows:
                top = pdf.sort_values(["ts_us", "event_id"]).iloc[-1]
                cand = (
                    int(top["ts_us"]),
                    int(top["event_id"]),
                    float(top["value"]),
                )
                if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                    best = cand
            self._reg.update(best)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "event_id": [best[1]],
                    "ts_us": [best[0]],
                    "value": [best[2]],
                }
            )

        def close(self) -> None:
            pass

    return LWWRegisterProcessor()


def q_stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW register via the Spark 4 transformWithStateInPandas API.
    Registered only when google.protobuf is importable (module
    docstring); requires the RocksDB state store provider — pinned for
    the query and restored after."""
    out = _lww_inputs(spark, sf_dir).groupBy(
        "user_id", "event_type"
    ).transformWithStateInPandas(
        statefulProcessor=_make_lww_processor(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        sink = drain_to_memory(out, "update", cluster_cores(spark))
    finally:
        spark.conf.set(provider_key, old)
    return _compact_register(sink)


if _protobuf_available():  # pragma: no cover - container lacks protobuf
    register("q_stream_transform_state", oracle=_LWW_STATE_ORACLE)(
        q_stream_transform_state
    )
else:
    # surface the probe result: the correctness artifact shows an
    # explicit skipped entry (with reason) instead of silence
    register_skip(
        "q_stream_transform_state",
        "transformWithStateInPandas state-server protocol requires "
        "google.protobuf, not importable in this runtime; semantics "
        "covered by the applyInPandasWithState twin q_stream_lww_state. "
        "Provisioning: `pip install protobuf` (any >=4.x wheel; pure "
        "dependency of the PySpark state-server client, no jar needed) "
        "turns this entry green on the next run — see "
        "scripts/provision_protobuf.md",
    )


# --- q_stream_tombstone ---------------------------------------------------

_TOMB_STATE_SCHEMA = "ts_us long, event_id long, value double, deleted long"
_TOMB_OUT_SCHEMA = (
    "user_id long, event_type string, event_id long, ts_us long, "
    "value double, deleted long"
)

_STREAM_TOMB_ORACLE = f"""
{E_CTE},
writes AS (
  SELECT user_id, event_type, event_id, ts, value, FALSE AS deleted
  FROM e
  UNION ALL
  SELECT user_id, event_type, event_id, ts + INTERVAL 30 MINUTE,
         CAST(NULL AS DOUBLE), TRUE
  FROM e WHERE event_id % 7 = 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM writes)
SELECT user_id, event_type, event_id, ts, value
FROM ranked WHERE rn = 1 AND NOT deleted
"""


def _tomb_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful LWW where a tombstone is just another timestamped write:
    the register keeps the lexicographic-max (ts_us, event_id) row
    INCLUDING deletes — dropping tombstones before the merge would let
    an older concurrent update resurrect the key (same invariant as the
    batch twin, property-tested in tests/test_ext30.py)."""
    user_id, event_type = key
    best = tuple(state.get) if state.exists else None
    for pdf in pdfs:
        # numpy lexsort argmax — see _lww_state_fn for the per-call
        # pandas-overhead rationale
        ts = pdf["ts_us"].to_numpy()
        eid = pdf["event_id"].to_numpy()
        i = int(np.lexsort((eid, ts))[-1])
        val = pdf["value"].to_numpy()[i]
        cand = (
            int(ts[i]),
            int(eid[i]),
            float("nan") if pd.isna(val) else float(val),
            int(pdf["deleted"].to_numpy()[i]),
        )
        if best is None or (cand[0], cand[1]) > (best[0], best[1]):
            best = cand
    state.update(best)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "event_type": [event_type],
            "event_id": [best[1]],
            "ts_us": [best[0]],
            "value": [best[2]],
            "deleted": [best[3]],
        }
    )


@register("q_stream_tombstone", oracle=_STREAM_TOMB_ORACLE)
def q_stream_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_lww_tombstone: the stateful register merges
    updates AND tombstones (deletes for event_id % 7 == 0, stamped 30
    minutes after the deleted write — same synthesis as the batch twin)
    through one applyInPandasWithState operator; the read view filters
    deleted keys only AFTER the final state compaction. State stays
    O(distinct keys) with one extra flag column."""
    ev = _lww_inputs(spark, sf_dir)
    writes = ev.withColumn("deleted", F.lit(0).cast("long")).unionByName(
        ev.filter(F.col("event_id") % 7 == 0).select(
            "user_id",
            "event_type",
            "event_id",
            (F.col("ts_us") + F.lit(1_800_000_000)).alias("ts_us"),
            F.lit(None).cast("double").alias("value"),
            F.lit(1).cast("long").alias("deleted"),
        )
    )
    out = writes.groupBy("user_id", "event_type").applyInPandasWithState(
        _tomb_state_fn,
        outputStructType=_TOMB_OUT_SCHEMA,
        stateStructType=_TOMB_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_memory(out, "update", cluster_cores(spark))
    ordering = F.struct(F.col("ts_us"), F.col("event_id"))
    payload = F.struct(
        F.col("event_id"), F.col("ts_us"), F.col("value"), F.col("deleted")
    )
    final = (
        sink.groupBy("user_id", "event_type")
        .agg(F.max_by(payload, ordering).alias("__r"))
        .filter(F.col("__r.deleted") == 0)
        .select(
            "user_id",
            "event_type",
            F.col("__r.event_id").alias("event_id"),
            F.timestamp_micros(F.col("__r.ts_us"))
            .cast("timestamp_ntz")
            .alias("ts"),
            F.col("__r.value").alias("value"),
        )
    )
    return final
