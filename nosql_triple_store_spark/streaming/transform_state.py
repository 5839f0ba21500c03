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
aggregates cannot express. Three queries:

- ``q_stream_lww_state`` and ``q_stream_tombstone``: ``applyInPandasWithState``
  (Spark 3.4+ API) running ``functions.lww.latest_state_fn``, the one
  per-key LWW kernel; the tombstone register carries a ``deleted`` flag as
  one more state column. Always registered, DuckDB-oracle-checked.
- ``q_stream_transform_state``: ``transformWithStateInPandas`` (Spark 4
  API, typed ValueState + timers). Its state-server protocol needs the
  ``google.protobuf`` runtime, so it is registered ONLY when protobuf
  imports (the driver never sees a query that cannot run; on a
  protobuf-equipped cluster it registers and is oracle-checked
  identically). Its processor keeps its own fold because it must stay
  closure-local (``_make_lww_processor``); the input projection, the
  state schema and the final compaction are shared.

Every query compacts its update-mode sink with ``functions.lww.latest_by_key``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupStateTimeout

from ..functions.lww import latest_by_key, latest_state_fn
from ..operators.relational_ext30 import _TOMB_ORACLE
from ..operators.triple import _LWW_LATEST_ORACLE
from ..registry import register, register_skip
from ..session import pinned_confs
from ..widths import cluster_cores
from .queries import _stream_events, drain_to_memory

_KEYS = ["user_id", "event_type"]
_ORDER = ["ts_us", "event_id"]
_STATE_SCHEMA = "ts_us long, event_id long, value double"
_OUT_SCHEMA = (
    "user_id long, event_type string, event_id long, ts_us long, value double"
)
_REGISTER_COLS = ["user_id", "event_type", "event_id", "ts", "value"]


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


def _compact_register(sink: DataFrame, payload: list[str]) -> DataFrame:
    """Update-mode sinks hold one row per key per emitting micro-batch;
    the register is monotone in (ts_us, event_id), so the newest row per
    key IS the final state. ``ts`` comes back as timestamp_ntz."""
    latest = latest_by_key(sink, _KEYS, _ORDER, ["event_id", "ts_us", *payload])
    return latest.withColumn(
        "ts", F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz")
    )


def _apply_lww_state(writes: DataFrame, payload: list[str], state_schema: str):
    """Drain ``writes`` through the per-key LWW kernel and compact the
    sink; the state schema is ``_ORDER`` + ``payload``."""
    out = writes.groupBy(*_KEYS).applyInPandasWithState(
        latest_state_fn(_KEYS, _ORDER, payload),
        outputStructType=f"user_id long, event_type string, {state_schema}",
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_memory(out, "update", cluster_cores(writes.sparkSession))
    return _compact_register(sink, payload)


@register("q_stream_lww_state", oracle=_LWW_LATEST_ORACLE)
def q_stream_lww_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW register as a custom stateful operator (module docstring):
    per-(user_id, event_type) register state updated newest-wins by each
    micro-batch via applyInPandasWithState. On the bounded fixture the
    compacted output equals the batch window dedup the oracle runs.
    State is O(distinct keys) — the managed, shuffled, fault-tolerant
    version of the reference's process-local dict."""
    return _apply_lww_state(
        _lww_inputs(spark, sf_dir), ["value"], _STATE_SCHEMA
    ).select(*_REGISTER_COLS)


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
    provider = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }
    with pinned_confs(spark, provider):
        sink = drain_to_memory(out, "update", cluster_cores(spark))
    return _compact_register(sink, ["value"]).select(*_REGISTER_COLS)


if _protobuf_available():  # pragma: no cover - container lacks protobuf
    register("q_stream_transform_state", oracle=_LWW_LATEST_ORACLE)(
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


@register("q_stream_tombstone", oracle=_TOMB_ORACLE)
def q_stream_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_lww_tombstone: the stateful register merges
    updates AND tombstones (deletes for event_id % 7 == 0, stamped 30
    minutes after the deleted write — same synthesis as the batch twin)
    through one applyInPandasWithState operator, the same LWW kernel with
    ``deleted`` as one more state column. The register keeps the newest
    row INCLUDING deletes — dropping tombstones before the merge would let
    an older concurrent update resurrect the key (same invariant as the
    batch twin, property-tested in tests/test_ext30.py) — so the read view
    filters deleted keys only AFTER the final compaction. State stays
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
    reg = _apply_lww_state(writes, ["value", "deleted"], _TOMB_STATE_SCHEMA)
    return reg.filter(F.col("deleted") == 0).select(*_REGISTER_COLS)
