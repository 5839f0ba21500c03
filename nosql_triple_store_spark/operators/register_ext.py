"""Time-travel reads on the versioned LWW register (round-3 verdict ask
#7): the natural extension of the reference's R2/R3 register semantics —
its report gestures at state-based objects whose any-past-state is
reconstructible from retained updates (report.pdf §2.0.1); Spark-natively
that's an event-time AS OF read over the compaction changelog
(sources/compaction.read_register_asof)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..scratch import scratch_tmp
from ..sources.compaction import compact, init_register, read_register_asof
from .triple import E_CTE

_KEYS = ["user_id", "event_type"]
_ORDER = ["ts_us", "event_id"]

_ASOF_ORACLE = f"""
{E_CTE},
cut AS (SELECT MAX(epoch_us(ts)) AS t FROM e WHERE event_id % 4 = 1),
f AS (
  SELECT user_id, event_type, event_id,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
  FROM e, cut WHERE epoch_us(ts) <= cut.t),
r AS (
  SELECT user_id, event_type, event_id, ts_us, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM f)
SELECT user_id, event_type, event_id, ts_us, value FROM r WHERE rn = 1
"""


@register("q_register_asof", oracle=_ASOF_ORACLE)
def q_register_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a versioned on-disk register from three event delta batches
    (split by event_id so every batch spans the full time range —
    arrival order deliberately disagrees with event time), then read the
    state AS OF a pinned past timestamp from the retained changelog.
    The cut T = max event time among event_id % 4 == 1 rows is a
    deterministic mid-history point both engines compute identically
    (exact integer µs); the oracle is the LWW window over events
    filtered at the same cut. The only driver-side value is the scalar
    T. The cut is pushed into the delta scans; what it can prune is in
    ``read_register_asof``."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    base = f"{scratch_tmp('register_asof_')}/{uuid.uuid4().hex[:8]}"
    init_register(ev.filter(F.col("event_id") % 3 == 0), base, _KEYS, _ORDER)
    compact(spark, base, ev.filter(F.col("event_id") % 3 == 1), _KEYS, _ORDER)
    compact(spark, base, ev.filter(F.col("event_id") % 3 == 2), _KEYS, _ORDER)
    cut = ev.filter(F.col("event_id") % 4 == 1).agg(
        F.max("ts_us")
    ).collect()[0][0]
    return read_register_asof(spark, base, _KEYS, _ORDER, cut).select(
        "user_id", "event_type", "event_id", "ts_us", "value"
    )
