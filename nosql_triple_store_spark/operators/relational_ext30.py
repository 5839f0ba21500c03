"""Thirtieth extension batch: LWW deletes (tombstones).

- q_lww_tombstone: the delete path of the LWW register. The reference
  exposes update-only writes (SQLite3DBConnector.py:48-119); a real
  register also needs deletes, and the CRDT-correct distributed form is
  a TOMBSTONE: a delete is just another timestamped write with a
  deleted flag, merged by the same commutative max_by aggregate, and
  filtered out of the read view after the merge (never before — a
  tombstone must be able to beat a concurrent older update). Purging
  tombstones older than a grace period is what q_maintenance_vacuum's
  retention model then reclaims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.lww import latest_by_key
from ..operators.triple import E_CTE
from ..registry import register

# --- q_lww_tombstone ------------------------------------------------------

# Synthetic-but-deterministic delete stream: every event whose event_id
# is divisible by 7 ALSO emits a delete of its (user, type) register 30
# minutes later. Deletes are data, not DDL: same LWW merge, newest
# writer wins whether it is an update or a tombstone.
_TOMB_ORACLE = f"""
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


@register("q_lww_tombstone", oracle=_TOMB_ORACLE)
def q_lww_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW register with DELETE support: tombstones are timestamped
    writes with deleted=true, merged by the same partial-aggregable
    max_by as every other write, then filtered from the read view
    AFTER the merge. Filtering after is the correctness-critical order:
    a tombstone must survive the merge to suppress any concurrent
    update older than it (drop-before-merge would resurrect deleted
    keys — the classic anti-entropy bug the CRDT formulation avoids).

    Scale: identical plan to q_lww_latest (one union + one map-side
    partial aggregate); the tombstone filter is a post-agg predicate on
    the already-reduced register, not a second pass over the log."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    writes = ev.withColumn("deleted", F.lit(False)).unionByName(
        ev.filter(F.col("event_id") % 7 == 0).select(
            "user_id",
            "event_type",
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("ts"),
            F.lit(None).cast("double").alias("value"),
            F.lit(True).alias("deleted"),
        )
    )
    latest = latest_by_key(
        writes,
        keys=["user_id", "event_type"],
        order=["ts", "event_id"],
        payload=["event_id", "ts", "value", "deleted"],
    )
    return latest.filter(~F.col("deleted")).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
