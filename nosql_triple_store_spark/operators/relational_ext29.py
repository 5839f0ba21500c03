"""Twenty-ninth extension batch: distribution moments, EWMA, register
vacuum.

- q_agg_moments: per-type skewness / excess kurtosis via explicit
  two-pass central moments. Spark's builtin skewness()/kurtosis() and
  DuckDB's disagree on bias correction, so both sides compute the SAME
  textbook formula (m3/m2^1.5, m4/m2²−3) — the check then verifies the
  engine's aggregation pipeline, not a library convention.
- q_window_ewma: exponentially weighted moving average per user, final
  smoothed value. The recurrence e_t = αx_t + (1−α)e_{t−1} looks
  inherently sequential, but its closed form is a weighted sum
  (weight α(1−α)^{n−t}, and (1−α)^{n−1} for the first sample), which is
  one window + one aggregate — fully JVM-side, partial-aggregable, and
  SQL-oracle-able. The classic trick for turning scan recurrences into
  parallel aggregations.
- q_maintenance_vacuum: retention cleanup of the versioned LWW register
  (sources/compaction.py) — drop all but the newest K versions, report
  files/bytes reclaimed. The VACUUM/expire-snapshots twin of
  q_maintenance_compact.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.triple import E_CTE
from ..registry import register, register_layout
from ..scratch import build_once, memo

# --- q_agg_moments --------------------------------------------------------


@register(
    "q_agg_moments",
    oracle=f"""
{E_CTE},
m AS (
  SELECT event_type, AVG(value) AS mu,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY event_type),
c AS (
  SELECT e.event_type, m.n,
         SUM((value - mu) * (value - mu)) / m.n AS m2,
         SUM((value - mu) * (value - mu) * (value - mu)) / m.n AS m3,
         SUM((value - mu) * (value - mu) * (value - mu) * (value - mu))
           / m.n AS m4
  FROM e JOIN m USING (event_type) GROUP BY e.event_type, m.n)
SELECT event_type, n,
       ROUND(sqrt(m2), 6) AS stddev_pop,
       ROUND(m3 / pow(m2, 1.5), 6) AS skewness,
       ROUND(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
FROM c
""",
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per event type via
    explicit two-pass central moments (mean broadcast back, then one
    partial-aggregable power-sum pass). Two-pass beats the one-pass
    raw-moment expansion at scale: centering first avoids the
    catastrophic cancellation that raw Σx⁴ − … suffers when |mean| is
    large relative to the spread."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    m = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    d = F.col("value") - F.col("mu")
    c = (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n")
        .agg(
            (F.sum(d * d) / F.col("n")).alias("m2"),
            (F.sum(d * d * d) / F.col("n")).alias("m3"),
            (F.sum(d * d * d * d) / F.col("n")).alias("m4"),
        )
    )
    return c.select(
        "event_type",
        "n",
        F.round(F.sqrt("m2"), 6).alias("stddev_pop"),
        F.round(F.col("m3") / F.pow("m2", F.lit(1.5)), 6).alias("skewness"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6).alias(
            "excess_kurtosis"
        ),
    )


# --- q_window_ewma --------------------------------------------------------

_EWMA_ALPHA = 0.3


@register(
    "q_window_ewma",
    oracle=f"""
{E_CTE},
s AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS t,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM e)
SELECT user_id, n AS n_obs,
       ROUND(SUM(value * CASE WHEN t = 1
                  THEN pow(1 - {_EWMA_ALPHA}, n - 1)
                  ELSE {_EWMA_ALPHA} * pow(1 - {_EWMA_ALPHA}, n - t)
             END), 6) AS ewma
FROM s GROUP BY user_id, n
""",
)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA (α=0.3) of `value` per user in event-time order. The
    sequential recurrence is evaluated through its closed form — each
    sample's weight is α(1−α)^(n−t) (the first keeps (1−α)^(n−1)) — so
    the whole thing is one window (rank + count) and one sum: no UDF,
    no per-key sequential scan, partial-aggregable, and the aggregate
    reuses the window's user_id partitioning (single shuffle, same
    shape as q_time_weighted_avg)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    s = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("t"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    a = _EWMA_ALPHA
    weight = F.when(
        F.col("t") == 1, F.pow(F.lit(1 - a), F.col("n") - 1)
    ).otherwise(F.lit(a) * F.pow(F.lit(1 - a), F.col("n") - F.col("t")))
    return (
        s.groupBy("user_id", F.col("n").alias("n_obs"))
        .agg(F.round(F.sum(F.col("value") * weight), 6).alias("ewma"))
        .select("user_id", "n_obs", "ewma")
    )


# --- q_maintenance_vacuum -------------------------------------------------

_VACUUM_KEEP = 2
_VACUUM_BATCHES = 4


@register_layout("vacuum_register", r"q_maintenance_vacuum")
def vacuum_register(spark: SparkSession, sf_dir: str) -> str:
    """Build-once versioned LWW register the vacuum operates on
    (4 event-time compact batches), built once by
    ``scratch.build_once``. Exposed for bench.py's layout phase: the
    register BUILD is table-history setup (the state any production
    table already has); the vacuum + reclamation report is the
    operation q_maintenance_vacuum measures."""
    from ..sources.compaction import compact

    def write(base: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_type", "event_id", "ts", "value"
        )
        keys, order = ["user_id", "event_type"], ["ts", "event_id"]
        # residue-class batches by event_id keep the build deterministic
        for q in range(_VACUUM_BATCHES):
            delta = ev.filter(
                F.pmod(F.col("event_id"), F.lit(_VACUUM_BATCHES)) == q
            )
            compact(spark, base, delta, keys, order)

    return build_once("vacuum_register", sf_dir, write, sources=("events",))


@register("q_maintenance_vacuum", oracle=None)  # rows-only: fs maintenance
def q_maintenance_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register retention cleanup — the VACUUM / expire-snapshots twin
    of q_maintenance_compact: build a versioned LWW register from
    {batches} event-time batches, then drop all but the newest
    {keep} versions and report what was reclaimed. Returns one row per
    original version with its disposition — deterministic because batch
    boundaries are event-time quarters, not arrival order.

    Scale: version dirs are independent prefixes; the delete is a
    metadata/manifest operation (here: local fs walk), never a data
    shuffle. The read-back correctness invariant (latest version
    survives untouched) is pinned in tests/test_ext29.py."""
    schema = (
        "version string, disposition string, n_files int, "
        "had_bytes boolean, live_rows int"
    )
    base = vacuum_register(spark, sf_dir)
    result = memo(
        "vacuum_run",
        sf_dir,
        lambda: _vacuum(spark, base),
        sources=("events",),
    )
    return spark.createDataFrame(result, schema)


def _vacuum(spark: SparkSession, base: str) -> list[tuple]:
    """Drop all but the newest versions of the register at ``base``.
    Destructive, so it runs once per register: a repeat invocation
    reports the ORIGINAL run, and a rewritten events table builds a new
    register, which is vacuumed afresh."""
    from ..sources.compaction import read_register, versions

    vdirs = versions(base, "v")
    keep = set(vdirs[-_VACUUM_KEEP:])
    rows = []
    for vdir in vdirs:
        files = [
            os.path.join(vdir, f)
            for f in os.listdir(vdir)
            if not f.startswith("_") and not f.startswith(".")
        ]
        nbytes = sum(os.path.getsize(f) for f in files)
        disposition = "kept" if vdir in keep else "removed"
        rows.append(
            (os.path.basename(vdir), disposition, len(files), nbytes > 0)
        )
        if vdir not in keep:
            shutil.rmtree(vdir, ignore_errors=True)
    # latest version must still read back after the vacuum
    n_live = read_register(spark, base).count()
    return [(v, d, nf, hb, int(n_live)) for v, d, nf, hb in rows]


q_maintenance_vacuum.__doc__ = q_maintenance_vacuum.__doc__.format(
    batches=_VACUUM_BATCHES, keep=_VACUUM_KEEP
)
