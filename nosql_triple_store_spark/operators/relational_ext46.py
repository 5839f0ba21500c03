"""Forty-sixth extension batch: malformed-record CSV ingestion and the
cumulative-reach growth curve.

Lineage: q_source_csv proves the happy path; real crawl/export feeds
carry broken rows, and the ingestion contract that matters at 100 TB
is PERMISSIVE parsing with rescued-record accounting (corrupt rows
quarantined to a column, never a job abort — the csv twin of
try_parse_url's philosophy). The reach curve is the growth team's
first chart: new users per day and the cumulative distinct-user count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..scratch import build_once
from .triple import E_CTE

_BAD_MOD = 7  # every 7th event id becomes a malformed line


def _bad_csv_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process) a CSV export of events where every
    {_BAD_MOD}th row's value field is the unparseable token 'xx'."""

    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        # the money field is derived from INTEGER cents (never float
        # formatting, whose tie-rounding is engine/locale-sensitive)
        cents = F.round(F.col("value") * 100).cast("long")
        money = F.concat(
            F.floor(cents / 100).cast("long").cast("string"),
            F.lit("."),
            F.lpad((cents % 100).cast("string"), 2, "0"),
        )
        line = F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.col("event_type"),
            F.when(F.col("event_id") % _BAD_MOD == 0, F.lit("xx")).otherwise(
                money
            ),
        )
        ev.select(line.alias("value")).write.text(path)

    return build_once("bad_csv", sf_dir, write, sources=("events",))


@register(
    "q_source_csv_badrecords",
    oracle=f"""
{E_CTE}
SELECT
  CAST(SUM(CASE WHEN event_id % {_BAD_MOD} <> 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_good,
  CAST(SUM(CASE WHEN event_id % {_BAD_MOD} = 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_corrupt,
  CAST(SUM(CASE WHEN event_id % {_BAD_MOD} <> 0
                THEN CAST(ROUND(value * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS good_cents
FROM e
""",
)
def q_source_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record quarantine: a CSV
    export where every {_BAD_MOD}th row carries an unparseable value
    is read with an explicit schema plus a `_corrupt` rescue column —
    broken rows parse to NULL fields with the raw line preserved, the
    job NEVER aborts, and the census reports good/corrupt counts and
    the parsed money total (in cents of the 2-dp export grain). This
    is the ingestion posture a 100 TB crawl feed requires: quarantine
    and count, don't crash (FAILFAST) or silently drop (DROPMALFORMED).

    Scale: csv text scan parallelizes by line ranges; the corrupt
    column costs nothing on clean rows. The census is one
    partial-aggregable pass.
    """
    path = _bad_csv_dir(spark, sf_dir)
    df = (
        spark.read.schema(
            "event_id long, event_type string, value double,"
            " _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return df.agg(
        F.sum(
            F.when(F.col("_corrupt").isNull(), 1).otherwise(0)
        ).alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)
        ).alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("good_cents"),
    )


@register(
    "q_events_reach_curve",
    oracle=f"""
{E_CTE},
fs AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM e GROUP BY 1),
nu AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM fs GROUP BY 1),
dau AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM e GROUP BY 1)
SELECT d.day, COALESCE(n.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0))
              OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users,
       d.dau
FROM dau d LEFT JOIN nu n ON n.day = d.day
""",
)
def q_events_reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative reach: per day, newly-seen users (first-ever
    activity), the running total of distinct users reached so far, and
    that day's DAU — the acquisition-vs-engagement overlay every
    growth dashboard opens with. Exact integers; day boundaries in the
    TZ-less date domain.

    Scale: first-seen is one hash aggregation per user; the cumulative
    window runs over the DAILY aggregate (|days| rows — the SCALE.md
    bounded-window exemption), and DAU's COUNT(DISTINCT) plans as the
    standard two-level exact aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    fs = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    nu = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    dau = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(nu, "day", "left")
        .select(
            "day",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            "dau",
        )
        .select(
            "day",
            "new_users",
            F.sum("new_users").over(w).cast("long").alias("cum_users"),
            "dau",
        )
        .select("day", "new_users", "cum_users", "dau")
    )
