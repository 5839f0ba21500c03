"""Second batch of extended operators: ntile/first/last analytic
functions, histogram binning, regex group extraction — rounding out
window/scalar coverage."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


@register(
    "q_window_ntile",
    oracle="""
WITH t AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ntile(4) OVER w AS quartile,
         first_value(o_orderkey) OVER w AS first_key,
         last_value(o_orderkey) OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_key
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey))
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(quartile AS INT) AS quartile, first_key, last_key
FROM t
""",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles + first/last value per customer. last_value needs
    the explicit full frame (default frame stops at CURRENT ROW — the
    classic silent-wrong-answer; both engines share the default, but we
    pin it)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
    )


@register(
    "q_histogram",
    # width_bucket is absent in DuckDB 1.0 — the oracle mirrors its
    # semantics arithmetically (0 below range, n+1 above, 1..n inside;
    # bin edges are never hit by the double-valued prices)
    oracle="""
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 500000 THEN 21
            ELSE FLOOR(o_totalprice / 25000) + 1 END AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM orders GROUP BY 1
""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the one-pass binned
    aggregate (vs percentile sketches for equi-depth)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(20))
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "q_regex_extract",
    oracle="""
SELECT regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
       regexp_extract(p_name, '([a-z]+)$', 1) AS name_tail_sample,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM part
GROUP BY 1, 2
""",
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex group extraction (shared Java/RE2-safe pattern subset),
    grouped — parsing semi-structured string columns without UDFs."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
            F.regexp_extract("p_name", "([a-z]+)$", 1).alias(
                "name_tail_sample"
            ),
        )
        .groupBy("type_head", "name_tail_sample")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
