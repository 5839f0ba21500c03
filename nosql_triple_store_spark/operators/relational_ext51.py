"""Fifty-first extension batch: per-group quantile sketches.

Lineage: per-group quantiles generalize the mergeable bottom-k sketch
(relational_ext35) with the salted grouped-topk tournament
(functions/topk.py) — the per-stratum latency dashboard every ingest
pipeline wants without a per-group sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.topk import grouped_topk
from ..registry import register

_HASH_SQL = (
    "CAST(((({key}) % 2147483648) * 2654435761 + 12345) % 4294967296"
    " AS BIGINT)"
)


_GQ_K = 200
_GQ_QS = (25, 50, 75)


@register(
    "q_agg_group_quantile_sketch",
    oracle=f"""
WITH keyed AS (
  SELECT o_orderpriority AS grp, o_totalprice AS x,
         {_HASH_SQL.format(key='o_orderkey')} AS h
  FROM orders),
ranked_h AS (
  SELECT grp, x, h,
         row_number() OVER (PARTITION BY grp ORDER BY h) AS hr
  FROM keyed),
sample AS (SELECT grp, x, h FROM ranked_h WHERE hr <= {_GQ_K}),
ranked AS (
  SELECT grp, x,
         row_number() OVER (PARTITION BY grp ORDER BY x, h) AS rn,
         COUNT(*) OVER (PARTITION BY grp) AS k
  FROM sample),
qs AS (SELECT unnest(ARRAY{list(_GQ_QS)}) AS pct)
SELECT r.grp, CAST(q.pct AS BIGINT) AS pct, r.x AS estimate
FROM qs q JOIN ranked r ON r.rn = (q.pct * (r.k - 1)) // 100 + 1
""",
)
def q_agg_group_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP quantile estimates from per-group bottom-k uniform
    samples: each order priority keeps its {_GQ_K} smallest affine-hash
    tags (an exact uniform sample per stratum, mergeable — the
    relational_ext35 sketch algebra) and reads the quartiles off the
    sorted sample. Cross-engine bit-reproducible, unlike grouped
    approx_percentile.

    Scale: the per-group bottom-k runs through the salted grouped-topk
    tournament (functions/topk.py) — no stratum ever occupies one
    window task; the in-sample ranking windows are bounded by the
    sketch parameter k={_GQ_K}, not the data (the SCALE.md exemption).
    """
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        F.expr(_HASH_SQL.format(key="o_orderkey")).alias("h"),
    )
    sample = grouped_topk(
        keyed, ["grp"], [F.asc("h")], _GQ_K, salt_on="h"
    ).drop("rank")
    w = Window.partitionBy("grp").orderBy("x", "h")
    wk = Window.partitionBy("grp")
    ranked = sample.select(
        "grp",
        "x",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    qs = spark.range(len(_GQ_QS)).select(
        F.element_at(
            F.array(*[F.lit(q) for q in _GQ_QS]),
            (F.col("id") + 1).cast("int"),
        ).cast("long").alias("pct")
    )
    return (
        ranked.join(
            F.broadcast(qs), F.expr("rn = pct * (k - 1) div 100 + 1")
        )
        .select("grp", "pct", F.col("x").alias("estimate"))
    )
