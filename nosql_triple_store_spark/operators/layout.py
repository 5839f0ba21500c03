"""Layout-aware scan: Z-order rectangle query (sources/zorder.py).

The query materializes a Z-ordered copy of `part` (keys: p_size,
floor(p_retailprice)-900), then answers a 2-D rectangle predicate through
bucket pruning + exact residual filter. Semantically the layout is
transparent — the oracle is the same rectangle on the plain table — while
the scan touches only the morton buckets intersecting the rectangle
(directory-level PartitionFilters; asserted in tests/test_zorder.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..registry import register
from ..scratch import build_once
from ..sources.zorder import rectangle_buckets, write_zordered

BITS = 7  # p_size <= 50 (6 bits), price offset <= 99 (7 bits)
BUCKET_BITS = 4
X_LO, X_HI = 10, 25  # p_size
Y_LO, Y_HI = 20, 60  # floor(p_retailprice) - 900


def build_layout(spark: SparkSession, sf_dir: str) -> str:
    """The Z-ordered copy of ``part``, written once (``build_once``)."""

    def write(path: str) -> None:
        write_zordered(
            load_table(spark, sf_dir, "part"),
            F.col("p_size"),
            F.floor(F.col("p_retailprice")).cast("long") - 900,
            path,
            bits=BITS,
            bucket_bits=BUCKET_BITS,
        )

    return build_once("zorder_layout", sf_dir, write, sources=("part",))


@register(
    "q_zorder_prune",
    oracle=f"""
SELECT p_partkey, p_size, ROUND(p_retailprice, 2) AS p_retailprice
FROM part
WHERE p_size BETWEEN {X_LO} AND {X_HI}
  AND FLOOR(p_retailprice) - 900 BETWEEN {Y_LO} AND {Y_HI}
""",
)
def q_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle query over the Z-ordered layout: bucket-IN prefilter
    (partition pruning — complete by rectangle_buckets' interval test,
    so no matching row can be dropped) + exact residual predicate."""
    path = build_layout(spark, sf_dir)
    buckets = rectangle_buckets(X_LO, X_HI, Y_LO, Y_HI, BITS, BUCKET_BITS)
    back = read_parquet(spark, path)
    return (
        back.filter(F.col("z_bucket").isin(buckets))
        .filter(
            F.col("p_size").between(X_LO, X_HI)
            & (F.floor("p_retailprice").cast("long") - 900).between(Y_LO, Y_HI)
        )
        .select(
            "p_partkey", "p_size", F.round("p_retailprice", 2).alias("p_retailprice")
        )
    )
