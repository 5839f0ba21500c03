"""Ninth extension batch: SCD type-2 dimension build, year-over-year
growth, ORC source roundtrip."""

from __future__ import annotations


import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..scratch import build_once
from ..widths import cluster_cores
from .triple import E_CTE


@register(
    "q_scd2",
    oracle=f"""
{E_CTE},
v AS (
  SELECT user_id, event_type, value, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) AS valid_to
  FROM e WHERE event_type = 'signup' OR event_type = 'purchase')
SELECT user_id, event_type, value, valid_from, valid_to,
       CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
FROM v
""",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change log into validity
    intervals — valid_from = change ts, valid_to = next change's ts for
    the same key (NULL = current). One lead() window per key (single
    shuffle keyed by the dimension key, (ts, event_id) tiebreak for
    same-timestamp changes). This is the read-side temporal-table
    construction over the reference's changelog (SURVEY §3.2); the
    as-of join q_join_asof is its lookup counterpart."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).withColumn(
        "is_current",
        F.when(F.col("valid_to").isNull(), 1).otherwise(0),
    )


@register(
    "q_orders_yoy",
    oracle="""
WITH yearly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1, 2)
SELECT yr, o_orderpriority, n_orders, revenue,
       revenue - lag(revenue) OVER (PARTITION BY o_orderpriority
                                    ORDER BY yr) AS yoy_delta
FROM yearly
""",
)
def q_orders_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue delta per order priority: yearly aggregate
    then lag() over the (tiny) per-priority year series. The window
    input is the AGGREGATE (years x priorities rows), so the
    single-partition-per-priority window is trivially small no matter
    the fact-table scale; the delta subtracts two already-rounded 2dp
    sums (exact decimal values — no re-rounding needed, difference is
    exact)."""
    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"), "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    return yearly.withColumn(
        "yoy_delta", F.col("revenue") - F.lag("revenue").over(w)
    )


@register(
    "q_source_orc",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus, o_orderpriority
""",
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source roundtrip: orders written to ORC (the other columnar
    format Spark reads natively — predicate pushdown and column pruning
    work the same as parquet), read back and aggregated; oracle runs on
    the original parquet, proving losslessness."""
    out = build_once(
        "orders_orc",
        sf_dir,
        lambda out: load_table(spark, sf_dir, "orders").write.orc(out),
        sources=("orders",),
    )
    orders = spark.read.orc(out)
    return orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def _spark_avro_available() -> bool:
    """The avro DataSource is an external Spark module (spark-avro jar);
    the core avro-*.jar libraries alone are not enough. Classpath probe
    so the registry never advertises a query this runtime cannot run."""
    import glob

    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return bool(glob.glob(os.path.join(home, "jars", "spark-avro*.jar")))


@register(
    "q_source_avro",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus, o_orderpriority
""",
)
def q_source_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source roundtrip (row-oriented interchange format — the
    Kafka/schema-registry ecosystem's default): orders written to Avro
    container files, read back, aggregated; the oracle reads the
    original parquet, proving losslessness. Two engines behind one
    query: the native spark-avro module where its jar is deployed
    (classpath probe), else the pure-Python Avro OCF codec in
    sources/avro_py.py — distributed both ways (mapInPandas writer per
    partition, binaryFile + mapInPandas reader), so the query is
    oracle-VERIFIED on jar-less runtimes instead of skipped."""

    def write(out: str) -> None:
        # width the encode: the source arrives in a handful of scan
        # partitions, which would serialize the bytes-proportional
        # Python encode AND cap the binaryFile reader at that file
        # count (sf1 sweep: 17x for 10x data; ~linear after)
        orders_src = load_table(spark, sf_dir, "orders").repartition(
            cluster_cores(spark)
        )
        if _spark_avro_available():  # pragma: no cover - jar absent
            orders_src.write.format("avro").save(out)
        else:
            from ..sources.avro_py import write_avro_dir

            write_avro_dir(orders_src, out)

    out = build_once("orders_avro", sf_dir, write, sources=("orders",))
    if _spark_avro_available():  # pragma: no cover - jar absent here
        orders = spark.read.format("avro").load(out)
    else:
        from ..sources.avro_py import read_avro_dir

        schema = load_table(spark, sf_dir, "orders").schema
        orders = read_avro_dir(spark, out, schema)
    return orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q_source_bson",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus, o_orderpriority
""",
)
def q_source_bson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BSON (mongodump) source roundtrip: orders written as
    concatenated BSON documents — the operational export format of the
    reference's MongoDB backend (MongoDBConnector.py:12) — and read
    back through the pure-Python spec decoder in sources/bson_py.py
    (binaryFile + mapInPandas, one file per partition both ways). The
    oracle reads the original parquet, proving losslessness for the
    scalar register types. This is the migration path off the
    reference a real user runs: mongodump the register, read the dump
    distributed, land it as parquet; the LIVE connector path
    (sources/readers.read_mongo_collection) still needs the
    mongo-spark jar + a server and stays gated."""
    from ..sources.bson_py import read_bson_dir, write_bson_dir

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ]
    src = load_table(spark, sf_dir, "orders").select(*cols)
    out = build_once(
        "orders_bson",
        sf_dir,
        # width the encode (see the Avro twin above)
        lambda out: write_bson_dir(src.repartition(cluster_cores(spark)), out),
        sources=("orders",),
    )
    orders = read_bson_dir(spark, out, src.schema)
    return orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# --- live Mongo read path (VERDICT r6 #7) --------------------------------

_MONGO_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


def q_source_mongo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE MongoDB backend roundtrip — the reference's actual node-1
    storage (MongoDBConnector.py:12) exercised through the mongo-spark
    connector instead of the mongodump export twin (q_source_bson):
    orders are written to the mongod at $SPARK_GRAFT_MONGO_URI
    (database spark_graft, collection orders_rt), read back through
    the connector's distributed partitioner, and aggregated; the
    oracle reads the original parquet, proving the roundtrip is
    lossless for the register's scalar types. Registered only when
    BOTH probes pass (connector jar on the classpath AND a reachable
    URI exported); otherwise the registry records an explicit skip
    with the provisioning reason."""
    from ..sources.readers import read_mongo_collection

    uri = os.environ["SPARK_GRAFT_MONGO_URI"]
    orders_src = load_table(spark, sf_dir, "orders")
    (
        orders_src.write.format("mongodb")
        .mode("overwrite")
        .option("connection.uri", uri)
        .option("database", "spark_graft")
        .option("collection", "orders_rt")
        .save()
    )
    orders = read_mongo_collection(
        spark, uri, "spark_graft", "orders_rt"
    ).drop("_id")
    return orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def _register_mongo() -> None:
    from ..registry import register_skip
    from ..sources.readers import mongo_connector_available

    if not mongo_connector_available():
        register_skip(
            "q_source_mongo",
            "mongo-spark connector jar absent from the classpath; the "
            "reference's MongoDB backend (MongoDBConnector.py:12) is "
            "covered by the oracle-green mongodump codec twin "
            "q_source_bson. Provisioning: deploy "
            "org.mongodb.spark:mongo-spark-connector_2.13 (matching "
            "the Spark/Scala version) into $SPARK_HOME/jars and export "
            "SPARK_GRAFT_MONGO_URI to a reachable mongod",
        )
    elif not os.environ.get("SPARK_GRAFT_MONGO_URI"):
        register_skip(
            "q_source_mongo",
            "mongo-spark connector jar present but SPARK_GRAFT_MONGO_URI "
            "unset; export a reachable mongod URI (e.g. "
            "mongodb://localhost:27017) to exercise the live backend",
        )
    else:
        register("q_source_mongo", oracle=_MONGO_ORACLE)(q_source_mongo)


_register_mongo()
