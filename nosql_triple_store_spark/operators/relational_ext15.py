"""Fifteenth extension batch: parquet schema evolution, dynamic
partition overwrite, image tiling, tolerance-bounded as-of join.

Lineage: schema evolution and dynamic partition overwrite are
storage-lifecycle operators a long-lived 100 TB table needs (columns get added over
years; backfills must replace ONE partition without touching the rest —
the reference's analog is nothing: its schema is fixed 4 columns forever,
SURVEY §1.3)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..functions.lww import latest_by_key
from ..registry import register
from ..scratch import build_once
from ..session import pinned_confs
from .triple import E_CTE


_EVO_SPLIT = 250  # doc_id threshold between schema v1 and v2 writers


@register(
    "q_schema_evolution",
    oracle=f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(CASE WHEN doc_id >= {_EVO_SPLIT} THEN 1 END) AS BIGINT)
         AS n_with_quality,
       CAST(SUM(CASE WHEN doc_id >= {_EVO_SPLIT} THEN n_chars % 5 END)
            AS BIGINT) AS quality_sum
FROM documents GROUP BY lang
""",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution via mergeSchema: an old writer produced
    files with (doc_id, lang, n_chars); a newer writer appended files
    that ALSO carry a quality column. One mergeSchema read unions the
    schemas — old files surface quality as NULL, and null-skipping
    aggregates (count/sum) do the right thing. This is how a 100 TB
    table gains columns without rewriting history; the read stays a
    plain scan (mergeSchema costs one footer pass over the file set —
    pin the merged schema in a metastore to avoid paying it per
    query)."""

    def write(base: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        v1 = docs.filter(F.col("doc_id") < _EVO_SPLIT).select(
            "doc_id", "lang", "n_chars"
        )
        v2 = docs.filter(F.col("doc_id") >= _EVO_SPLIT).select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("n_chars") % 5).alias("quality"),
        )
        v1.write.parquet(base)
        v2.write.mode("append").parquet(base)

    base = build_once("schema_evolution", sf_dir, write, sources=("documents",))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count("quality").alias("n_with_quality"),
        F.sum("quality").alias("quality_sum"),
    )


@register(
    "q_source_partition_overwrite",
    oracle=f"""
{E_CTE},
latest AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM e WHERE event_type = 'purchase'),
final AS (
  SELECT event_type, user_id, value FROM latest WHERE rn = 1
  UNION ALL
  SELECT event_type, user_id, value FROM e WHERE event_type <> 'purchase')
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM final GROUP BY event_type
""",
)
def q_source_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the incremental-backfill write
    path: events are laid out hive-partitioned by event_type; a
    compaction job rewrites ONLY the 'purchase' partition (LWW latest
    per user — the reference's register semantics applied as storage
    maintenance) under partitionOverwriteMode=dynamic, which replaces
    exactly the partitions present in the written data and leaves the
    other four untouched. Static mode would have wiped them — the
    difference between an O(partition) backfill and an O(table) rewrite
    at 100 TB. The final read-back aggregate proves both halves: the
    purchase partition holds one latest row per user; every other
    partition still holds its raw rows."""

    def write(base: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.write.partitionBy("event_type").parquet(base)
        latest = latest_by_key(
            ev.filter(F.col("event_type") == "purchase"),
            keys=["user_id"],
            order=["ts", "event_id"],
            payload=["event_id", "ts", "value", "props"],
        ).select(
            "event_id",
            "ts",
            "user_id",
            "value",
            "props",
            F.lit("purchase").alias("event_type"),
        )
        dynamic = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        with pinned_confs(spark, dynamic):
            latest.write.mode("overwrite").partitionBy("event_type").parquet(
                base
            )

    final = read_parquet(
        spark, build_once("partition_overwrite", sf_dir, write, sources=("events",))
    )
    return final.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_TILE = 16
_WIDTH = 32

_TILES_ORACLE = f"""
WITH img AS (
  SELECT doc_id, text,
         CAST(octet_length(encode(text)) // {_WIDTH} AS BIGINT) AS h
  FROM documents
  WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= {_WIDTH * _TILE}),
trs AS (
  SELECT doc_id, text,
         CAST(unnest(generate_series(0, h // {_TILE} - 1)) AS BIGINT) AS tr
  FROM img),
tcs AS (
  SELECT doc_id, text, tr, CAST(unnest([0, 1]) AS BIGINT) AS tc FROM trs),
segs AS (
  SELECT doc_id, tr, tc, u.r,
         substring(text,
                   CAST((tr * {_TILE} + u.r) * {_WIDTH} + tc * {_TILE} + 1
                        AS BIGINT),
                   {_TILE}) AS seg
  FROM tcs, LATERAL UNNEST(generate_series(0, {_TILE} - 1)) AS u(r))
SELECT doc_id, tr, tc,
       md5(string_agg(seg, '' ORDER BY r)) AS tile_md5
FROM segs GROUP BY doc_id, tr, tc
"""


def _tile_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: 2-D tiling of a row-major byte raster —
    the patch-extraction plumbing a ViT-style preprocessor needs
    (decode itself stubbed per multimodal.decode_media)."""
    import hashlib

    for pdf in batches:
        out = {"doc_id": [], "tr": [], "tc": [], "tile_md5": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            h = len(b) // _WIDTH
            for tr in range(h // _TILE):
                for tc in range(_WIDTH // _TILE):
                    tile = b"".join(
                        b[
                            (tr * _TILE + r) * _WIDTH
                            + tc * _TILE : (tr * _TILE + r) * _WIDTH
                            + tc * _TILE
                            + _TILE
                        ]
                        for r in range(_TILE)
                    )
                    out["doc_id"].append(doc_id)
                    out["tr"].append(tr)
                    out["tc"].append(tc)
                    out["tile_md5"].append(hashlib.md5(tile).hexdigest())
        yield pd.DataFrame(out)


@register("q_multimodal_image_tiles", oracle=_TILES_ORACLE)
def q_multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-style 2-D tiling: the 'png' cohort (doc_id % 3 = 0) is
    treated as a row-major {_WIDTH}-byte-wide raster and cut into
    {_TILE}×{_TILE} patches (complete tiles only) — the 2-D sibling of
    q_multimodal_audio_chunks' 1-D windows, matching how vision models
    consume images. Bytes ride Arrow through mapInPandas; the oracle
    rebuilds each tile from VARCHAR substrings (valid under the ASCII
    invariant asserted in tests/test_ext13.py) and hashes the ordered
    concatenation."""
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0)
        & (F.octet_length(F.encode("text", "UTF-8")) >= _WIDTH * _TILE)
    )
    media = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return media.mapInPandas(
        _tile_kernel,
        schema="doc_id long, tr long, tc long, tile_md5 string",
    )


_TOL_US = 24 * 3600 * 1_000_000  # 1-day staleness bound

_ASOF_TOL_ORACLE = f"""
{E_CTE},
p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM e
      WHERE event_type = 'click'),
j AS (
  SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.ts
   AND c.click_ts >= p.ts - INTERVAL 1 DAY)
SELECT event_id, user_id, ts, click_id, click_ts,
       CAST(click_id IS NOT NULL AS BIGINT) AS matched
FROM j WHERE rn = 1
"""


@register("q_join_asof_tolerance", oracle=_ASOF_TOL_ORACLE)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness TOLERANCE: each purchase matches the
    latest prior click of the same user no older than 1 day — the
    point-in-time join feature stores run (a stale feature is worse
    than no feature; q_join_asof has no freshness bound). Left join
    keeps unmatched purchases with matched=0 — the tolerance must be
    observable, not silently dropping rows. Same single-shuffle
    equi-key + range-residual + max_by shape as q_join_asof; the extra
    lower bound tightens the residual, SHRINKING the match set the
    aggregate reduces. Tolerance probed non-vacuous in
    tests/test_ext15.py: both matched and unmatched purchases exist."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("ts"))
        & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 DAY")),
        "left",
    )
    picked = j.groupBy("event_id", "user_id", "ts").agg(
        F.max_by(
            F.struct("click_id", "click_ts"), F.struct("click_ts", "click_id")
        ).alias("__m")
    )
    return picked.select(
        "event_id",
        "user_id",
        "ts",
        F.col("__m.click_id").alias("click_id"),
        F.col("__m.click_ts").alias("click_ts"),
        F.col("__m.click_id").isNotNull().cast("long").alias("matched"),
    )
