"""Targeted checks for the fifteenth extension batch."""

from __future__ import annotations

import pyspark.sql.functions as F

from nosql_triple_store_spark.catalog import load_table
from nosql_triple_store_spark.operators.relational_ext15 import (
    _TILE,
    _WIDTH,
    q_join_asof_tolerance,
    q_multimodal_image_tiles,
    q_schema_evolution,
    q_source_partition_overwrite,
)
from nosql_triple_store_spark.plans.bgp import natural_join

from .conftest import SF_DIR


def test_sparql_minus_disjoint_vars_is_noop(spark):
    """SPARQL 1.1 §8.3: MINUS with no shared variables removes nothing —
    the exact semantic difference from FILTER NOT EXISTS, whose
    uncorrelated lowering (anti join on zero keys / cross-check) would
    drop every row against a non-empty pattern."""
    left = spark.createDataFrame([(1, "a"), (2, "b")], "x long, y string")
    right = spark.createDataFrame([(9,)], "z long")  # disjoint vars
    assert natural_join(left, right, "left_anti").count() == 2
    # shared-var case actually removes
    right2 = spark.createDataFrame([(1,)], "x long")
    assert natural_join(left, right2, "left_anti").count() == 1


def test_asof_tolerance_non_vacuous(spark):
    out = q_join_asof_tolerance(spark, SF_DIR)
    matched = out.filter(F.col("matched") == 1).count()
    unmatched = out.filter(F.col("matched") == 0).count()
    assert matched > 0 and unmatched > 0, (matched, unmatched)
    # tolerance actually binds: every match is within 1 day
    bad = out.filter(
        (F.col("matched") == 1)
        & (
            (F.col("click_ts") > F.col("ts"))
            | (F.col("click_ts") < F.col("ts") - F.expr("INTERVAL 1 DAY"))
        )
    ).count()
    assert bad == 0


def test_partition_overwrite_touches_only_purchase(spark):
    """After the dynamic-overwrite compaction, the purchase partition
    holds exactly one row per purchasing user; the other four
    partitions still hold their raw row counts."""
    out = {r.event_type: r for r in q_source_partition_overwrite(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    raw = {r.event_type: r for r in ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    ).collect()}
    assert set(out) == set(raw)
    for t, r in out.items():
        if t == "purchase":
            assert r.n == raw[t].n_users  # compacted to one row per user
        else:
            assert r.n == raw[t].n  # untouched


def test_image_tile_counts(spark):
    """Tiles per doc = rows-of-tiles × 2 columns, complete tiles only."""
    tiles = q_multimodal_image_tiles(spark, SF_DIR)
    per_doc = tiles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tiles"))
    docs = load_table(spark, SF_DIR, "documents").filter(
        (F.col("doc_id") % 3 == 0)
        & (F.octet_length(F.encode("text", "UTF-8")) >= _WIDTH * _TILE)
    ).select(
        "doc_id",
        (
            (F.octet_length(F.encode("text", "UTF-8")) / _WIDTH).cast("long")
            / _TILE
        ).cast("long").alias("tile_rows"),
    )
    j = per_doc.join(docs, "doc_id").collect()
    assert j
    for r in j:
        assert r.n_tiles == r.tile_rows * (_WIDTH // _TILE)


def test_schema_evolution_nulls_on_old_files(spark):
    out = q_schema_evolution(spark, SF_DIR).collect()
    n_docs = sum(r.n_docs for r in out)
    n_q = sum(r.n_with_quality for r in out)
    total = load_table(spark, SF_DIR, "documents").count()
    assert n_docs == total
    assert 0 < n_q < n_docs  # old files contribute NULL quality
