"""Multi-micro-batch streaming: state must accumulate correctly ACROSS
batches (the single-file availableNow runs in the registry process one
batch; here maxFilesPerTrigger=1 forces 4 batches) and the compaction
job must converge to the same register state."""

from __future__ import annotations

import datetime
import glob
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from nosql_triple_store_spark.catalog import load_table
from nosql_triple_store_spark.functions.lww import latest_by_key
from nosql_triple_store_spark.sources.compaction import (
    compact,
    init_register,
    latest_version_path,
    read_register,
    read_register_asof,
    versions,
)

from .conftest import SF_DIR

KEYS = ["user_id", "event_type"]
ORDER = ["ts", "event_id"]
PAYLOAD = ["event_id", "ts", "value"]
COLS = ["user_id", "event_type", "event_id", "ts", "value"]


def _rows(df):
    return sorted((tuple(r[c] for c in COLS) for r in df.collect()), key=repr)


def test_lww_stream_across_microbatches(spark):
    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = tempfile.mkdtemp(prefix="mb_src_")
    # 4 files arriving over time = 4 micro-batches
    events.withColumn("part", F.col("event_id") % 4).repartition(
        "part"
    ).write.partitionBy("part").mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp_ntz, user_id long, "
                                "event_type string, value double, part long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ordering = F.struct(F.col("ts"), F.col("event_id"))
    payload = F.struct(F.col("event_id"), F.col("ts"), F.col("value"))
    agg = (
        stream.groupBy("user_id", "event_type")
        .agg(F.max_by(payload, ordering).alias("__r"))
        .select(
            "user_id", "event_type",
            F.col("__r.event_id").alias("event_id"),
            F.col("__r.ts").alias("ts"),
            F.col("__r.value").alias("value"),
        )
    )
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None
    streamed = spark.table(name)
    batch = latest_by_key(events, KEYS, ORDER, PAYLOAD)
    assert _rows(streamed) == _rows(batch)


def test_compaction_converges_to_batch_state(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events").select(*COLS)
    base_dir = os.path.join(str(tmp_path), "register")
    first = events.filter(F.col("event_id") % 3 == 0)
    d1 = events.filter(F.col("event_id") % 3 == 1)
    d2 = events.filter(F.col("event_id") % 3 == 2)

    init_register(first, base_dir, KEYS, ORDER)
    compact(spark, base_dir, d1, KEYS, ORDER)
    p = compact(spark, base_dir, d2, KEYS, ORDER)
    assert p.endswith("v000003")

    got = read_register(spark, base_dir).select(*COLS)
    want = latest_by_key(events, KEYS, ORDER, PAYLOAD).select(*COLS)
    assert _rows(got) == _rows(want)

    # idempotence: re-compacting an already-applied delta changes nothing
    compact(spark, base_dir, d2, KEYS, ORDER)
    again = read_register(spark, base_dir).select(*COLS)
    assert _rows(again) == _rows(want)


def test_compact_recovers_from_failed_write(spark, tmp_path):
    """The version dir is the commit point: a compaction whose write
    fails publishes nothing, a retry with a good delta succeeds, and a
    delta without its version (an orphan) is neither read by time
    travel nor kept by the next compaction."""
    events = load_table(spark, SF_DIR, "events").select(*COLS)
    base = os.path.join(str(tmp_path), "register")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    init_register(first, base, KEYS, ORDER)

    bad_id = second.agg(F.min("event_id")).first()[0]
    bad = second.withColumn(
        "value",
        F.when(
            F.col("event_id") == bad_id, F.raise_error(F.lit("boom"))
        ).otherwise(F.col("value")),
    )
    with pytest.raises(Exception, match="boom"):
        compact(spark, base, bad, KEYS, ORDER)
    assert latest_version_path(base).endswith("v000001")

    assert compact(spark, base, second, KEYS, ORDER).endswith("v000002")
    want = latest_by_key(events, KEYS, ORDER, PAYLOAD).select(*COLS)
    hi = events.agg(F.max("ts")).first()[0] + datetime.timedelta(days=2)
    assert _rows(read_register(spark, base).select(*COLS)) == _rows(want)
    asof = read_register_asof(spark, base, KEYS, ORDER, hi)
    assert _rows(asof.select(*COLS)) == _rows(want)
    assert not glob.glob(f"{base}/_stage_*")

    # orphan d000003: newer rows that would win if they were folded
    newer = events.filter(F.col("event_id") % 5 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    newer.withColumn("value", F.lit(-1.0)).write.parquet(f"{base}/d000003")
    asof = read_register_asof(spark, base, KEYS, ORDER, hi)
    assert _rows(asof.select(*COLS)) == _rows(want)

    assert compact(spark, base, newer, KEYS, ORDER).endswith("v000003")
    assert _rows(spark.read.parquet(f"{base}/d000003")) == _rows(newer)
    want = latest_by_key(
        events.unionByName(newer), KEYS, ORDER, PAYLOAD
    ).select(*COLS)
    assert _rows(read_register(spark, base).select(*COLS)) == _rows(want)
    asof = read_register_asof(spark, base, KEYS, ORDER, hi)
    assert _rows(asof.select(*COLS)) == _rows(want)
    assert not glob.glob(f"{base}/_stage_*")


def test_asof_read_reconstructs_past_state(spark, tmp_path):
    from pyspark.sql import functions as F

    from nosql_triple_store_spark.sources.compaction import (
        read_register_asof,
    )

    events = load_table(spark, SF_DIR, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    base = os.path.join(str(tmp_path), "reg")
    order = ["ts_us", "event_id"]
    payload = ["event_id", "ts_us", "value"]
    init_register(events.filter(F.col("event_id") % 2 == 0), base, KEYS, order)
    compact(spark, base, events.filter(F.col("event_id") % 2 == 1), KEYS, order)

    lo, mid, hi = (
        events.agg(
            F.min("ts_us"),
            F.expr("percentile_approx(ts_us, 0.5)"),
            F.max("ts_us"),
        ).collect()[0]
    )
    cols = ["user_id", "event_type", "event_id", "ts_us", "value"]

    def rows(df):
        return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)

    # as-of the max timestamp == current full state
    full = latest_by_key(events, KEYS, order, payload).select(*cols)
    assert rows(read_register_asof(spark, base, KEYS, order, hi).select(*cols)) == rows(full)
    # as-of a mid cut == LWW over the time-filtered changelog
    want_mid = latest_by_key(
        events.filter(F.col("ts_us") <= mid), KEYS, order, payload
    ).select(*cols)
    assert rows(read_register_asof(spark, base, KEYS, order, mid).select(*cols)) == rows(want_mid)
    # as-of before history begins == empty register
    assert read_register_asof(spark, base, KEYS, order, lo - 1).count() == 0


def test_admission_index_state_is_bounded(spark):
    """Retention policy (VERDICT r5 #4): after all 4 ingestion waves,
    the on-disk band index must hold at most _COMPACT_EVERY + 1
    segments (each a single parquet file) — compaction merges per-batch
    segments so state segment count does NOT grow with batch count —
    and the decisions must still match the oracle semantics (covered by
    the oracle sweep; here we re-assert row count as a sanity floor).
    """
    import glob
    import os

    from nosql_triple_store_spark.streaming import dedup_stream as ds

    out = ds.q_stream_dedup_admission(spark, SF_DIR)
    n = out.count()
    base = ds._LAST_BASE[SF_DIR]
    segs = versions(f"{base}/index", ("b", "c"))
    assert len(segs) <= ds._COMPACT_EVERY + 1, (
        f"index state grew to {len(segs)} segments: {segs}"
    )
    # compaction must have actually fired on the 4-wave fixture
    assert any(os.path.basename(s).startswith("c") for s in segs)
    # each segment is one parquet file (small-files bound)
    for s in segs:
        assert len(glob.glob(f"{s}/*.parquet")) == 1
    # index still covers every admitted doc's band keys: the compacted
    # index row count equals the distinct (doc_id, band, bkey) count of
    # all ingested docs
    idx = spark.read.parquet(*segs)
    assert idx.count() == idx.dropDuplicates(["doc_id", "band", "bkey"]).count()
    assert n > 0


def test_bgp_delta_join_emits_across_batches_exactly_once(spark):
    """Incremental join maintenance: the star matches must (a) equal
    the one-shot batch answer as a multiset (exactly-once emission),
    and (b) be spread across MULTIPLE micro-batches — proving the
    old⋈delta / delta⋈old terms fire, not just same-batch delta⋈delta
    (predicate-dependent wave scrambling guarantees join partners
    arrive in different waves)."""
    import os

    from nosql_triple_store_spark.registry import all_specs
    from nosql_triple_store_spark.streaming import bgp_stream as bs

    specs = all_specs()
    got = specs["q_stream_bgp_delta_join"].fn(spark, SF_DIR)
    batch = specs["q_bgp_star"].fn(spark, SF_DIR)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    base = bs._LAST_BASE[SF_DIR]
    per_batch = []
    for d in sorted(os.listdir(f"{base}/matches")):
        n = spark.read.parquet(f"{base}/matches/{d}").count()
        per_batch.append(n)
    assert sum(1 for n in per_batch if n > 0) >= 2, per_batch
