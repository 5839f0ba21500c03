"""The publish rule for versioned directories (sources/compaction.py):
a write is staged and renamed into place, a crashed attempt's stage is
overwritten by the next one, publishing onto an existing name keeps the
first write (the retry-by-``batch_id`` contract every foreachBatch sink
relies on), and version listings never see a stage."""

from __future__ import annotations

import os

from nosql_triple_store_spark.sources.compaction import (
    publish,
    publish_file,
    versions,
)


def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


def test_publish_overwrites_leftover_stage(spark, tmp_path):
    stage = tmp_path / "_stage_v000001"
    stage.mkdir()
    (stage / "part-00000-crashed.parquet").write_bytes(b"not parquet")
    target = str(tmp_path / "v000001")
    assert publish(spark.range(3), target)
    assert _ids(spark, target) == [0, 1, 2]
    assert sorted(os.listdir(tmp_path)) == ["v000001"]


def test_publish_onto_existing_target_keeps_first_write(spark, tmp_path):
    target = str(tmp_path / "v000007")
    assert publish(spark.range(3), target)
    # a retried micro-batch publishes again under the same batch_id
    assert not publish(spark.range(10, 12), target)
    assert _ids(spark, target) == [0, 1, 2]
    assert sorted(os.listdir(tmp_path)) == ["v000007"]


def test_publish_file_leaves_one_plain_file(spark, tmp_path):
    target = str(tmp_path / "wave0.parquet")
    publish_file(spark.range(5).repartition(3), target)
    assert sorted(os.listdir(tmp_path)) == ["wave0.parquet"]
    assert _ids(spark, target) == [0, 1, 2, 3, 4]


def test_versions_lists_published_dirs_only(tmp_path):
    for name in (
        "v000002", "v000001", "_stage_v000003", "d000001", "vacuum",
        "b000004", "c000003", "_stage_c000005",
    ):
        (tmp_path / name).mkdir()
    base = str(tmp_path)
    assert versions(base, "v") == [
        os.path.join(base, "v000001"), os.path.join(base, "v000002")
    ]
    assert [os.path.basename(p) for p in versions(base, ("b", "c"))] == [
        "b000004", "c000003"
    ]
    assert versions(os.path.join(base, "missing"), "v") == []
