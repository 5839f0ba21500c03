"""The parquet read cache (catalog.read_parquet): one resolve per session
and input state, fresh rows after a rewrite, no sharing across sessions,
a bounded LRU — and a guard that repeated point reads and SPARQL requests
resolve nothing again."""

from __future__ import annotations

import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameReader

from nosql_triple_store_spark import catalog
from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded
from nosql_triple_store_spark.registry import queries
from nosql_triple_store_spark.sources import compaction

from .conftest import SF_DIR


@pytest.fixture
def parquet_reads(monkeypatch):
    """Counts calls of DataFrameReader.parquet (the uncached resolve)."""
    calls = []
    orig = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        calls.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return calls


@pytest.fixture
def sf_copy(tmp_path):
    d = tmp_path / "sf"
    shutil.copytree(SF_DIR, d)
    return str(d)


def test_second_load_returns_same_dataframe_without_reading(
    spark, sf_copy, parquet_reads
):
    first = catalog.load_table(spark, sf_copy, "customer")
    assert len(parquet_reads) == 1
    again = catalog.load_table(spark, sf_copy, "customer")
    assert again is first
    assert len(parquet_reads) == 1


def test_rewritten_file_makes_new_rows_visible(spark, sf_copy, parquet_reads):
    path = f"{sf_copy}/customer.parquet"
    n0 = catalog.load_table(spark, sf_copy, "customer").count()
    t = pq.read_table(path)
    pq.write_table(t.slice(0, 10), path)
    assert catalog.load_table(spark, sf_copy, "customer").count() == 10 != n0
    assert len(parquet_reads) == 2


def test_new_session_does_not_share_entries(spark, sf_copy, parquet_reads):
    other = spark.newSession()
    a = catalog.load_table(spark, sf_copy, "nation")
    b = catalog.load_table(other, sf_copy, "nation")
    assert a is not b
    assert b.sparkSession is other
    assert len(parquet_reads) == 2
    assert catalog.load_table(other, sf_copy, "nation") is b


def test_read_register_sees_compacted_version(spark, tmp_path, parquet_reads):
    base = str(tmp_path / "reg")
    keys, order = ["k"], ["ts"]
    schema = "k int, ts int, v string"
    snap = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], schema)
    compaction.init_register(snap, base, keys, order)
    before = compaction.read_register(spark, base)
    assert compaction.read_register(spark, base) is before
    assert sorted(map(tuple, before.collect())) == [(1, 10, "a"), (2, 10, "b")]
    delta = spark.createDataFrame([(1, 20, "x"), (2, 5, "old")], schema)
    compaction.compact(spark, base, delta, keys, order)
    after = compaction.read_register(spark, base)
    assert sorted(map(tuple, after.collect())) == [(1, 20, "x"), (2, 10, "b")]


def test_lru_never_exceeds_its_size(spark, tmp_path, monkeypatch, parquet_reads):
    monkeypatch.setattr(catalog, "READ_CACHE_SIZE", 3)
    s = spark.newSession()
    paths = []
    for i in range(5):
        p = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), p)
        paths.append(p)
        catalog.read_parquet(s, p)
        assert len(s._nts_read_cache) <= catalog.READ_CACHE_SIZE
    assert len(s._nts_read_cache) == 3
    catalog.read_parquet(s, paths[-1])  # most recent: still cached
    assert len(parquet_reads) == 5
    catalog.read_parquet(s, paths[0])  # least recent: evicted, re-read
    assert len(parquet_reads) == 6


@pytest.mark.parametrize(
    "build",
    [
        lambda spark: queries()["q_point_lookup"](spark, SF_DIR),
        lambda spark: compile_sparql_encoded(
            spark, SF_DIR, "SELECT ?p ?o WHERE { customer:1 ?p ?o }"
        ),
    ],
    ids=["q_point_lookup", "sparql_subject"],
)
def test_repeated_request_resolves_nothing(spark, build, parquet_reads):
    """A request's repeat in the same session must not resolve any parquet
    input again: a raw ``spark.read.parquet`` on a request path fails it."""
    first = build(spark).collect()
    parquet_reads.clear()
    again = build(spark).collect()
    assert parquet_reads == []
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))


def test_concurrent_reads_never_fail_and_stay_bounded(
    spark, tmp_path, monkeypatch
):
    """Threads racing on one session's cache (no lock) may re-read, but
    never raise, never return another path's DataFrame, and never grow
    the LRU past its size."""
    monkeypatch.setattr(catalog, "READ_CACHE_SIZE", 2)
    s = spark.newSession()
    paths = []
    for i in range(3):
        p = str(tmp_path / f"c{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), p)
        paths.append(p)
    errors, done = [], []

    def worker(w):
        try:
            for j in range(12):
                p = paths[(w + j) % len(paths)]
                df = catalog.read_parquet(s, p)
                assert any(f.endswith(p) for f in df.inputFiles()), p
                done.append(p)
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(done) == 8 * 12
    assert len(s._nts_read_cache) <= catalog.READ_CACHE_SIZE
