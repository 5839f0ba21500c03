"""The parquet read cache (catalog.read_parquet): one resolve per session
and input state, fresh rows after a rewrite, no sharing across sessions,
a bounded LRU — and guards that repeated point reads and SPARQL requests
resolve nothing again, and that what the register just wrote is never
schema-inferred again."""

from __future__ import annotations

import shutil
import sys
import threading
import uuid

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
def jobs_of(spark):
    """``jobs_of(build) -> (result, n)``: the Spark jobs ``build()`` ran,
    counted through a job group as perfbench's tracer does."""
    sc = spark.sparkContext

    def run(build):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


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


def test_read_register_after_compact_runs_no_job(spark, tmp_path, jobs_of):
    """``compact`` enters the version it published with the schema it
    wrote, so resolving it for the next read launches no footer job."""
    base = str(tmp_path / "reg")
    schema = "k int, ts int, v string"
    snap = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], schema)
    compaction.init_register(snap, base, ["k"], ["ts"])
    delta = spark.createDataFrame([(1, 20, "x"), (3, 5, "c")], schema)
    compaction.compact(spark, base, delta, ["k"], ["ts"])
    reg, n_jobs = jobs_of(lambda: compaction.read_register(spark, base))
    assert n_jobs == 0
    assert sorted(map(tuple, reg.collect())) == [
        (1, 20, "x"), (2, 10, "b"), (3, 5, "c")
    ]


def test_asof_read_of_a_new_changelog_runs_no_job(spark, tmp_path, jobs_of):
    """Once ``d000001`` is resolved, the delta tuple of a later time-travel
    read (one delta longer after a compaction) resolves from its schema."""
    base = str(tmp_path / "reg")
    schema = "k int, ts int, v string"
    keys, order = ["k"], ["ts"]
    snap = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], schema)
    compaction.init_register(snap, base, keys, order)
    compaction.compact(
        spark, base, spark.createDataFrame([(1, 20, "x")], schema), keys, order
    )
    compaction.read_register_asof(spark, base, keys, order, 15)
    compaction.compact(
        spark, base, spark.createDataFrame([(2, 30, "y")], schema), keys, order
    )
    asof, n_jobs = jobs_of(
        lambda: compaction.read_register_asof(spark, base, keys, order, 25)
    )
    assert n_jobs == 0
    assert sorted(map(tuple, asof.collect())) == [(1, 20, "x"), (2, 10, "b")]


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
