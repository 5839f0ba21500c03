"""Contract of ``scratch.memo`` and ``scratch.build_once``: one build
per key under contention, a new path after a listed source changes,
self-time billing for nested builds, nothing cached on failure, and
(with Spark) no stale answer after a source rewrite."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from nosql_triple_store_spark.operators.text_ext import bpe_fit, bpe_fit_cached
from nosql_triple_store_spark.registry import all_specs
from nosql_triple_store_spark.scratch import build_once, drain_build_seconds, memo

from .conftest import SF_DIR
from .util import compare_to_duckdb


def test_concurrent_misses_build_once(tmp_path):
    calls = []

    def write(path: str) -> None:
        calls.append(path)
        time.sleep(0.2)  # wide race window
        os.makedirs(path)

    start = threading.Barrier(8, timeout=30)

    def resolve(_):
        start.wait()
        return build_once("t_contended", str(tmp_path), write, sources=())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            paths = list(pool.map(resolve, range(8), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert set(paths) == {calls[0]}


def test_source_change_builds_a_new_path(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    calls = []

    def write(path: str) -> None:
        calls.append(path)
        os.makedirs(path)

    def resolve() -> str:
        return build_once("t_source", str(tmp_path), write, sources=("t",))

    first = resolve()
    assert resolve() == first and len(calls) == 1
    src.write_bytes(b"v2, longer")
    second = resolve()
    assert second != first and len(calls) == 2
    # the old build is left for any DataFrame still reading it
    assert os.path.isdir(first)


def test_nested_build_billed_as_self_time(tmp_path):
    def inner(path: str) -> None:
        time.sleep(0.2)
        os.makedirs(path)

    def outer(path: str) -> None:
        build_once("t_inner", str(tmp_path), inner, sources=())
        time.sleep(0.05)
        os.makedirs(path)

    drain_build_seconds()
    t0 = time.perf_counter()
    build_once("t_outer", str(tmp_path), outer, sources=())
    wall = time.perf_counter() - t0
    built = drain_build_seconds()
    assert set(built) == {"t_inner", "t_outer"}
    # 1 ms covers drain_build_seconds' 4-dp rounding; billing the inner
    # build twice would overshoot by its 0.2 s
    assert sum(built.values()) <= wall + 1e-3
    assert built["t_inner"] >= 0.2 > built["t_outer"]


def test_failed_compute_is_not_cached(tmp_path):
    calls = []

    def compute() -> int:
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first attempt fails")
        return 42

    with pytest.raises(RuntimeError):
        memo("t_fails", str(tmp_path), compute, sources=())
    assert memo("t_fails", str(tmp_path), compute, sources=()) == 42
    assert memo("t_fails", str(tmp_path), compute, sources=()) == 42
    assert len(calls) == 2


def test_rewritten_source_is_not_served_stale(spark, tmp_path):
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    spec = all_specs()["q_source_csv"]

    def answer() -> dict:
        return {r[0]: tuple(r[1:]) for r in spec.fn(spark, str(sf)).collect()}

    def oracle() -> dict:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
        )
        rows = con.execute(spec.oracle).fetchall()
        con.close()
        return {r[0]: tuple(r[1:]) for r in rows}

    def same(got: dict, want: dict) -> bool:
        return set(got) == set(want) and all(
            got[k][0] == want[k][0]
            and got[k][1] == pytest.approx(want[k][1], abs=0.011)
            and got[k][2:] == want[k][2:]
            for k in want
        )

    assert same(answer(), oracle())
    path = sf / "orders.parquet"
    t = pq.read_table(path)
    prio = t.column("o_orderpriority")
    first = prio[0].as_py()
    other = next(p for p in pc.unique(prio).to_pylist() if p != first)
    changed = pc.if_else(
        pc.equal(t.column("o_orderkey"), t.column("o_orderkey")[0]),
        pa.scalar(other, prio.type),
        prio,
    )
    idx = t.schema.get_field_index("o_orderpriority")
    pq.write_table(t.set_column(idx, t.schema.field(idx), changed), path)
    want = oracle()
    assert same(answer(), want), want


def test_vacuum_answers_for_the_rewritten_register(spark, tmp_path):
    """q_maintenance_vacuum memoizes its destructive run per register:
    after the events table changes, it vacuums the new register rather
    than replaying the old answer."""
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    spec = all_specs()["q_maintenance_vacuum"]
    path = sf / "events.parquet"

    def live_rows() -> set:
        return {r["live_rows"] for r in spec.fn(spark, str(sf)).collect()}

    def n_keys() -> int:
        con = duckdb.connect()
        (n,) = con.execute(
            "SELECT COUNT(*) FROM (SELECT DISTINCT user_id, event_type "
            f"FROM read_parquet('{path}'))"
        ).fetchone()
        con.close()
        return n

    assert live_rows() == {n_keys()}
    t = pq.read_table(path)
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(t["user_id"], 1), 0)), path)
    want = n_keys()
    assert live_rows() == {want}, want


@pytest.mark.parametrize("name", ["q_join_bucketed", "q_source_jdbc"])
def test_rewritten_orders_are_not_served_stale(spark, tmp_path, name):
    """A query whose derived state (bucketed tables, the JDBC copy) is
    memoized answers for the rewritten orders table, not the old one."""
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    spec = all_specs()[name]
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    compare_to_duckdb(spec.fn(spark, str(sf)), con, spec.oracle)
    path = sf / "orders.parquet"
    t = pq.read_table(path)
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(t["o_orderkey"], 1), 0)), path)
    compare_to_duckdb(spec.fn(spark, str(sf)), con, spec.oracle)
    con.close()


def test_bpe_merge_table_follows_rewritten_documents(spark, tmp_path):
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    assert bpe_fit_cached(spark, str(sf)) == bpe_fit(spark, str(sf))
    path = sf / "documents.parquet"
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 3), path)
    assert bpe_fit_cached(spark, str(sf)) == bpe_fit(spark, str(sf))
