"""Tests of the benchmark itself: statistics, span accounting, the LWW
model, the answer checks, and a smoke run of every workload.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import stats
from perfbench.datagen import make_tables
from perfbench.oracle import LwwModel, canonical
from perfbench.tracing import Span, Tracer, inclusive_times, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# --- statistics ---------------------------------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.tail_supported(100, 90)
    assert not stats.tail_supported(99, 90)
    assert not stats.tail_supported(30, 90)
    assert stats.tail_supported(1000, 99)
    assert not stats.tail_supported(999, 99)


# --- spans ----------------------------------------------------------------


def test_self_time_subtracts_nested_children():
    spans = [
        Span("request", 0.0, 10.0, None, 0),
        Span("build", 1.0, 4.0, 0, 0),
        Span("catalog", 2.0, 3.0, 1, 0),
        Span("spark.exec", 5.0, 6.0, 0, 0),
    ]
    own = self_times(spans)
    assert own["request"] == pytest.approx(6.0)
    assert own["build"] == pytest.approx(2.0)
    assert own["catalog"] == pytest.approx(1.0)
    assert own["spark.exec"] == pytest.approx(1.0)
    assert sum(own.values()) == pytest.approx(10.0)


def test_overlapping_children_are_not_subtracted_twice():
    spans = [
        Span("build", 0.0, 10.0, None, 0),
        Span("catalog", 1.0, 5.0, 0, 0),
        Span("lww", 3.0, 7.0, 0, 0),
    ]
    assert self_times(spans)["build"] == pytest.approx(4.0)


def test_inclusive_time_counts_outermost_same_name_span_once():
    spans = [
        Span("materialize", 0.0, 4.0, None, 0),
        Span("materialize", 1.0, 2.0, 0, 0),
        Span("materialize", 5.0, 6.0, None, 0),
    ]
    assert inclusive_times(spans)["materialize"] == pytest.approx(5.0)


def test_tracer_records_parents_and_request_ids():
    t = Tracer()
    t.request = 3
    with t.span("request"):
        with t.span("build"):
            pass
        with t.span("spark.exec"):
            pass
    assert [s.name for s in t.spans] == ["request", "build", "spark.exec"]
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert {s.request for s in t.spans} == {3}
    assert all(s.end >= s.start for s in t.spans)


def test_layer_wrappers_rebind_every_engine_module():
    from nosql_triple_store_spark import catalog, registry
    from nosql_triple_store_spark.operators import triple

    from perfbench.tracing import install_layer_spans

    registry.all_specs()
    orig = catalog.load_table
    assert triple.load_table is orig
    t = Tracer()
    restore = install_layer_spans(t)
    try:
        assert catalog.load_table is not orig
        assert triple.load_table is catalog.load_table
    finally:
        restore()
    assert catalog.load_table is orig and triple.load_table is orig


# --- inputs -----------------------------------------------------------------


def test_inputs_depend_only_on_the_seed():
    a, b, c = make_tables(5, 0.001), make_tables(5, 0.001), make_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"


# --- checks against the engine ------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from nosql_triple_store_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _ts(minute: int, us: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute, 0, us)


def test_lww_model_matches_engine_on_ties_and_stale_writes(spark):
    from nosql_triple_store_spark.functions.lww import lww_merge

    from perfbench.workloads import EVENT_COLS, EVENT_SCHEMA, REG_KEYS, REG_ORDER

    base = [
        (1, _ts(10), 7, "view", 1.0, "a"),
        (2, _ts(20), 7, "click", 2.0, "b"),
        (3, _ts(30), 8, "view", 3.0, "c"),
    ]
    delta = [
        (10, _ts(15), 7, "view", 10.0, "newer"),  # newer: wins
        (11, _ts(5), 7, "click", 11.0, "stale"),  # stale: loses
        (-1, _ts(30), 8, "view", 12.0, "tie-low"),  # tie, lower id: loses
        (12, _ts(30), 8, "view", 13.0, "tie-high"),  # tie, higher id: wins
        (13, _ts(1), 9, "signup", 14.0, "new-key"),  # new key
    ]
    payload = [c for c in EVENT_COLS if c not in REG_KEYS]
    got = lww_merge(
        spark.createDataFrame(base, EVENT_SCHEMA),
        [spark.createDataFrame(delta, EVENT_SCHEMA)],
        REG_KEYS,
        REG_ORDER,
        payload,
    ).select(*EVENT_COLS)
    model = LwwModel()
    model.apply(base + delta)
    want = sorted(model.state.values())
    assert sorted(tuple(r) for r in got.collect()) == want
    assert {r[5] for r in want} == {"newer", "b", "tie-high", "new-key"}
    asof = model.user_asof(8, _ts(30))
    assert [r[5] for r in asof] == ["tie-high"]
    # as of 00:12 the stale click is the newest click written
    assert sorted(r[5] for r in model.user_asof(7, _ts(12))) == ["a", "stale"]


def test_corrupted_answer_counts_as_failed(spark, tmp_path):
    from pyspark.sql import functions as F

    from perfbench.harness import Phase
    from perfbench.workloads import PointRead, Request

    wl = PointRead(spark, str(tmp_path), seed=4, sf=0.001)
    wl.setup(0)
    wl.prepare()
    try:
        good = wl._lookup()
        bad = wl._lookup()
        corrupt = Request(
            bad.kind,
            lambda: bad.build().withColumn("value", F.col("value") + 0.01),
            bad.check,
        )
        phase = Phase()
        phase.run(good)
        phase.run(corrupt)
    finally:
        wl.close()
    assert phase.attempted == 2 and phase.correct == 1
    assert len(phase.failures) == 1 and "r1_lookup" in phase.failures[0]


def test_canonical_ignores_row_and_column_order():
    a = canonical(["b", "a"], [(2, 1), (4, 3)])
    b = canonical(["a", "b"], [(3, 4), (1, 2)])
    assert a == b


# --- command line -------------------------------------------------------------


def _run(args, cwd=ROOT, timeout=400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


# graph_iter is not in BENCHMARK.json (run budget) but stays runnable by hand
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["graph_iter"])
def test_smoke_run_has_no_errors(workload):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--sf", "0.001", "--trace", "0"])
    assert p.returncode == 0, p.stderr[-3000:]
    artifact = json.loads(p.stdout.strip().splitlines()[-2])["perfbench"]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0, artifact["failures"]
    assert result["correct"] is True and result["attempted"] >= 1
    assert artifact["error_rate"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    work = os.path.join(ROOT, ".perfbench_work")
    assert not os.path.isdir(work) or not any(
        d.startswith(f"{workload}-") for d in os.listdir(work)
    )


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_reports_every_layer_metric(workload):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--sf", "0.001", "--trace", "1"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["lww.calls"] > 0 and m["spark.jobs"] > 0
    if workload == "register_ingest":
        assert m["compaction.bytes_written"] > 0 and m["write_amp"] > 1
    else:  # the property-path request's closure rounds
        assert m["materialize.calls"] > 0 and m["sparql.parse_s"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(["--workload", "point_read", "--seed", "1", "--seconds", "1"], cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert "correct" not in p.stdout
