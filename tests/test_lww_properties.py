"""CRDT properties of the LWW merge operator (report.pdf §5.3 asserts these
informally; the reference's correctness depends on them — SURVEY §5)."""

from __future__ import annotations

import math

import pandas as pd

from nosql_triple_store_spark.catalog import load_table
from nosql_triple_store_spark.functions.lww import (
    latest_by_key,
    latest_state_fn,
    lww_merge,
)

from .conftest import SF_DIR

KEYS = ["user_id", "event_type"]
ORDER = ["ts", "event_id"]
PAYLOAD = ["event_id", "ts", "value"]
COLS = ["user_id", "event_type", "event_id", "ts", "value"]


def _rows(df):
    return sorted(
        (tuple(r[c] for c in COLS) for r in df.select(*COLS).collect()), key=repr
    )


def _splits(spark):
    e = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    a = e.filter("event_id % 3 = 0")
    b = e.filter("event_id % 3 = 1")
    c = e.filter("event_id % 3 = 2")
    return e, a, b, c


def test_merge_commutative(spark):
    e, a, b, c = _splits(spark)
    ab = lww_merge(a, [b, c], KEYS, ORDER, PAYLOAD)
    ba = lww_merge(c, [a, b], KEYS, ORDER, PAYLOAD)
    assert _rows(ab) == _rows(ba)


def test_merge_equals_global_latest(spark):
    e, a, b, c = _splits(spark)
    merged = lww_merge(a, [b, c], KEYS, ORDER, PAYLOAD)
    direct = latest_by_key(e, KEYS, ORDER, PAYLOAD)
    assert _rows(merged) == _rows(direct)


def test_merge_idempotent(spark):
    e, a, b, c = _splits(spark)
    once = lww_merge(a, [b, c], KEYS, ORDER, PAYLOAD)
    twice = lww_merge(once.select("event_id", "ts", "user_id", "event_type", "value"),
                      [once.select("event_id", "ts", "user_id", "event_type", "value")],
                      KEYS, ORDER, PAYLOAD)
    assert _rows(once) == _rows(twice)


class _FakeGroupState:
    """The slice of pyspark's GroupState the kernel uses."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _fold(fn, state, key, *batches):
    (out,) = fn(key, iter([pd.DataFrame(b) for b in batches]), state)
    assert len(out) == 1
    return out.iloc[0].to_dict()


def test_state_kernel_newest_wins_across_batches():
    fn = latest_state_fn(KEYS, ["ts_us", "event_id"], ["value"])
    state, key = _FakeGroupState(), (7, "click")
    b1 = {"ts_us": [10, 30, 30], "event_id": [1, 2, 5], "value": [0.1, 0.2, 0.5]}
    out = _fold(fn, state, key, b1)
    # ts tie at 30 -> the higher event_id wins
    assert out == {
        "user_id": 7, "event_type": "click", "ts_us": 30, "event_id": 5, "value": 0.5
    }
    assert state.get == (30, 5, 0.5)
    # a later batch with an older write keeps the state ...
    out = _fold(fn, state, key, {"ts_us": [20], "event_id": [9], "value": [9.9]})
    assert (out["ts_us"], out["event_id"], out["value"]) == (30, 5, 0.5)
    # ... and one with a newer write replaces it
    out = _fold(fn, state, key, {"ts_us": [31], "event_id": [0], "value": [1.0]})
    assert state.get == (31, 0, 1.0)


def test_state_kernel_carries_tombstones():
    fn = latest_state_fn(KEYS, ["ts_us", "event_id"], ["value", "deleted"])
    state, key = _FakeGroupState(), (3, "view")
    writes = {
        "ts_us": [10, 40],
        "event_id": [4, 4],
        "value": [2.5, None],
        "deleted": [0, 1],
    }
    out = _fold(fn, state, key, writes)
    # the null-value tombstone is the newest write: kept, value NaN
    assert (out["ts_us"], out["deleted"]) == (40, 1)
    assert math.isnan(out["value"]) and math.isnan(state.get[2])
    # an older concurrent update must not resurrect the key
    old = {"ts_us": [39], "event_id": [99], "value": [7.0], "deleted": [0]}
    out = _fold(fn, state, key, old)
    assert (out["ts_us"], out["event_id"], out["deleted"]) == (40, 4, 1)
