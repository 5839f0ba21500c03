"""k-core invariants: every node in the returned core has core-degree
>= k within the core, and the result is a fixpoint (peeling it again
removes nothing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nosql_triple_store_spark.operators.graph_ext3 import (
    K_CORE,
    _copurchase_edges,
    core_degrees,
    q_graph_kcore,
)

from .conftest import SF_DIR


def test_kcore_invariants(spark):
    core = q_graph_kcore(spark, SF_DIR)
    rows = core.collect()
    nodes = {r.part_id for r in rows}
    # invariant 1: reported core degree >= k for every member
    for r in rows:
        assert r.core_deg >= K_CORE, (r.part_id, r.core_deg)
    # invariant 2: recompute degrees within the core from the raw edges —
    # they must match the reported core_deg (fixpoint, nothing to peel)
    e = _copurchase_edges(spark, SF_DIR)
    sym = e.unionByName(
        e.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    inside = [
        (r.pa, r.pb)
        for r in sym.collect()
        if r.pa in nodes and r.pb in nodes
    ]
    from collections import Counter

    deg = Counter(u for u, _ in inside)
    reported = {r.part_id: r.core_deg for r in rows}
    assert deg == Counter(reported), "core degrees disagree with raw edges"


def test_kcore_deterministic(spark):
    a = {tuple(r) for r in q_graph_kcore(spark, SF_DIR).collect()}
    b = {tuple(r) for r in q_graph_kcore(spark, SF_DIR).collect()}
    assert a == b


def test_core_degrees_peels_in_rounds(spark):
    # a 5-clique (degree 4) plus node 11 (degree 3), which peels in
    # round 1 and so drops node 10 from degree 4 to 3 for round 2; the
    # clique remains
    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    tail = [(10, 0), (10, 1), (10, 2), (11, 10), (11, 0), (11, 1)]
    pairs = clique + tail
    sym = spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "pa long, pb long")
    assert K_CORE == 4
    assert sorted(tuple(r) for r in core_degrees(sym).collect()) == [
        (i, 4) for i in range(5)
    ]
