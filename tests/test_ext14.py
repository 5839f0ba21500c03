"""Targeted checks for the fourteenth extension batch."""

from __future__ import annotations

import pyspark.sql.functions as F

from nosql_triple_store_spark.catalog import load_table
from nosql_triple_store_spark.operators.relational_ext14 import (
    _BLOOM_CONFS,
    _PQ_K,
    _SESSION_US,
    q_interval_union,
    q_vector_pq,
)
from nosql_triple_store_spark.session import pinned_confs

from .conftest import SF_DIR


def test_bloom_filter_injected(spark):
    """With the demo confs pinned, the optimized plan must contain the
    runtime bloom filter (might_contain probe over a bloom_filter_agg
    subquery) on the lineitem side."""
    with pinned_confs(spark, _BLOOM_CONFS):
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
            "l_returnflag"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "bloom" in plan or "might_contain" in plan, plan[:3000]


def test_interval_union_bounds(spark):
    """Union length per user is bounded by (one interval, n·intervals],
    and overlaps actually merge somewhere (strict < n·900s for some
    user), with islands ≥ 1."""
    out = q_interval_union(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    j = out.join(ev, "user_id").collect()
    assert j
    merged_somewhere = False
    for r in j:
        assert r.covered_us >= _SESSION_US
        assert r.covered_us <= r.n_events * _SESSION_US
        assert 1 <= r.n_islands <= r.n_events
        if r.covered_us < r.n_events * _SESSION_US:
            merged_somewhere = True
    assert merged_somewhere


def test_pq_codes_valid_and_self_coding(spark):
    """Codes lie in [0, K); codebook vectors (vec_id < K) reconstruct
    themselves exactly (their own subvector IS a centroid); and PQ
    reconstruction beats the single-centroid baseline on average."""
    out = q_vector_pq(spark, SF_DIR).collect()
    by_id = {r.vec_id: r for r in out}
    for r in out:
        for c in (r.code0, r.code1, r.code2, r.code3):
            assert 0 <= c < _PQ_K
    for vid in range(_PQ_K):
        r = by_id[vid]
        assert (r.code0, r.code1, r.code2, r.code3) == (vid,) * 4
        assert r.recon_sq_err == 0.0
    import statistics

    mean_err = statistics.mean(r.recon_sq_err for r in out)
    # baseline: everything coded as centroid 0
    emb = load_table(spark, SF_DIR, "embeddings")
    c0 = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    base = emb.select(
        F.aggregate(
            F.zip_with(
                "embedding",
                F.array(*[F.lit(float(x)) for x in c0]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("e")
    ).agg(F.avg("e")).collect()[0][0]
    assert mean_err < base


def test_pq_deterministic(spark):
    a = {(r.vec_id, r.code0, r.code1, r.code2, r.code3)
         for r in q_vector_pq(spark, SF_DIR).collect()}
    b = {(r.vec_id, r.code0, r.code1, r.code2, r.code3)
         for r in q_vector_pq(spark, SF_DIR).collect()}
    assert a == b
