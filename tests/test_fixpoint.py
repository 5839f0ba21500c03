"""The fixpoint driver (``materialize.fixpoint``) and the loops that go
through it: convergence, the non-convergence error, the durability
policies, and the Spark jobs a converted loop spends."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from nosql_triple_store_spark import materialize as mat
from nosql_triple_store_spark.operators import graph
from nosql_triple_store_spark.operators.graph_ext import bfs_levels
from nosql_triple_store_spark.plans import sparql
from nosql_triple_store_spark.registry import all_specs

from .conftest import SF_DIR
from .util import compare_to_duckdb


def _chain(spark, n_edges: int):
    return spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(n_edges)], "src string, dst string"
    )


def test_fixpoint_raises_naming_what_and_cap_after_one_done_per_round(spark):
    seen = []

    def never(state):
        seen.append(state.count())
        return False

    with pytest.raises(RuntimeError, match=r"^toy loop did not converge in 4 rounds$"):
        mat.fixpoint(
            spark.range(3),
            lambda d: d.select((F.col("id") + 1).alias("id")),
            never,
            cap=4,
            what="toy loop",
        )
    assert seen == [3, 3, 3, 3]


def test_fixpoint_returns_the_first_state_done_accepts(spark):
    out = mat.fixpoint(
        spark.range(1),
        lambda d: d.select((F.col("id") + 1).alias("id")),
        lambda d: d.agg(F.max("id")).first()[0] == 3,
        cap=5,
        what="toy loop",
    )
    assert [r.id for r in out.collect()] == [3]


def test_transitive_closure_converges_at_its_cap_and_raises_past_it(spark):
    cap = sparql.CLOSURE_ROUND_CAP
    closure = sparql.transitive_closure(_chain(spark, cap))
    assert closure.count() == cap * (cap + 1) // 2
    with pytest.raises(RuntimeError, match=f"path closure did not converge in {cap} rounds"):
        sparql.transitive_closure(_chain(spark, cap + 1))


def test_cc_raises_when_its_cap_is_too_small(spark, monkeypatch):
    monkeypatch.setattr(graph, "CC_ROUND_CAP", 1)
    with pytest.raises(RuntimeError, match="connected components did not converge in 1 rounds"):
        graph.q_graph_cc(spark, SF_DIR)


def test_bfs_levels_reaches_past_three_hops(spark):
    levels = bfs_levels(_chain(spark, 6), "n0")
    assert sorted((r.node, r.dist) for r in levels.collect()) == [
        (f"n{i}", i) for i in range(7)
    ]


@pytest.mark.parametrize("policy", ["local", "reliable", "disk"])
@pytest.mark.parametrize(
    "name", ["q_graph_cc", "q_graph_cc_stars", "q_sparql_path_closure"]
)
def test_every_policy_matches_the_oracle(spark, ddb, monkeypatch, policy, name):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_POLICY", policy)
    spec = all_specs()[name]
    compare_to_duckdb(spec.fn(spark, SF_DIR), ddb, spec.oracle)


def test_unknown_policy_raises(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_POLICY", "replicated")
    with pytest.raises(ValueError, match=r"expected local\|reliable\|disk"):
        mat.materialize(spark.range(1))
    with pytest.raises(ValueError):
        mat.lazy_cut(spark.range(1))


def _jobs(spark, build) -> int:
    """Spark jobs of ``build().collect()``, after one warm-up run."""
    build().collect()
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        build().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Each converted loop spends one action per round; an added per-round
# action pushes these counts up.
@pytest.mark.parametrize(
    "label, build, most",
    [
        ("q_graph_cc", lambda s: graph.q_graph_cc(s, SF_DIR), 13),
        (
            "nation:3 inRegion+",
            lambda s: sparql.compile_sparql_encoded(
                s, SF_DIR, "SELECT ?x WHERE { nation:3 inRegion+ ?x }"
            ),
            9,
        ),
    ],
)
def test_loop_job_count_is_pinned(spark, label, build, most):
    assert _jobs(spark, lambda: build(spark)) <= most, label
