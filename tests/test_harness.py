"""The shared timing harness's run contract: layout builds inside a run
are moved out of its figure, and the post-run cleanup frees only the
blocks that run persisted."""

from __future__ import annotations

import time

from nosql_triple_store_spark.catalog import load_table
from nosql_triple_store_spark.materialize import materialize
from nosql_triple_store_spark.scratch import timed_build
from scripts.harness import timed_run

from .conftest import SF_DIR


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_timed_run_scopes_cleanup_and_drains_builds(spark):
    before = _persisted(spark)
    keep = load_table(spark, SF_DIR, "nation").persist()
    keep.count()
    keep_ids = _persisted(spark) - before
    assert keep_ids

    made: set[int] = set()

    def query(spark, sf_dir):
        with timed_build("harness_test_build"):
            time.sleep(0.5)
        pre = _persisted(spark)
        df = materialize(load_table(spark, sf_dir, "orders"))
        made.update(_persisted(spark) - pre)
        return df

    t0 = time.perf_counter()
    run = timed_run(spark, query, SF_DIR)
    wall = time.perf_counter() - t0

    assert made, "materialize persisted nothing: the test checks nothing"
    after = _persisted(spark)
    assert not made & after
    assert keep_ids <= after
    assert keep.is_cached
    assert run.cleanup_failures == 0

    assert set(run.built) == {"harness_test_build"}
    assert run.built["harness_test_build"] >= 0.5
    assert 0.0 <= run.elapsed <= wall - 0.5
    keep.unpersist()
