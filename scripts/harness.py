"""Timing harness shared by ``bench.py`` and ``scripts/profile_queries.py``.

- ``warm_session``: charge JVM, parquet-footer and streaming start-up to
  nobody before the first timed query.
- ``build_layouts``: build every registered layout (``@register_layout``)
  that a selected query consumes, timed outside the queries.
- ``timed_run``: one noop-sink run of a query with first-touch layout
  builds moved out of its figure and only its own cached blocks freed.
- ``conditions``: what an artifact records about the run it measured.

Execution is forced with a noop-format write, so the full pipeline runs
on executors with no driver-side collect skewing the numbers.
"""

from __future__ import annotations

import gc
import os
import re
import subprocess
import time
from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from nosql_triple_store_spark.catalog import TABLES, load_table
from nosql_triple_store_spark.registry import aliases, all_layouts
from nosql_triple_store_spark.scratch import drain_build_seconds, scratch_tmp


class Run(NamedTuple):
    elapsed: float  # seconds, layout builds excluded
    built: dict[str, float]  # layout kind -> first-touch build seconds
    cleanup_failures: int  # persisted-RDD snapshot/unpersist errors


def conditions(spark: SparkSession) -> dict:
    """The git HEAD of this checkout (suffixed ``-dirty`` when tracked
    files differ from it; None outside a git checkout), the session's
    default parallelism, and every alias name with the name of the
    computation it shares."""
    try:
        head = subprocess.run(
            ["git", "describe", "--always", "--dirty", "--abbrev=40"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        head = None
    return {
        "git_head": head,
        "cores": spark.sparkContext.defaultParallelism,
        "aliases": aliases(),
    }


def warm_session(spark: SparkSession, sf_dir: str) -> None:
    """Warm codegen on a trivial job, touch every table so early queries
    are not charged first-read footer I/O, and start one streaming query
    so the first stream query is not charged StreamingQueryManager and
    state-store init (~1 s)."""
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", scratch_tmp("harness_warm_"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def build_layouts(
    spark: SparkSession, sf_dir: str, query_names: Iterable[str]
) -> dict[str, float]:
    """Build, in registration order, each layout that some query in
    ``query_names`` consumes; return build seconds per layout. A layout
    function that returns a DataFrame is counted so its scratch is
    written."""
    names = list(query_names)
    out: dict[str, float] = {}
    for layout in all_layouts().values():
        cre = re.compile(layout.consumers)
        if not any(cre.search(n) for n in names):
            continue
        t0 = time.perf_counter()
        built = layout.fn(spark, sf_dir)
        if isinstance(built, DataFrame):
            built.count()
        out[layout.name] = round(time.perf_counter() - t0, 4)
    return out


def timed_run(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> Run:
    """Time plan construction plus a noop write of ``fn(spark, sf_dir)``.

    Some operators run eagerly inside the query fn (streaming drains,
    iterative graph loops), so the clock starts before the call.
    Scratch builds recorded by ``scratch.timed_build`` during the run
    are layout cost: they are subtracted and returned in ``built``.
    Afterwards only the RDDs persisted during this run are unpersisted;
    ContextCleaner reaps them only after a driver GC, which a large idle
    heap rarely runs, and accumulated blocks stall later queries. Blocks
    persisted before the run are left alone.
    """
    jsc = spark.sparkContext._jsc
    failures = 0
    drain_build_seconds()  # discard builds recorded outside the run
    try:
        pre_ids = set(jsc.getPersistentRDDs().keys())
    except Exception:
        pre_ids = None
        failures += 1
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    built = drain_build_seconds()
    if built:
        elapsed = max(0.0, elapsed - sum(built.values()))
    # drop Python refs to the plan so its blocks become collectable
    del df
    gc.collect()
    if pre_ids is not None:
        try:
            persisted = list(jsc.getPersistentRDDs().items())
        except Exception:
            persisted = []
            failures += 1
        for rid, jrdd in persisted:
            if rid in pre_ids:
                continue
            try:
                jrdd.unpersist(False)
            except Exception:
                failures += 1
    return Run(elapsed, built, failures)
