"""Lineage cuts under one env-selected durability policy, and the one
driver of iterative fixpoints.

Multi-consumer intermediates and loop invariants cut lineage through
:func:`materialize` (eager) or :func:`lazy_cut` (materialized by the
first action that reads it). ``SPARK_GRAFT_CKPT_POLICY`` picks the cut:

- ``local`` (default): ``localCheckpoint()`` — unreplicated executor
  blocks. Fastest; right for local/bench runs and clusters where
  recompute-on-loss is acceptable.
- ``reliable``: ``checkpoint()`` to ``SPARK_GRAFT_CKPT_DIR`` (or a
  per-process scratch dir locally; on a cluster, the warehouse/DFS
  prefix). Survives executor loss, which would otherwise kill a
  50-round fixpoint at the 100 TB target.
- ``disk``: ``persist(DISK_ONLY)`` — spillable, explicitly
  unpersistable, keeps lineage (recomputable on block loss).

The policy moves durability, never results.

Fixpoint contract: every loop that iterates to exact convergence goes
through :func:`fixpoint` (``tests/test_fixpoint_guard.py``). Each round
lazily cuts the step's result, and ``done`` is the round's one action.
It must read every partition of the cut (:func:`count_rows`, a full
aggregate); ``limit(1)``, ``isEmpty`` or ``first()`` compute only some
partitions and leave the rest to be recomputed later. A loop still
changing after ``cap`` rounds raises instead of returning a truncated
answer.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_CKPT_DIR_SET: set[str] = set()  # app ids with a checkpoint dir configured


def _policy() -> str:
    p = os.environ.get("SPARK_GRAFT_CKPT_POLICY", "local")
    if p not in ("local", "reliable", "disk"):
        raise ValueError(
            f"SPARK_GRAFT_CKPT_POLICY={p!r}: expected local|reliable|disk"
        )
    return p


def _ensure_ckpt_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    app = sc.applicationId
    if app not in _CKPT_DIR_SET:
        base = os.environ.get("SPARK_GRAFT_CKPT_DIR")
        if not base:
            from .scratch import scratch_tmp

            base = scratch_tmp("reliable_ckpt_")
        sc.setCheckpointDir(base)
        _CKPT_DIR_SET.add(app)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` under the selected durability policy
    and return a DataFrame reading the materialized blocks. Use as
    ``df.transform(materialize)`` wherever ``localCheckpoint()`` was the
    intent: cut lineage / stop multi-consumer recompute."""
    policy = _policy()
    if policy == "reliable":
        _ensure_ckpt_dir(df)
        return df.checkpoint()  # eager=True
    if policy == "disk":
        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()  # force the cache to build now (loop timing contract)
        return out
    return df.localCheckpoint()


def lazy_cut(df: DataFrame) -> DataFrame:
    """Lineage cut whose materialization happens on FIRST ACTION instead
    of eagerly (the ``localCheckpoint(eager=False)`` call sites: the
    caller knows only one downstream action exists, or wants the cost
    charged to the consuming action). Same policy switch as
    :func:`materialize`."""
    policy = _policy()
    if policy == "reliable":
        _ensure_ckpt_dir(df)
        return df.checkpoint(eager=False)
    if policy == "disk":
        return df.persist(StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=False)


def count_rows(df: DataFrame) -> int:
    """``df.count()`` in one Spark job: counts the physical plan's rows
    as an eager ``localCheckpoint`` does, where ``count()`` adds a
    global aggregate whose shuffle is a second job under AQE."""
    return df._jdf.queryExecution().toRdd().count()


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    done: Callable[[DataFrame], bool],
    *,
    cap: int,
    what: str,
) -> DataFrame:
    """Iterate ``state = lazy_cut(step(state))`` until ``done(state)``
    and return that state; raise after ``cap`` rounds."""
    for _ in range(cap):
        state = lazy_cut(step(state))
        if done(state):
            return state
    raise RuntimeError(f"{what} did not converge in {cap} rounds")


def semi_naive(
    first: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    keys: list[str],
    *,
    cap: int,
    what: str,
) -> DataFrame:
    """``first`` and every later layer, a layer being ``expand(previous
    layer)`` minus the rows whose ``keys`` are known, until one is
    empty: a lazy union of the cut layers, so nothing is re-cut."""
    known = first

    def step(frontier: DataFrame) -> DataFrame:
        return expand(frontier).join(known.select(*keys), keys, "left_anti")

    def done(layer: DataFrame) -> bool:
        nonlocal known
        if count_rows(layer) == 0:
            return True
        known = known.unionByName(layer)
        return False

    fixpoint(first, step, done, cap=cap, what=what)
    return known
