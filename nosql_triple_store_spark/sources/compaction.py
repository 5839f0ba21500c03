"""Register compaction: the reference's write path as a maintenance job.

The reference applies updates row-at-a-time through HTTP (R2) and
periodically reconciles replicas pairwise (R3/R9). Spark-natively the
register is a parquet table plus an append-only changelog; `compact`
folds a delta batch into a new table version with one LWW aggregate —
the plain-Spark emulation of Delta/Iceberg MERGE INTO (SURVEY §1.5).

Commit rule for every versioned directory in the engine (this module,
the streaming sinks, the standing indexes):

- ``publish`` writes a directory to a sibling ``_stage_<name>`` and
  renames it into place. A crashed write leaves only the stage, which
  ``versions`` never lists and the next attempt overwrites; a reader
  never sees a half-written ``<name>``.
- Publishing onto an existing name is a no-op, so a sink keyed by
  ``batch_id`` survives a micro-batch retry.

A register is ``d000001, v000001, d000002, v000002, …``: ``dN`` is the
raw delta (the changelog time travel reads), ``vN`` the LWW state after
it. ``compact`` publishes ``d{n+1}`` and then ``v{n+1}``; the version
is the commit point. ``vN`` is folded from ``dN`` as read back from
disk, so the delta is evaluated once (a micro-batch or an in-memory
list is not recomputed) and ``vN`` is exactly LWW(``vN-1`` ∪ the
changelog entry time travel folds). Both reads resolve from the schema
just written (``catalog.read_parquet(..., schema=)``), and ``vN`` enters
the read cache as it is published, so the next ``compact`` and
``read_register`` find it resolved. A ``d{n+1}`` without ``v{n+1}`` is
an orphan of a failed compaction: ``read_register_asof`` ignores it and
the next ``compact`` (or ``init_register``) replaces it, so re-running a
failed compaction converges. A writer that finds either name taken by
another raises ``FileExistsError`` instead of reporting a version it did
not write. At 100 TB, partition the version dirs by key range so a
compaction shuffles only touched ranges (delta keys prune via dynamic
partition pruning).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet
from ..functions.lww import latest_by_key, lww_merge

_NUMBERED = re.compile(r"([a-z]+)\d+")


def _stage_path(target: str) -> str:
    head, name = os.path.split(target)
    return os.path.join(head, f"_stage_{name}")


def publish(df: DataFrame, target: str) -> bool:
    """Write ``df`` as the parquet directory ``target``, all or nothing.
    Returns False, leaving ``target`` as it is, when it already exists."""
    stage = _stage_path(target)
    df.write.mode("overwrite").parquet(stage)
    if os.path.exists(target):
        shutil.rmtree(stage, ignore_errors=True)
        return False
    os.rename(stage, target)
    return True


def publish_file(df: DataFrame, target: str) -> None:
    """Write ``df`` as the single plain parquet file ``target`` (no
    ``_SUCCESS`` marker beside it, as a streaming file source wants).
    The file's mtime is its write time, so files published one after
    another replay in that order."""
    stage = _stage_path(target)
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = glob.glob(f"{stage}/part-*.parquet")
    os.replace(part, target)
    shutil.rmtree(stage)


def versions(base: str, prefix: str | tuple[str, ...]) -> list[str]:
    """Sorted paths of the published ``<prefix>NNNNNN`` dirs of ``base``;
    ``prefix`` is one name prefix or a tuple of them."""
    if not os.path.isdir(base):
        return []
    wanted = {prefix} if isinstance(prefix, str) else set(prefix)
    return [
        os.path.join(base, d)
        for d in sorted(os.listdir(base))
        if (m := _NUMBERED.fullmatch(d)) and m.group(1) in wanted
    ]


def _number(path: str) -> int:
    return int(os.path.basename(path)[1:])


def latest_version_path(base_dir: str) -> str | None:
    vs = versions(base_dir, "v")
    return vs[-1] if vs else None


def read_register(spark: SparkSession, base_dir: str) -> DataFrame:
    path = latest_version_path(base_dir)
    if path is None:
        raise FileNotFoundError(f"no register versions under {base_dir}")
    return read_parquet(spark, path)


def _commit(
    spark: SparkSession,
    base_dir: str,
    n: int,
    delta: DataFrame,
    fold: Callable[[DataFrame], DataFrame],
) -> str:
    """Publish ``d{n}``, then ``v{n}`` = ``fold(d{n} read back)``, first
    dropping an orphan ``d{n}`` that a failed attempt left without its
    version. Raises FileExistsError when another writer holds either
    name, so the caller can retry with the next number."""
    delta_dir = os.path.join(base_dir, f"d{n:06d}")
    out = os.path.join(base_dir, f"v{n:06d}")
    if os.path.exists(out):
        raise FileExistsError(f"register version {out} already exists")
    shutil.rmtree(delta_dir, ignore_errors=True)
    if not publish(delta, delta_dir):
        raise FileExistsError(f"register delta {delta_dir} already exists")
    state = fold(read_parquet(spark, delta_dir, schema=delta.schema))
    if not publish(state, out):
        raise FileExistsError(f"register version {out} already exists")
    read_parquet(spark, out, schema=state.schema)
    return out


def init_register(
    df: DataFrame, base_dir: str, keys: list[str], order: list[str]
) -> str:
    """Create v000001 from an initial snapshot (LWW-compacted), retaining
    the raw delta as d000001 (the changelog entry time travel reads)."""
    if latest_version_path(base_dir) is not None:
        raise FileExistsError(f"register already exists under {base_dir}")
    payload = [c for c in df.columns if c not in keys]
    return _commit(
        df.sparkSession,
        base_dir,
        1,
        df,
        lambda d: lww_merge(d, [], keys, order, payload),
    )


def read_register_asof(
    spark: SparkSession,
    base_dir: str,
    keys: list[str],
    order: list[str],
    asof,
    asof_col: str | None = None,
) -> DataFrame:
    """TIME TRAVEL: the register state as of a past point in event time.

    State-as-of(T) is defined over the CHANGELOG, not the version
    snapshots: version boundaries follow arrival order while T is an
    event-time cut, so the read folds every committed delta (d000001…
    up to the latest version; an orphan delta is not committed)
    filtered to ``asof_col <= T`` through the same LWW aggregate as
    compaction — commutative/idempotent, hence exact regardless of how
    updates were batched into versions (the plain-Spark analog of
    Delta/Iceberg `VERSION AS OF`/`TIMESTAMP AS OF` reads, SURVEY §1.5;
    reference analog: report.pdf §2.0.1 state-based objects —
    reconstructing any historical state from retained updates).

    The delta dirs are written as the batches arrived: unpartitioned and
    unsorted. The ``asof_col`` cut is pushed into the parquet scan, but a
    delta's row groups each span most of its time range, so their min/max
    statistics rarely skip one, and a key-bound read scans every delta.
    A key-range layout (deltas partitioned by key range, sorted by
    ``asof_col`` within a range) would let a key-bound read open only its
    range and an early cut skip row groups. The delta tuple resolves with
    the schema of ``d000001`` (the file footer inference picks too), so
    once that dir is cached a new changelog tuple costs a file listing
    and no job."""
    latest = latest_version_path(base_dir)
    top = _number(latest) if latest else 0
    deltas = [d for d in versions(base_dir, "d") if _number(d) <= top]
    if not deltas:
        raise FileNotFoundError(f"no retained deltas under {base_dir}")
    schema = read_parquet(spark, deltas[0]).schema
    log = read_parquet(spark, *deltas, schema=schema)
    col = asof_col or order[0]
    payload = [c for c in log.columns if c not in keys]
    return latest_by_key(
        log.filter(F.col(col) <= F.lit(asof)), keys, order, payload
    )


def compact(
    spark: SparkSession,
    base_dir: str,
    delta: DataFrame,
    keys: list[str],
    order: list[str],
) -> str:
    """Fold a delta batch into the register: one union + one LWW
    aggregate + one write. Commutative/idempotent (functions/lww.py), and
    a failed attempt publishes no version, so re-running it converges."""
    current_path = latest_version_path(base_dir)
    if current_path is None:
        return init_register(delta, base_dir, keys, order)
    current = read_parquet(spark, current_path)
    payload = [c for c in current.columns if c not in keys]
    return _commit(
        spark,
        base_dir,
        _number(current_path) + 1,
        delta.select(*current.columns),
        lambda d: lww_merge(current, [d], keys, order, payload),
    )
