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
is the commit point. A ``d{n+1}`` without ``v{n+1}`` is an orphan of a
failed compaction: ``read_register_asof`` ignores it and the next
``compact`` (or ``init_register``) replaces it, so re-running a failed
compaction converges. At 100 TB, partition the version dirs by key
range so a compaction shuffles only touched ranges (delta keys prune
via dynamic partition pruning).
"""

from __future__ import annotations

import glob
import os
import re
import shutil

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
    base_dir: str, n: int, delta: DataFrame, state: DataFrame
) -> str:
    """Publish ``d{n}`` then ``v{n}``, first dropping an orphan ``d{n}``
    that a failed attempt left without its version."""
    delta_dir = os.path.join(base_dir, f"d{n:06d}")
    out = os.path.join(base_dir, f"v{n:06d}")
    if not os.path.exists(out):
        shutil.rmtree(delta_dir, ignore_errors=True)
    publish(delta, delta_dir)
    publish(state, out)
    return out


def init_register(
    df: DataFrame, base_dir: str, keys: list[str], order: list[str]
) -> str:
    """Create v000001 from an initial snapshot (LWW-compacted), retaining
    the raw delta as d000001 (the changelog entry time travel reads)."""
    if latest_version_path(base_dir) is not None:
        raise FileExistsError(f"register already exists under {base_dir}")
    payload = [c for c in df.columns if c not in keys]
    return _commit(base_dir, 1, df, lww_merge(df, [], keys, order, payload))


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
    updates were batched into versions. At 100 TB the delta dirs are
    key-range partitioned like the versions and the filter prunes whole
    delta files via their min/max footers (the plain-Spark analog of
    Delta/Iceberg `VERSION AS OF`/`TIMESTAMP AS OF` reads, SURVEY §1.5;
    reference analog: report.pdf §2.0.1 state-based objects —
    reconstructing any historical state from retained updates)."""
    latest = latest_version_path(base_dir)
    top = _number(latest) if latest else 0
    deltas = [d for d in versions(base_dir, "d") if _number(d) <= top]
    if not deltas:
        raise FileNotFoundError(f"no retained deltas under {base_dir}")
    log = read_parquet(spark, *deltas)
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
    delta = delta.select(*current.columns)
    merged = lww_merge(current, [delta], keys, order, payload)
    return _commit(base_dir, _number(current_path) + 1, delta, merged)
