"""Register compaction: the reference's write path as a maintenance job.

The reference applies updates row-at-a-time through HTTP (R2) and
periodically reconciles replicas pairwise (R3/R9). Spark-natively the
register is a parquet table plus an append-only changelog; `compact`
folds a delta batch into a new table version with one LWW aggregate —
the plain-Spark emulation of Delta/Iceberg MERGE INTO (SURVEY §1.5).

Versioned directories (v000001, v000002, …) make every compaction
atomic-by-rename and leave history for debugging/time-travel reads;
`latest_version_path` resolves the current state. At 100 TB, partition
the version dirs by key range so a compaction shuffles only touched
ranges (delta keys prune via dynamic partition pruning).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet
from ..functions.lww import latest_by_key, lww_merge

_VERSION_RE = re.compile(r"^v(\d{6})$")
_DELTA_RE = re.compile(r"^d(\d{6})$")


def latest_version_path(base_dir: str) -> str | None:
    if not os.path.isdir(base_dir):
        return None
    versions = sorted(
        d for d in os.listdir(base_dir) if _VERSION_RE.match(d)
    )
    return os.path.join(base_dir, versions[-1]) if versions else None


def read_register(spark: SparkSession, base_dir: str) -> DataFrame:
    path = latest_version_path(base_dir)
    if path is None:
        raise FileNotFoundError(f"no register versions under {base_dir}")
    return read_parquet(spark, path)


def init_register(
    df: DataFrame, base_dir: str, keys: list[str], order: list[str]
) -> str:
    """Create v000001 from an initial snapshot (LWW-compacted), retaining
    the raw delta as d000001 (the changelog entry time travel reads)."""
    payload = [c for c in df.columns if c not in keys]
    state = lww_merge(df, [], keys, order, payload)
    df.write.mode("errorifexists").parquet(os.path.join(base_dir, "d000001"))
    out = os.path.join(base_dir, "v000001")
    state.write.mode("errorifexists").parquet(out)
    return out


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
    event-time cut, so the read folds every retained delta (d000001…)
    filtered to ``asof_col <= T`` through the same LWW aggregate as
    compaction — commutative/idempotent, hence exact regardless of how
    updates were batched into versions. At 100 TB the delta dirs are
    key-range partitioned like the versions and the filter prunes whole
    delta files via their min/max footers (the plain-Spark analog of
    Delta/Iceberg `VERSION AS OF`/`TIMESTAMP AS OF` reads, SURVEY §1.5;
    reference analog: report.pdf §2.0.1 state-based objects —
    reconstructing any historical state from retained updates)."""
    deltas = sorted(
        d for d in os.listdir(base_dir) if _DELTA_RE.match(d)
    )
    if not deltas:
        raise FileNotFoundError(f"no retained deltas under {base_dir}")
    log = read_parquet(spark, *[os.path.join(base_dir, d) for d in deltas])
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
    aggregate + one write. Commutative/idempotent (functions/lww.py), so
    re-running a failed compaction with the same delta converges."""
    current_path = latest_version_path(base_dir)
    if current_path is None:
        return init_register(delta, base_dir, keys, order)
    current = read_parquet(spark, current_path)
    payload = [c for c in current.columns if c not in keys]
    merged = lww_merge(
        current, [delta.select(*current.columns)], keys, order, payload
    )
    version = int(_VERSION_RE.match(os.path.basename(current_path)).group(1))
    delta.select(*current.columns).write.mode("errorifexists").parquet(
        os.path.join(base_dir, f"d{version + 1:06d}")
    )
    out = os.path.join(base_dir, f"v{version + 1:06d}")
    merged.write.mode("errorifexists").parquet(out)
    return out
