"""Forty-first extension batch: per-group quota sampling and a
transaction-log (lakehouse-style) snapshot reader.

Lineage: quota sampling is the "give me exactly k rows per stratum,
reproducibly" primitive evaluation sets are built from (fraction-based
q_sample_stratified can't hit exact quotas; TABLESAMPLE isn't
reproducible across layouts). The transaction-log reader is the
Delta/Iceberg-shaped primitive the engine's maintenance suite
(q_maintenance_compact / vacuum, sources/compaction.py versioned
register) stops just short of: a table IS a replayed log of
add/remove-file actions, and readers resolve the live file set before
touching data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.topk import grouped_topk
from ..registry import register
from ..scratch import build_once
from .triple import E_CTE

_QUOTA_K = 5
_HASH_SQL = (
    "CAST(((({key}) % 2147483648) * 2654435761 + 12345) % 4294967296"
    " AS BIGINT)"
)


@register(
    "q_sample_group_quota",
    oracle=f"""
{E_CTE},
h AS (
  SELECT event_id, event_type,
         {_HASH_SQL.format(key='event_id')} AS tag
  FROM e),
r AS (
  SELECT event_id, event_type, tag,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY tag, event_id) AS rank
  FROM h)
SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id, tag
FROM r WHERE rank <= {_QUOTA_K}
""",
)
def q_sample_group_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: the {_QUOTA_K} events with the
    smallest affine-hash tags PER event type — a uniform random quota
    per stratum that is bit-reproducible across engines, reruns, and
    cluster layouts (the eval-set construction q_sample_stratified's
    Bernoulli fractions cannot guarantee). Tags order by the explicit
    affine hash with event_id tiebreak.

    Scale: functions/topk.grouped_topk — the two-stage salted
    tournament — so no single task ever holds a whole stratum (5 types
    x 20k rows each at sf0.1 would otherwise pile into 5 window
    partitions; at 100 TB that's the banned giant-partition plan). The
    oracle's naive per-group window is oracle-side only.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_id",
        "event_type",
        F.expr(_HASH_SQL.format(key="event_id")).alias("tag"),
    )
    return grouped_topk(
        h,
        ["event_type"],
        [F.asc("tag"), F.asc("event_id")],
        _QUOTA_K,
        salt_on="event_id",
    ).select(
        "event_type",
        F.col("rank").cast("long").alias("rank"),
        "event_id",
        "tag",
    )


# live files after replay: f0 (v0), f2 (v1 add), f3 (v2 add); f1 removed
_TXN_SLICES = 4
_TXN_LIVE = (0, 2, 3)


def _txnlog_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) a mini log-structured table:
    4 parquet data files sliced from documents by doc_id mod 4, plus a
    JSON commit log: v0 adds f0+f1, v1 removes f1 and adds f2, v2 adds
    f3."""

    def write(root: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        for i in range(_TXN_SLICES):
            docs.filter(F.col("doc_id") % _TXN_SLICES == i).write.parquet(
                os.path.join(root, f"f{i}")
            )
        logdir = os.path.join(root, "_log")
        os.makedirs(logdir)
        commits = [
            {"version": 0, "add": ["f0", "f1"], "remove": []},
            {"version": 1, "add": ["f2"], "remove": ["f1"]},
            {"version": 2, "add": ["f3"], "remove": []},
        ]
        for c in commits:
            with open(os.path.join(logdir, f"{c['version']:05d}.json"), "w") as f:
                json.dump(c, f)

    return build_once("txnlog", sf_dir, write, sources=("documents",))


@register(
    "q_source_txnlog_snapshot",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents
WHERE doc_id % {_TXN_SLICES} IN {_TXN_LIVE}
GROUP BY source
""",
)
def q_source_txnlog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse-style snapshot read over a transaction log: the table
    is a directory of immutable parquet data files plus an ordered
    JSON commit log of add/remove-file actions (the Delta/Iceberg
    core idea, reduced to its essence). The reader replays the log in
    version order to resolve the LIVE file set — here {{f0,f2,f3}}
    after a compaction-style remove of f1 — then scans only those
    files and reports the per-source census. A reader that scanned the
    directory naively would double-count the removed file; the oracle
    (the same census over the logically-live doc slices) breaks if
    replay order or remove semantics are wrong.

    Scale: the log is METADATA — a few KB per commit read driver-side
    exactly as Delta readers do — while data stays in parquet scans
    that keep pushdown/pruning. Snapshot isolation falls out: a reader
    pins the log prefix it saw; writers only append new versions.
    """
    root = _txnlog_table(spark, sf_dir)
    logdir = os.path.join(root, "_log")
    live: set[str] = set()
    for name in sorted(os.listdir(logdir)):
        with open(os.path.join(logdir, name)) as f:
            commit = json.load(f)
        live |= set(commit["add"])
        live -= set(commit["remove"])
    paths = [os.path.join(root, f) for f in sorted(live)]
    snap = spark.read.parquet(*paths)
    return snap.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
