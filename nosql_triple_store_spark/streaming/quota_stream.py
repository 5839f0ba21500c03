"""Streaming per-stratum quota sampling: maintain the exact k-smallest
-hash sample per group across micro-batches.

Lineage: the streaming twin of q_sample_group_quota. Because "k
smallest tags per stratum" is a MERGEABLE sketch (bottom-k of a union
= bottom-k of merged bottom-k's — the q_agg_bottomk_quantile
algebra), the streaming fold over micro-batch waves lands on exactly
the batch answer, so the standing sample is oracle-checked against
the same SQL as the batch operator. This is how an ingest pipeline
keeps a live, reproducible eval set per stratum without ever
re-scanning history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.topk import grouped_topk
from ..registry import register
from ..scratch import scratch_tmp
from ..sources.compaction import publish, versions
from .queries import _events_multifile_dir, drain

_QUOTA_K = 5
_HASH_SQL = (
    "CAST((((event_id) % 2147483648) * 2654435761 + 12345) % 4294967296"
    " AS BIGINT)"
)

_QUOTA_ORACLE = f"""
WITH e AS (SELECT event_id, event_type FROM events),
h AS (
  SELECT event_id, event_type, {_HASH_SQL} AS tag FROM e),
r AS (
  SELECT event_id, event_type, tag,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY tag, event_id) AS rank
  FROM h)
SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id, tag
FROM r WHERE rank <= {_QUOTA_K}
"""


@register("q_stream_quota_sample", oracle=_QUOTA_ORACLE)
def q_stream_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing per-stratum quota sample over a micro-batched ingest:
    each foreachBatch merges the batch's per-type bottom-{_QUOTA_K}
    hash-tagged events into the persisted sample and re-takes the
    bottom-{_QUOTA_K} — the mergeable-sketch property makes the final
    state EQUAL to the batch quota sample over all data, which is what
    the oracle checks (same SQL as q_sample_group_quota's, and the
    strongest correctness statement a streaming operator can make).
    The sink is idempotent by batch_id (version dirs published by
    ``compaction.publish``) so micro-batch re-execution cannot corrupt
    the sample.

    Scale: per batch, the candidate set is |state| + batch-bottom-k —
    both bounded by k x |strata| after grouped_topk's salted
    tournament reduces the raw batch; history is never re-read.
    """
    src = _events_multifile_dir(spark, sf_dir)
    base = scratch_tmp("quota_sample_")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        vpath = f"{base}/v{batch_id:06d}"
        if os.path.isdir(vpath):
            return
        tagged = batch_df.select(
            "event_id", "event_type", F.expr(_HASH_SQL).alias("tag")
        )
        batch_top = grouped_topk(
            tagged,
            ["event_type"],
            [F.asc("tag"), F.asc("event_id")],
            _QUOTA_K,
            salt_on="event_id",
        ).drop("rank")
        prior = versions(base, "v")
        if prior:
            cur = batch_df.sparkSession.read.parquet(prior[-1]).drop("rank")
            batch_top = cur.unionByName(batch_top)
        merged = grouped_topk(
            batch_top,
            ["event_type"],
            [F.asc("tag"), F.asc("event_id")],
            _QUOTA_K,
            salt_on="event_id",
        )
        publish(merged.coalesce(1), vpath)

    stream = (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(fold), 8)
    final = spark.read.parquet(versions(base, "v")[-1])
    return final.select(
        "event_type",
        F.col("rank").cast("long").alias("rank"),
        "event_id",
        "tag",
    )
