"""Streaming dedup admission: the LSH band index as STANDING state.

q_dedup_incremental (operators/dedup_pipeline2.py) checks one batch
against a corpus in a single job; this operator is its production
shape — documents arrive in micro-batches, each batch probes the band
index accumulated from all EARLIER batches, admission decisions are
written per batch, and the batch's own band keys are appended to the
index for the next arrival. The reference's analog is the LWW
register's insert path (every write checked against current state);
here the state is a dedup index instead of a register.

Semantics (pinned so a SQL oracle exists): documents are split into 4
ingestion waves by doc_id quartile (wave = doc_id div ceil((max+1)/4));
a document is a duplicate iff some document in a STRICTLY EARLIER wave
has shingle-Jaccard ≥ 0.5 with it; dup_of is the smallest such earlier
doc. Intra-wave duplicates are both admitted by design — first-wave
copies of a pair survive until the one-shot pipeline (q_dedup_pipeline)
runs over the accumulated corpus; admission control only guards against
re-ingesting what the corpus already has.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import _shingle_stream
from ..operators.dedup_pipeline import THRESHOLD, band_index
from ..functions.textfns import TOKS_SQL, shingles_sql
from ..registry import register
from ..scratch import build_once, ckpt_tmp, scratch_tmp
from ..materialize import materialize

_N_WAVES = 4

# State-retention policy (VERDICT r5 #4): the standing band index is
# periodically COMPACTED — whenever more than _COMPACT_EVERY segment
# dirs exist, they merge into one deduplicated segment — so on-disk
# state is bounded at _COMPACT_EVERY + 1 segments (and one file each)
# no matter how many micro-batches arrive. Rows stay O(corpus × bands)
# by *semantic necessity* (admission must compare against every stored
# band key to honor the oracle's "duplicate of ANY earlier doc"
# contract — a TTL would silently re-admit old duplicates), but the
# retention policy bounds the segment/file count that would otherwise
# grow per-batch forever — the small-files failure mode of a standing
# foreachBatch index at scale. Raise the constant in production; 2
# exercises the compaction path on the 4-wave fixture.
_COMPACT_EVERY = 2

# test hook: last scratch base used by q_stream_dedup_admission
_LAST_BASE: dict[str, str] = {}


def _index_segments(index_dir: str) -> list[str]:
    """Current index segment dirs (per-batch b* + compacted c*)."""
    return [
        f"{index_dir}/{d}"
        for d in sorted(os.listdir(index_dir))
        if d.startswith(("b", "c"))
    ]


def compact_band_index(spark: SparkSession, index_dir: str, batch_id: int) -> None:
    """Merge every index segment into one deduplicated c-segment when
    the segment count exceeds _COMPACT_EVERY. Staged-write + rename +
    delete-merged: a crash between rename and deletes only leaves
    duplicate rows, which the next compaction's dropDuplicates (and
    the probe side's dropDuplicates) absorb."""
    import shutil

    segs = _index_segments(index_dir)
    if len(segs) <= _COMPACT_EVERY:
        return
    merged = (
        spark.read.parquet(*segs)
        .dropDuplicates(["doc_id", "band", "bkey"])
    )
    stage = f"{index_dir}/_stage_c{batch_id:06d}"
    merged.coalesce(1).write.mode("overwrite").parquet(stage)
    target = f"{index_dir}/c{batch_id:06d}"
    if not os.path.isdir(target):
        os.rename(stage, target)
    else:  # retried batch already compacted
        shutil.rmtree(stage, ignore_errors=True)
    for s in segs:
        shutil.rmtree(s, ignore_errors=True)


def _wave_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """Documents written as one parquet file per ingestion wave,
    sequentially (ascending mtime), so the streaming file source with
    maxFilesPerTrigger=1 replays the waves in doc_id order."""
    return wave_build(spark, sf_dir, ["doc_id"], "docwaves")


def wave_build(
    spark: SparkSession, sf_dir: str, columns: list[str], kind: str
) -> str:
    """Shared wave-source layout (also quality_stream's), built once
    per ``kind`` by ``scratch.build_once``. Documents split into
    _N_WAVES doc_id quartiles, each written sequentially as one plain
    parquet file (ascending mtimes, no _SUCCESS markers) so a streaming
    file source with maxFilesPerTrigger=1 replays them in doc_id order."""

    def write(out: str) -> None:
        import glob as _glob
        import shutil

        docs = load_table(spark, sf_dir, "documents").select(*columns)
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        bs = (max_id + _N_WAVES) // _N_WAVES  # ceil((max+1)/4)
        os.makedirs(out)
        for w in range(_N_WAVES):
            stage = f"{out}/_stage_w{w}"
            (
                docs.filter(F.expr(f"doc_id div {bs}") == w)
                .coalesce(1)
                .write.parquet(stage)
            )
            # flatten to one plain file per wave (no _SUCCESS markers in
            # the streaming source dir), written sequentially so mtimes
            # replay the waves in doc_id order
            part = _glob.glob(f"{stage}/part-*.parquet")[0]
            shutil.move(part, f"{out}/wave{w}.parquet")
            shutil.rmtree(stage)

    return build_once(kind, sf_dir, write, sources=("documents",))


_ADMIT_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({shingles_sql("t")}) AS shingle FROM toks),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
bsz AS (SELECT (MAX(doc_id) + {_N_WAVES}) // {_N_WAVES} AS bs
        FROM documents),
waves AS (SELECT doc_id, doc_id // bsz.bs AS wave
          FROM documents CROSS JOIN bsz),
common AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh n JOIN sh o ON n.shingle = o.shingle
  JOIN waves wn ON wn.doc_id = n.doc_id
  JOIN waves wo ON wo.doc_id = o.doc_id
  WHERE wo.wave < wn.wave
  GROUP BY 1, 2),
hits AS (
  SELECT new_id, old_id
  FROM common
  JOIN sizes sn ON sn.doc_id = new_id
  JOIN sizes so ON so.doc_id = old_id
  WHERE common * 1.0 / (sn.n_sh + so.n_sh - common) >= {THRESHOLD})
SELECT d.doc_id,
       CAST(EXISTS (SELECT 1 FROM hits h WHERE h.new_id = d.doc_id)
            AS BIGINT) AS is_dup,
       CAST((SELECT MIN(h.old_id) FROM hits h WHERE h.new_id = d.doc_id)
            AS BIGINT) AS dup_of
FROM documents d
"""


@register("q_stream_dedup_admission", oracle=_ADMIT_ORACLE)
def q_stream_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing dedup admission over 4 micro-batch ingestion waves
    (module docstring): per batch, probe the accumulated LSH band index
    for candidates, exact-Jaccard-verify them against the stored
    shingle table, write (doc_id, is_dup, dup_of) decisions, then
    append this batch's band keys to the index. foreachBatch sinks are
    idempotent by batch_id (decision dir + index dir keyed by batch_id;
    retries no-op), matching the re-execution contract. The oracle
    recomputes the wave-directional duplicate relation exactly, so a
    band-key mismatch between probe and index, a leaky wave boundary,
    or a non-idempotent retry all break the match. Scale: the index
    holds O(corpus × bands) rows keyed by (band, bkey) — each arrival
    probes it with |batch| band keys, never re-pairing the corpus with
    itself; the verify side reads only candidate docs' shingles. The
    retention policy (compact_band_index) bounds on-disk state at
    _COMPACT_EVERY + 1 single-file segments regardless of batch count
    — tests/test_streaming_incremental.py asserts the bound."""
    src = _wave_source_dir(spark, sf_dir)
    sh_all = _shingle_stream(spark, sf_dir)
    all_bands = band_index(spark, sf_dir)
    # batch-invariant: the per-doc shingle-set sizes are consumed by
    # every micro-batch's verify stage; materialize once instead of
    # re-aggregating the shingle stream per batch
    sizes_all = sh_all.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh")
    ).transform(materialize)
    base = scratch_tmp("dedup_admit_")
    _LAST_BASE[sf_dir] = base
    index_dir = f"{base}/index"
    dec_dir = f"{base}/decisions"
    os.makedirs(index_dir, exist_ok=True)
    os.makedirs(dec_dir, exist_ok=True)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        dpath = f"{dec_dir}/v{batch_id:06d}"
        ipath = f"{index_dir}/b{batch_id:06d}"
        if os.path.isdir(dpath) and os.path.isdir(ipath):
            return  # idempotent retry
        s = batch_df.sparkSession
        ids = batch_df.select("doc_id")
        # probe rows come from the stored band index (band_index is the
        # production "signatures are computed at ingest and stored"
        # table); the per-batch work is a semi-join, not a re-hash
        bands = all_bands.join(ids, "doc_id", "left_semi")
        prior = _index_segments(index_dir)
        if prior:
            index = s.read.parquet(*prior)
            cand = (
                bands.select(F.col("doc_id").alias("new_id"), "band", "bkey")
                .join(
                    index.select(
                        F.col("doc_id").alias("old_id"), "band", "bkey"
                    ),
                    ["band", "bkey"],
                )
                .select("new_id", "old_id")
                .dropDuplicates(["new_id", "old_id"])
            )
            n = sh_all.select(F.col("doc_id").alias("new_id"), "shingle")
            # verify reads only CANDIDATE docs' shingles: semi-join the
            # stored side down to candidate old_ids before the
            # (old_id, shingle) equi-join shuffles it (guide §3.2)
            o = sh_all.select(
                F.col("doc_id").alias("old_id"), "shingle"
            ).join(cand.select("old_id").distinct(), "old_id", "left_semi")
            sizes = sizes_all
            common = (
                cand.join(n, "new_id")
                .join(o, ["old_id", "shingle"])
                .groupBy("new_id", "old_id")
                .agg(F.count(F.lit(1)).alias("common"))
            )
            withsz = common.join(
                sizes.select(
                    F.col("doc_id").alias("new_id"), F.col("n_sh").alias("nn")
                ),
                "new_id",
            ).join(
                sizes.select(
                    F.col("doc_id").alias("old_id"), F.col("n_sh").alias("no")
                ),
                "old_id",
            )
            jac = (
                F.col("common")
                * 1.0
                / (F.col("nn") + F.col("no") - F.col("common"))
            )
            hits = (
                withsz.filter(jac >= THRESHOLD)
                .groupBy("new_id")
                .agg(F.min("old_id").alias("dup_of"))
            )
            decisions = (
                ids.join(
                    hits.select(F.col("new_id").alias("doc_id"), "dup_of"),
                    "doc_id",
                    "left",
                )
                .select(
                    "doc_id",
                    F.col("dup_of").isNotNull().cast("long").alias("is_dup"),
                    "dup_of",
                )
            )
        else:
            decisions = ids.select(
                "doc_id",
                F.lit(0).cast("long").alias("is_dup"),
                F.lit(None).cast("long").alias("dup_of"),
            )
        stage_d = f"{base}/_stage_d{batch_id:06d}"
        decisions.coalesce(1).write.mode("overwrite").parquet(stage_d)
        if not os.path.isdir(dpath):
            os.rename(stage_d, dpath)
        stage_i = f"{base}/_stage_i{batch_id:06d}"
        bands.coalesce(1).write.mode("overwrite").parquet(stage_i)
        if not os.path.isdir(ipath):
            os.rename(stage_i, ipath)
        compact_band_index(s, index_dir, batch_id)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt_tmp("ckpt_admit_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.read.parquet(f"{dec_dir}/v*")
