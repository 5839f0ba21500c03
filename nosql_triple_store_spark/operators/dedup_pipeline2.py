"""Incremental dedup + distribution drift: the two operators a
CONTINUOUSLY-GROWING corpus needs that one-shot jobs don't.

q_dedup_incremental deduplicates an arriving batch AGAINST the existing
corpus (directional): candidates come from joining the batch's LSH band
keys against the corpus's band index — at 100 TB the corpus index is a
stored table keyed by (band, bkey) and each ingest probes it with only
the new batch, never re-pairing the corpus with itself. q_drift_psi is
the population-stability check run on every new slice before it joins
the training mix."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.textfns import TOKS_SQL, shingles_sql
from ..registry import register
from .dedup import _shingle_stream
from .dedup_pipeline import THRESHOLD, _minhash_candidates, band_index

_INCR_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({shingles_sql("t")}) AS shingle FROM toks),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
common AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh b JOIN sh c ON b.shingle = c.shingle
  WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
  GROUP BY 1, 2),
hits AS (
  SELECT batch_id, corpus_id,
         common * 1.0 / (sb.n_sh + sc.n_sh - common) AS j
  FROM common
  JOIN sizes sb ON sb.doc_id = batch_id
  JOIN sizes sc ON sc.doc_id = corpus_id
  WHERE common * 1.0 / (sb.n_sh + sc.n_sh - common) >= {THRESHOLD})
SELECT d.doc_id,
       CAST(EXISTS (SELECT 1 FROM hits h WHERE h.batch_id = d.doc_id)
            AS BIGINT) AS is_dup,
       CAST((SELECT MIN(h.corpus_id) FROM hits h
             WHERE h.batch_id = d.doc_id) AS BIGINT) AS dup_of
FROM documents d WHERE d.doc_id % 5 = 0
"""


@register("q_dedup_incremental", oracle=_INCR_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus near-dup admission check: docs with doc_id%5==0
    are the arriving batch, the rest the stored corpus. The batch's LSH
    band keys join the corpus band index (directional — the corpus is
    never self-paired), candidates get exact-Jaccard verification, and
    each batch doc reports is_dup + its minimum matching corpus doc
    (the one admission control would point at). The oracle computes the
    exact directional threshold pairs, which the LSH path must cover —
    same recall argument (and the same 64-perm/32-band dial) as
    q_dedup_pipeline, recall-floor-tested in tests/test_dedup_pipeline.
    Scale: index probe cost is O(|batch| bands), corpus cost is the
    stored index — the one-shot pipeline's all-corpus pairing never
    reappears at ingest time."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_stream(spark, sf_dir)
    is_batch = F.col("doc_id") % 5 == 0
    # candidate pairs over the whole corpus, then keep directional
    # batch->corpus ones (reuses the shared band machinery; a stored
    # deployment materializes the band index instead)
    cand = _minhash_candidates(sh, bands=band_index(spark, sf_dir))
    directional = (
        cand.select(
            F.when(F.col("doc_a") % 5 == 0, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("batch_id"),
            F.when(F.col("doc_a") % 5 == 0, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("corpus_id"),
        )
        .filter(
            (F.col("batch_id") % 5 == 0) & (F.col("corpus_id") % 5 != 0)
        )
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    b = sh.select(F.col("doc_id").alias("batch_id"), "shingle")
    c = sh.select(F.col("doc_id").alias("corpus_id"), "shingle")
    common = (
        directional.join(b, "batch_id")
        .join(c, ["corpus_id", "shingle"])
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") * 1.0 / (F.col("nb") + F.col("nc") - F.col("common"))
    hits = (
        common.join(
            sizes.select(
                F.col("doc_id").alias("batch_id"), F.col("n_sh").alias("nb")
            ),
            "batch_id",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("corpus_id"), F.col("n_sh").alias("nc")
            ),
            "corpus_id",
        )
        .filter(jac >= THRESHOLD)
        .groupBy("batch_id")
        .agg(F.min("corpus_id").alias("dup_of"))
    )
    return (
        docs.filter(is_batch)
        .select("doc_id")
        .join(hits, docs["doc_id"] == hits["batch_id"], "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().cast("long").alias("is_dup"),
            "dup_of",
        )
    )


_N_PSI_BINS = 10
_PSI_ORACLE = f"""
WITH e AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(user_id % 2 AS BIGINT) AS slice FROM events),
b AS (
  SELECT slice,
         LEAST(CAST(FLOOR((cents + 1000) / 400.0) AS BIGINT),
               {_N_PSI_BINS - 1}) AS bin
  FROM e),
cnt AS (
  SELECT slice, bin, CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY slice, bin),
tot AS (SELECT slice, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY slice),
p AS (
  SELECT bin,
         MAX(CASE WHEN c.slice = 0 THEN n * 1.0 / t END) AS p0,
         MAX(CASE WHEN c.slice = 1 THEN n * 1.0 / t END) AS p1
  FROM cnt c JOIN tot USING (slice) GROUP BY bin)
SELECT bin, ROUND(p0, 6) AS p_ref, ROUND(p1, 6) AS p_new,
       ROUND((p1 - p0) * ln(p1 / p0), 6) AS psi_term
FROM p WHERE p0 IS NOT NULL AND p1 IS NOT NULL
"""


@register("q_drift_psi", oracle=_PSI_ORACLE)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two deterministic event slices
    (user_id parity): fixed-width value bins (integer-cent arithmetic,
    clamped top bin), per-slice bin shares, and the per-bin PSI term
    (Δp·ln(p_new/p_ref)) — the drift gate run on every candidate data
    slice before it joins a training mix. Shares are ratios of exact
    ints; ln of their exact-ratio quotient rounds at 6dp (the
    q_events_entropy float contract). Two partial-aggregable groupBys —
    nothing here grows with more than the bin count after the first
    aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 2).cast("long").alias("slice"),
    )
    binned = ev.select(
        "slice",
        F.least(
            F.floor((F.col("cents") + 1000) / 400.0),
            F.lit(_N_PSI_BINS - 1),
        ).cast("long").alias("bin"),
    )
    cnt = binned.groupBy("slice", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("slice").agg(F.sum("n").alias("t"))
    share = cnt.join(tot, "slice").select(
        "bin", "slice", (F.col("n") * 1.0 / F.col("t")).alias("p")
    )
    p = share.groupBy("bin").agg(
        F.max(F.when(F.col("slice") == 0, F.col("p"))).alias("p0"),
        F.max(F.when(F.col("slice") == 1, F.col("p"))).alias("p1"),
    )
    return p.filter(
        F.col("p0").isNotNull() & F.col("p1").isNotNull()
    ).select(
        "bin",
        F.round("p0", 6).alias("p_ref"),
        F.round("p1", 6).alias("p_new"),
        F.round(
            (F.col("p1") - F.col("p0")) * F.log(F.col("p1") / F.col("p0")), 6
        ).alias("psi_term"),
    )
