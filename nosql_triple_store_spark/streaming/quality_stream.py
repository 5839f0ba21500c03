"""Streaming quality gate: a trained classifier deployed in-stream.

q_text_quality_nb trains and scores in one batch job; this operator is
its production deployment shape — documents arrive in micro-batches
(the 4 doc_id-quartile ingestion waves of dedup_stream), each batch is
scored by a STREAM-STATIC join against the frozen NB model tables
(model/totals/prior broadcast into every batch — the standard way a
fastText-class quality filter runs inside a Structured Streaming
ingest), and only docs whose log-odds clear the admission threshold
pass the gate. Decisions are written per batch with idempotent-retry
sinks, then summarized per wave.

Unlike q_stream_dedup_admission there is NO standing state: the model
is frozen at deployment time, so every admission decision is a pure
function of the arriving doc — the oracle recomputes the whole gate in
SQL and any leak between batch boundaries, double-scored retry, or
drift between the deployed and batch model breaks the match. Scale:
the model join input is vocab-sized and broadcast once per batch;
per-batch work is one explode + one (doc, token) aggregate over the
batch only. No reference analog (brief-driven: training-data pipeline
operators).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.textfns import TOKS_SQL
from ..operators.text_ext10 import nb_components, nb_score
from ..registry import register
from ..scratch import build_once, scratch_tmp
from ..sources.compaction import publish
from .dedup_stream import _N_WAVES, wave_build
from .queries import drain

# The deployed (frozen) model is trained ONCE per process and source
# state and reused across gate runs — redeploying re-trains nothing,
# exactly like a fastText .bin shipped to an ingest fleet. The frozen
# tables are a parquet scratch layout (``build_once``, so training is
# timed as model ETL, not charged to whichever gate run touches it
# first), not cross-query checkpoints: the timing harnesses unpersist
# leftover blocks between queries.
_NB_PARTS = ("model", "totals", "prior")


def _frozen_nb_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    def write(base: str) -> None:
        for name, df in zip(_NB_PARTS, nb_components(spark, sf_dir)):
            df.coalesce(1).write.parquet(f"{base}/{name}")

    base = build_once("nb_frozen_model", sf_dir, write, sources=("documents",))
    model, totals, prior = (
        spark.read.parquet(f"{base}/{n}") for n in _NB_PARTS
    )
    return model, totals, prior


def _full_wave_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """Documents with their full payload (doc_id, lang, text) written
    as one parquet file per ingestion wave (dedup_stream's doc_id
    quartiles, ascending mtimes) — the gate scores arriving TEXT, so
    unlike dedup admission's id-only waves the payload rides the
    stream. Delegates to dedup_stream.wave_build (one copy of the wave
    math)."""
    return wave_build(spark, sf_dir, ["doc_id", "lang", "text"], "docwaves_full")


_GATE_TAU = 0.0  # admit iff log-odds >= 0 (classifier says "curated")

_GATE_ORACLE = f"""
WITH toks AS (SELECT doc_id, lang, {TOKS_SQL} AS t FROM documents),
tok AS (SELECT doc_id, lang, unnest(t) AS token FROM toks),
model AS (
  SELECT token,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cn
  FROM tok WHERE doc_id % 2 = 0 GROUP BY token),
totals AS (
  SELECT CAST(SUM(cp) AS DOUBLE) AS npos, CAST(SUM(cn) AS DOUBLE) AS nneg,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM model),
prior AS (
  SELECT ln(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
            / SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)) AS lp
  FROM toks WHERE doc_id % 2 = 0),
counts AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS n
  FROM tok GROUP BY doc_id, token),
tokscores AS (
  SELECT c.doc_id,
         ROUND(MAX(prior.lp) + SUM(c.n * ln(
             ((COALESCE(m.cp, 0) + 1) * (totals.nneg + totals.v))
             / ((COALESCE(m.cn, 0) + 1) * (totals.npos + totals.v)))),
             4) AS s
  FROM counts c
  LEFT JOIN model m ON c.token = m.token, totals, prior
  GROUP BY c.doc_id),
-- token-less docs (text tokenizes to nothing) still get a decision,
-- scored at the prior alone: the explode must not make an arriving doc
-- vanish from the gate census
scores AS (
  SELECT d.doc_id, COALESCE(ts.s, ROUND(prior.lp, 4)) AS s
  FROM documents d LEFT JOIN tokscores ts ON d.doc_id = ts.doc_id, prior),
bsz AS (SELECT (MAX(doc_id) + {_N_WAVES}) // {_N_WAVES} AS bs
        FROM documents)
SELECT CAST(sc.doc_id // bsz.bs AS BIGINT) AS wave,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       CAST(SUM(CASE WHEN sc.s >= {_GATE_TAU} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       ROUND(AVG(CASE WHEN sc.s >= {_GATE_TAU} THEN sc.s END), 4)
         AS avg_admitted_score
FROM scores sc CROSS JOIN bsz
GROUP BY 1
"""


@register("q_stream_quality_gate", oracle=_GATE_ORACLE)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-wave admission census of the streaming quality gate: every
    arriving doc scored under the frozen NB model (stream-static
    broadcast join inside foreachBatch), admitted iff log-odds ≥ 0.
    Returns (wave, n_seen, n_admitted, avg_admitted_score) — wave
    derived from doc_id (the quartile contract of _wave_source_dir),
    so a mis-batched file source changes nothing and the SQL oracle
    can recompute the gate exactly. Decision sinks are idempotent by
    batch_id AND crash-safe (``compaction.publish`` — a crash mid-write
    leaves only a stage dir the retry overwrites, never a partial
    published dir it would skip), matching foreachBatch's
    re-execution contract. Docs whose text tokenizes to zero tokens
    still receive a decision row, scored at the prior alone."""
    from ..materialize import materialize

    src = _full_wave_source_dir(spark, sf_dir)
    # frozen model, trained once per process and shipped as parquet;
    # foreachBatch would otherwise recompute the full training
    # aggregate every micro-batch — the production gate ships frozen
    # tables, not a training job per batch. The three tables are pinned
    # in memory for THIS invocation's drain, else each micro-batch's
    # broadcast build re-reads the parquet files (4 waves × 3 tables).
    # The files stay the cross-query source of truth; the pinned blocks
    # die with the query (reaped by the harness's between-queries
    # cleanup), so no cross-run result or timing state is introduced.
    model, totals, prior = (
        df.transform(materialize)
        for df in _frozen_nb_model(spark, sf_dir)
    )
    docs_schema = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).schema
    base = scratch_tmp("quality_gate_")
    dec_dir = f"{base}/decisions"
    os.makedirs(dec_dir, exist_ok=True)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        dpath = f"{dec_dir}/v{batch_id:06d}"
        if os.path.isdir(dpath):
            return  # idempotent retry
        scored = nb_score(batch_df, model, totals, prior)
        # nb_score's explode drops a doc whose text tokenizes to zero
        # tokens; left-join the batch's ids back so every arriving doc
        # gets a decision, token-less ones scored at the prior alone
        decisions = (
            batch_df.select("doc_id")
            .join(scored.select("doc_id", "nb_score"), "doc_id", "left")
            .crossJoin(F.broadcast(prior))
            .select(
                "doc_id",
                F.coalesce("nb_score", F.round("lp", 4)).alias("nb_score"),
            )
            .withColumn("admitted", F.col("nb_score") >= F.lit(_GATE_TAU))
        )
        # published, not written in place: a crash mid-write must not
        # leave a partial dpath that the retry guard above would skip
        publish(decisions, dpath)

    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(gate), None)
    decisions = spark.read.parquet(f"{dec_dir}/v*")
    bsz = spark.read.parquet(src).agg(
        F.expr(f"(max(doc_id) + {_N_WAVES}) div {_N_WAVES}").alias("bs")
    )
    return (
        decisions.crossJoin(F.broadcast(bsz))
        .groupBy(
            F.expr("doc_id div bs").cast("long").alias("wave")
        )
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.sum(F.col("admitted").cast("long")).alias("n_admitted"),
            F.round(
                F.avg(F.when(F.col("admitted"), F.col("nb_score"))), 4
            ).alias("avg_admitted_score"),
        )
    )
