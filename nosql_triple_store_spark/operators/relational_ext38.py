"""Thirty-eighth extension batch: materialized mixture sampling, batch
KNN retrieval, and per-source boilerplate detection.

Lineage: three training-data-pipeline stages: actually APPLYING the
q_mixture_weights policy with a reproducible hash sampler and auditing
the achieved mix, the batch variant of the exact-KNN retrieval
q_vector_knn does for a single probe, and RefinedWeb-style boilerplate
discovery (tokens that appear in nearly every document of a source are
template chrome, not content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.textfns import TOKS_SQL, tokens_col
from ..functions.topk import grouped_topk
from ..functions.vectors import as_double_array, cosine_col
from ..registry import register

_HASH_SQL = (
    "CAST(((({key}) % 2147483648) * 2654435761 + 12345) % 4294967296"
    " AS BIGINT)"
)


@register(
    "q_train_sample_apply",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
         {_HASH_SQL.format(key='doc_id')} % 1000000 AS tag
  FROM documents),
src AS (
  SELECT source, SUM(n_tokens) AS src_tokens FROM t GROUP BY source),
tot AS (
  SELECT SUM(src_tokens) AS total, COUNT(*) AS n_src FROM src),
pol AS (
  SELECT source, src_tokens,
         LEAST(1000000,
               (total * 1000000) // (n_src * src_tokens)) AS weight_ppm
  FROM src, tot),
kept AS (
  SELECT t.source, t.n_tokens, p.weight_ppm
  FROM t JOIN pol p USING (source)
  WHERE t.tag < p.weight_ppm),
ksum AS (SELECT SUM(n_tokens) AS kept_total FROM kept)
SELECT k.source,
       CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(SUM(k.n_tokens) AS BIGINT) AS kept_tokens,
       CAST(MAX(k.weight_ppm) AS BIGINT) AS weight_ppm,
       CAST(SUM(k.n_tokens) * 1000000 // MAX(ks.kept_total) AS BIGINT)
         AS achieved_ppm
FROM kept k, ksum ks GROUP BY k.source
""",
)
def q_train_sample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the corpus-rebalancing policy: compute each source's
    down-sampling weight toward a uniform token share (the
    q_mixture_weights rule, here in exact integer ppm), then actually
    KEEP the documents whose affine-hash tag falls under the weight —
    the reproducible Bernoulli sampler every corpus ablation uses
    (same doc kept on every engine, every rerun) — and audit the
    achieved token mix of the surviving corpus. Over-represented
    sources are cut toward 1/n_sources; under-represented ones pass
    whole (weight capped at 1e6 ppm).

    Scale: one token census (partial-aggregable), a broadcast of the
    per-source policy (|sources| rows), one filtered scan, one final
    census. The corpus is never reshuffled; the sampler is a codegen'd
    integer predicate at the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokens_col()).cast("long").alias("n_tokens"),
        (F.expr(_HASH_SQL.format(key="doc_id")) % 1_000_000).alias("tag"),
    )
    src = t.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    tot = src.agg(
        F.sum("src_tokens").alias("total"), F.count(F.lit(1)).alias("n_src")
    )
    pol = src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1_000_000),
            F.expr("total * 1000000 div (n_src * src_tokens)"),
        ).alias("weight_ppm"),
    )
    kept = t.join(F.broadcast(pol), "source").filter(
        F.col("tag") < F.col("weight_ppm")
    )
    ksum = kept.agg(F.sum("n_tokens").alias("kept_total"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.max("weight_ppm").alias("weight_ppm"),
        )
        .crossJoin(F.broadcast(ksum))
        .select(
            "source",
            "kept_docs",
            "kept_tokens",
            "weight_ppm",
            F.expr(
                "CAST(kept_tokens * 1000000 div kept_total AS BIGINT)"
            ).alias("achieved_ppm"),
        )
    )


_KNN_PROBES = 8
_KNN_TOPK = 3
_KNN_SALT = 32


@register(
    "q_vector_knn_batch",
    oracle=f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
  WHERE vec_id < {_KNN_PROBES}),
scored AS (
  SELECT p.probe_id, e.vec_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.pe AS DOUBLE[])), 6) AS c6
  FROM embeddings e CROSS JOIN probes p
  WHERE e.vec_id <> p.probe_id),
ranked AS (
  SELECT probe_id, vec_id, c6,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY c6 DESC, vec_id) AS rnk
  FROM scored)
SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id, c6 + 0 AS cos_sim
FROM ranked WHERE rnk <= {_KNN_TOPK}
""",
)
def q_vector_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch exact-KNN retrieval: top-{_KNN_TOPK} cosine neighbors for
    EACH of {_KNN_PROBES} probe vectors in one pass — the many-query
    generalization of q_vector_knn's single probe (a retrieval eval
    harness scores hundreds of probes at once). Selection ranks on the
    ROUNDED score with vec_id tiebreak so the cut line is identical in
    both engines.

    Scale: probes broadcast (tiny), scoring is one scan with a
    codegen'd higher-order cosine. Top-k is TWO-STAGE: a salted
    window (probe, hash(vec) % {_KNN_SALT}) takes local top-{_KNN_TOPK}
    over bounded slices, then the final window ranks only
    {_KNN_SALT}x{_KNN_TOPK} survivors per probe — never a
    whole-corpus-per-probe window partition (the single-partition
    global window anti-pattern SCALE.md bans).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _KNN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        as_double_array("embedding").alias("pe"),
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(
                cosine_col(as_double_array("embedding"), F.col("pe")), 6
            ).alias("c6"),
        )
    )
    return grouped_topk(
        scored,
        ["probe_id"],
        [F.desc("c6"), F.asc("vec_id")],
        _KNN_TOPK,
        salt_on="vec_id",
        n_salt=_KNN_SALT,
        rank_col="rnk",
    ).select(
        "probe_id",
        F.col("rnk").cast("long").alias("rnk"),
        "vec_id",
        (F.col("c6") + F.lit(0.0)).alias("cos_sim"),
    )


_BOILER_DF_PCT = 80


@register(
    "q_text_boilerplate",
    oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, source, unnest({TOKS_SQL}) AS tok
  FROM documents),
nd AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM documents GROUP BY source),
df AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS df
  FROM dt GROUP BY source, tok),
boiler AS (
  SELECT df.source, df.tok, df.df
  FROM df JOIN nd USING (source)
  WHERE df.df * 100 >= {_BOILER_DF_PCT} * nd.n_docs)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_boiler_tokens,
       CAST(SUM(b.df) AS BIGINT) AS boiler_doc_hits,
       MIN(b.tok) AS sample_token
FROM boiler b GROUP BY b.source
""",
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate vocabulary: tokens present in >=
    {_BOILER_DF_PCT}% of a source's documents are template chrome
    (nav text, footers, licence lines), not content — the RefinedWeb /
    C4 cleaning heuristic, run as a document-frequency census so the
    downstream cleaner can strip them. Reports each source's
    boilerplate vocabulary size, total doc-hits, and a deterministic
    sample token. Integer-exact threshold (df*100 >= pct*n_docs).

    Scale: distinct (doc, token) pairs reduce by hash aggregation;
    document frequency is partial-aggregable per (source, token). The
    df-cap consideration from the shingle index (dedup.py:65) does
    not arise: output is aggregated per token, never joined back
    pairwise.
    """
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", "source", F.explode(tokens_col()).alias("tok")
    ).distinct()
    nd = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    df = dt.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("df"))
    boiler = df.join(F.broadcast(nd), "source").filter(
        F.col("df") * 100 >= _BOILER_DF_PCT * F.col("n_docs")
    )
    return boiler.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_boiler_tokens"),
        F.sum("df").alias("boiler_doc_hits"),
        F.min("tok").alias("sample_token"),
    )
