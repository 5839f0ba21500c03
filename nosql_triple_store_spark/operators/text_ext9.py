"""Repeated-span detection (round 9): the substring-level dedup
diagnostic of Lee et al., "Deduplicating Training Data Makes Language
Models Better" (ACL 2022) — find, for every document, the maximal token
spans whose k-gram windows also occur in ANOTHER document. Document-
level dedup (exact/MinHash/SimHash families) misses partially-copied
text: a page quoting three paragraphs of another page survives every
whole-doc filter, yet those paragraphs still memorize. This operator
measures exactly that overlap, per document and per source.

Spark shape (all linear, no pair join):
1. positional k-gram windows: posexplode over the token array —
   Σ(n_tokens − k + 1) rows, one scan;
2. shared grams: groupBy(gram) with a 2-distinct-doc floor (the
   cross-doc test) — map-side partial aggregation;
3. covered positions: semi-join windows against shared grams;
4. maximal spans: gaps-and-islands per doc (windows at positions
   p1 < p2 overlap-or-touch iff p2 − p1 <= k, so islands merge under
   that gap rule and each island covers hi − lo + k tokens exactly).

No reference analog (the reference has no text processing — SURVEY
§2.B); brief-driven LLM-pipeline surface. The DuckDB oracle replays the
identical window/island algebra, so counts match bit-for-bit.

Scale: every stage is ∝ corpus tokens; the one skew risk is a viral
k-gram (site boilerplate shared by millions of docs) fanning out the
semi-join — grams join as keys only (no pair expansion, unlike the
shingle pair joins), so a hot gram costs its own row count, not df².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..functions.textfns import TOKS_SQL, tokens_col
from ..registry import register
from ..scratch import build_once

K_SPAN = 6  # k-gram window width (tokens)


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_spans, dup_tokens): per-doc maximal
    cross-doc-repeated span stats (docs with no repeated span keep
    zeros), materialized once per process as scratch parquet — the
    window/shared-gram machinery feeds both registered consumers
    (per-doc stats + the excision manifest)."""

    def write(out: str) -> None:
        dup_spans_over(load_table(spark, sf_dir, "documents")).write.parquet(out)

    return read_parquet(
        spark, build_once("dup_spans", sf_dir, write, sources=("documents",))
    )


def dup_spans_over(docs: DataFrame) -> DataFrame:
    """The span algebra over any (doc_id, text) relation — factored so
    tests can inject synthetic twin corpora."""
    k = K_SPAN
    toks = docs.select("doc_id", tokens_col().alias("t"))
    wins = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") < k, F.array().cast("array<struct<pos:int,gram:string>>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (k - 1)),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        F.concat_ws(" ", F.slice("t", i, k)).alias("gram"),
                    ),
                )
            )
        ).alias("w"),
    ).select("doc_id", "w.pos", "w.gram")
    shared = (
        wins.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    cov = wins.join(shared, "gram", "left_semi")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    grp = cov.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("pos") - F.lag("pos").over(wd) > k, 1
            ).otherwise(0)
        )
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("g"),
    )
    spans = grp.groupBy("doc_id", "g").agg(
        F.min("pos").alias("lo"), F.max("pos").alias("hi")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("hi") - F.col("lo") + k).alias("dup_tokens"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
        )
    )


_SPAN_CTE = f"""
toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
win AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(t[i:i+{K_SPAN - 1}], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - {K_SPAN - 2})) AS r(i)),
shared AS (SELECT gram FROM win GROUP BY gram
           HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (SELECT w.doc_id, w.pos FROM win w JOIN shared USING (gram)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {K_SPAN} THEN 1 ELSE 0 END AS b
  FROM cov),
grp AS (SELECT doc_id, pos,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM brk),
spans AS (SELECT doc_id, g, MIN(pos) AS lo, MAX(pos) AS hi
          FROM grp GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(hi - lo + {K_SPAN}) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id)
"""


@register(
    "q_text_dup_spans",
    oracle=f"""
WITH {_SPAN_CTE}
SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       COALESCE(d.n_spans, 0) AS n_spans,
       COALESCE(d.dup_tokens, 0) AS dup_tokens
FROM toks t LEFT JOIN per_doc d USING (doc_id)
""",
)
def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-doc repeated spans (module docstring): how
    many maximal {K_SPAN}-gram-duplicated regions each doc carries and
    how many tokens they cover — the span-level dedup signal document-
    level filters miss."""
    return _dup_spans(spark, sf_dir)


@register(
    "q_text_dup_span_excision",
    oracle=f"""
WITH {_SPAN_CTE},
agg AS (
  SELECT t.doc_id, len(t.t) AS n_tokens,
         COALESCE(d.dup_tokens, 0) AS dup_tokens
  FROM toks t LEFT JOIN per_doc d USING (doc_id))
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dup_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_affected,
       CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
       CAST(SUM(dup_tokens) AS BIGINT) AS excised_tokens,
       CAST(SUM(n_tokens - dup_tokens) AS BIGINT) AS kept_tokens,
       ROUND(SUM(dup_tokens) * 1.0 / SUM(n_tokens), 4) AS excised_frac
FROM agg
""",
)
def q_text_dup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The excision MANIFEST a span-dedup job reports before rewriting
    the corpus: how many tokens the repeated spans cover corpus-wide,
    how many documents are touched, and what survives — the
    go/no-go numbers for a Lee-et-al-style substring dedup pass.
    (The rewrite itself is a mapInPandas re-serialization of the kept
    ranges; the decision-relevant analytics are these exact sums.)"""
    d = _dup_spans(spark, sf_dir)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("dup_tokens") > 0).cast("long")).alias("docs_affected"),
        F.sum("n_tokens").alias("corpus_tokens"),
        F.sum("dup_tokens").alias("excised_tokens"),
        F.sum(F.col("n_tokens") - F.col("dup_tokens")).alias("kept_tokens"),
        F.round(
            F.sum("dup_tokens") * 1.0 / F.sum("n_tokens"), 4
        ).alias("excised_frac"),
    )


q_text_dup_spans.__doc__ = q_text_dup_spans.__doc__.format(K_SPAN=K_SPAN)
