"""Corpus-level text association mining.

Lineage: collocation extraction (PMI over token bigrams) is the classic
corpus-statistics pass a training-data pipeline runs to find multi-word
units and boilerplate phrases (Church & Hanks 1990); the reference's
dataset is RDF triples over YAGO entity names, where the same statistic
surfaces entity-name collocations. Complements q_text_bigram_novelty
(per-doc rarity score) with the corpus-wide association ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.textfns import TOKS_SQL, tokens_col
from ..registry import register
from ..scratch import memo
from ..materialize import materialize

_PMI_MIN_COUNT = 5

_PMI_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
bi AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, LATERAL UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
bic AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM bi GROUP BY w1, w2
  HAVING COUNT(*) >= {_PMI_MIN_COUNT})
SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
       ROUND(c_xy * n.n * 1.0 / (u1.c * u2.c), 4) AS pmi_ratio
FROM bic
JOIN uni u1 ON bic.w1 = u1.w
JOIN uni u2 ON bic.w2 = u2.w
CROSS JOIN n
ORDER BY c_xy * n.n * 1.0 / (u1.c * u2.c) DESC, w1, w2
LIMIT 50
"""


@register("q_text_pmi", oracle=_PMI_ORACLE)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 token bigrams by pointwise mutual
    information, min support 5. The score is the PMI *ratio*
    c_xy·N / (c_x·c_y) — exp(PMI) — not its log: numerator and
    denominator are exact ints < 2^53 and one IEEE double division is
    correctly rounded, so ranking and the 4-dp rounded score are
    bit-identical cross-engine with no transcendental in sight (log is
    monotone, so the ranking IS the PMI ranking). Three shuffles, all
    partial-aggregable (unigram count, bigram count, final top-k heap
    merge); the corpus token total N is a broadcast 1-row aggregate.
    At 100 TB the unigram and bigram tables shuffle on word keys —
    Zipf skew on stopword-headed bigrams is bounded because counts are
    pre-aggregated map-side before either join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col().alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n"))
    # size >= 2 guard: sequence(1, 0) is DESCENDING in Spark, which
    # would index t[1] on a 1-token doc (shingles_col's pitfall)
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    bic = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    ratio = (
        F.col("c_xy") * F.col("n") * F.lit(1.0) / (F.col("c_x") * F.col("c_y"))
    )
    return (
        bic.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            ratio.alias("_r"),
            F.round(ratio, 4).alias("pmi_ratio"),
        )
        .orderBy(F.desc("_r"), F.asc("w1"), F.asc("w2"))
        .limit(50)
        .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi_ratio")
    )


BPE_MERGES = 8


def bpe_fit_cached(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, str, int]]:
    """Train once per (process, corpus); q_text_bpe_merges and
    q_text_bpe_encode share the merge table like production tokenizers
    (train once, apply everywhere)."""
    return memo(
        "bpe_merge_table",
        sf_dir,
        lambda: bpe_fit(spark, sf_dir),
        sources=("documents",),
    )


def bpe_fit(
    spark: SparkSession, sf_dir: str, k: int = BPE_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """Distributed BPE tokenizer training: k rounds of merge the
    most-frequent adjacent symbol pair. Returns the merge table
    [(round, left, right, merged, pair_count)]. Exposed for the
    pure-Python differential test (tests/test_bpe.py).

    The real BPE economics: training runs on the WORD-FREQUENCY table,
    not the raw corpus — a 100 TB corpus reduces to |distinct words|
    rows in one partial-aggregable pass, and every round after that
    touches only that table. Per round: adjacent pairs explode JVM-side
    weighted by word freq (one partial-aggregable aggregate), the
    argmax collects ONE row (ties broken max-count → lexicographic so
    reruns and engines agree), and the merge rewrite is a JVM
    higher-order left fold (non-overlapping left-to-right, the
    canonical BPE merge order) — no Python in any row path.
    localCheckpoint per round truncates the 8-deep lineage."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens_col()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = words.select(
        "freq", F.expr("filter(split(w, ''), s -> s <> '')").alias("syms")
    ).transform(materialize)
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(k):
        # pre-filter: a 1-symbol word has no pairs, and sequence(1, 0)
        # is DESCENDING in Spark ([1, 0] → index error), so the guard
        # is correctness, not just economy (shingles_col's pitfall)
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i-1] AS a, syms[i] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(
            F.desc("cnt"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merged = a + b
        merges.append((r, a, b, merged, cnt))
        # Left-to-right non-overlapping merge as a JVM fold: append x,
        # unless the accumulated tail is `a` and x is `b` — then replace
        # the tail with the merged symbol. ("aaa" + rule (a,a) -> [aa, a].)
        cur = cur.select(
            "freq",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
        ).transform(materialize)
    return merges


@register("q_text_bpe_merges", oracle=None)  # iterative argmax fixpoint
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table after {k} rounds: (round, left,
    right, merged, pair_count) — tokenizer training as a first-class
    corpus operator. All counts are exact ints and every argmax is
    deterministically tie-broken, so the output is engine-stable;
    rows-only because SQL can't express the iterative argmax (the
    differential check against an independent pure-Python BPE is
    tests/test_bpe.py). No end-of-word marker: merges are intra-word
    only by construction (pairs never span words), which is the
    training-relevant behavior; a production vocab would add the
    marker symbol before export."""
    rows = bpe_fit_cached(spark, sf_dir)
    return spark.createDataFrame(
        rows, "round int, left string, right string, merged string,"
        " pair_count long"
    )


q_text_bpe_merges.__doc__ = q_text_bpe_merges.__doc__.format(k=BPE_MERGES)


def bpe_apply_col(merges: list[tuple[int, str, str, str, int]]):
    """Symbol array after applying the merge table to column `w`, as
    ONE nested JVM expression (k folds, no per-round job): the plan-side
    twin of a tokenizer's encode step."""
    def merge_fold(a: str, b: str, merged: str):
        # factory: PySpark validates HOF lambda arity, so the closure
        # must capture a/b/merged, not take them as defaulted params
        def fold(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return fold

    col = F.expr("filter(split(w, ''), s -> s <> '')")
    for _, a, b, merged, _ in merges:
        col = F.aggregate(
            col, F.array().cast("array<string>"), merge_fold(a, b, merged)
        )
    return col


@register("q_text_bpe_encode", oracle=None)  # merges are data-derived
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE encode with the learned merge table: per-lang
    word occurrences, character volume, post-BPE token volume, and the
    chars-per-token compression ratio — the statistic a tokenizer
    training run reports to judge vocab quality. The k merges apply as
    one nested JVM fold expression over the DISTINCT word table (apply
    cost scales with |vocab|, not corpus size), then per-occurrence
    stats come from one join of the exploded corpus against that tiny
    encoded vocab. Exact ints; ratio is one division rounded at 4 dp.
    Rows-only because the merge table is data-derived (SQL cannot
    reproduce the training loop); the encode step is differentially
    tested against a pure-Python apply in tests/test_bpe.py."""
    merges = bpe_fit_cached(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select("lang", F.explode(tokens_col()).alias("w"))
    vocab = (
        occ.select("w")
        .distinct()
        .select(
            "w",
            F.length("w").alias("n_chars"),
            F.size(bpe_apply_col(merges)).alias("n_tokens"),
        )
    )
    return (
        occ.join(F.broadcast(vocab), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_bpe_tokens"),
            F.round(
                F.sum("n_chars") * F.lit(1.0) / F.sum("n_tokens"), 4
            ).alias("chars_per_token"),
        )
    )
