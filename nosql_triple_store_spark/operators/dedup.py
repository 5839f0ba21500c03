"""Deduplication operators for LLM training-data pipelines (task brief):
exact, shingle-Jaccard near-dup, MinHash+LSH, SimHash, embedding-cosine.

Scale design per operator:
- exact: one hash aggregation on the full text (or its md5) — the
  canonical groupBy dedup.
- shingle-Jaccard: inverted-index self-join (explode shingles → join on
  shingle → count common per pair) instead of an O(n²) cross join; the
  pair space is bounded by shared-shingle co-occurrence. Hot shingles are
  the skew risk at 100 TB — shingles with doc-frequency > SHINGLE_DF_CAP
  are dropped from the index (broadcast anti-join; denominators stay
  exact), bounding any one join key's pair fanout at cap²/2. Skew-tested
  in tests/test_dedup.py with a 50%-df synthetic shingle.
- MinHash LSH: 16 permutations × 4 bands; signatures via xxhash64(shingle,
  seed) min-aggregated (partial-aggregable), band-bucket self-join emits
  candidates, zip_with estimates Jaccard — the sub-quadratic path.
- SimHash: 64-bit signature per doc via an Arrow-batched pandas UDF (the
  per-bit majority vote is the one step built-ins can't express without a
  64x row explosion), then 8-bit banded self-join + bit_count Hamming
  verify — all JVM-side.
- embedding-cosine: exact all-pairs via triangle-blocked distributed
  GEMM (no driver collect); the sub-quadratic approximate variants live
  in operators/vector.py (IVF) and vector_ext2.py (SRP-LSH).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..catalog import load_table, read_parquet
from ..functions.textfns import TOKS_SQL, shingles_col, shingles_sql, tokens_col
from ..registry import register, register_layout
from ..scratch import build_once, memo
from ..widths import cluster_cores, fanout_width
from ..materialize import lazy_cut


@register(
    "q_dedup_exact",
    oracle="""
SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY text
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep min doc_id per identical text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select(F.md5("text").alias("text_md5"), "keep_doc_id", "n_copies")


# Shingles appearing in more than this many docs are dropped from the
# inverted index (NOT from the per-doc size denominators): one viral
# shingle shared by f docs contributes f·(f-1)/2 candidate pairs on a
# single join key — the quadratic skew blowup at 100 TB. Dropping it
# loses at most (dropped shingles)/(union size) of Jaccard mass per
# pair, and high-df shingles are boilerplate that carries no dedup
# signal anyway. Fixture max df is 7 (sf0.01) / ~70 (sf0.1), far below
# the default, so fixture results are byte-identical to the uncapped run.
SHINGLE_DF_CAP = 5000


@register_layout("shingle_stream", r"q_dedup|q_text|q_stream_dedup")
def _shingle_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) exploded stream, materialized once per process
    as scratch parquet (written 32-wide so the explode parallelizes)."""

    def write(out: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.select(
                "doc_id",
                F.explode(shingles_col(tokens_col())).alias("shingle"),
            )
            .repartition(cluster_cores(spark))
            .write.parquet(out)
        )

    return read_parquet(
        spark, build_once("shingle_stream", sf_dir, write, sources=("documents",))
    )


def _shingle_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """(doc_a, doc_b, common, na, nb) via inverted-index self-join,
    materialized ONCE per process as scratch parquet.

    This exact all-common-shingle stream is Σdf² — quadratic on a
    saturating shingle space (455.6 s at sf3, SCALE.md) — so NO
    registered query consumes it: q_dedup_near and q_text_containment
    route through the exact prefix-filter ladder (dedup_prefix.py) and
    q_dedup_clusters through the LSH-candidate → exact-verify scratch
    (dedup_pipeline.verified_edges_scratch). It stays as the small-SF
    GROUND-TRUTH TWIN: tests/test_dedup_prefix.py and
    tests/test_dedup_pipeline.py pin the scale-safe paths against it at
    fixture scale."""

    def write(out: str) -> None:
        _shingle_pairs_plan(spark, sf_dir, df_cap).write.parquet(out)

    return read_parquet(
        spark,
        build_once(
            f"shingle_pairs_{df_cap}", sf_dir, write, sources=("documents",)
        ),
    )


def _shingle_pairs_plan(
    spark: SparkSession, sf_dir: str, df_cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """The unmaterialized pair plan (see _shingle_pairs)."""
    # The shingle stream fans out THREE ways (sizes, join-left, join-right)
    # and is consumed by THREE queries (q_dedup_near, q_text_containment,
    # q_dedup_clusters); without materialization Spark re-runs the
    # scan+explode for every branch of every consumer, all in the single
    # input-file partition. Round 3 pinned it per-call with
    # repartition(32).localCheckpoint() (8-12 s -> ~4 s at sf0.1), but the
    # cached blocks made later queries storage-pressure-sensitive
    # (q_text_containment measured 5 -> 10 s in the r4 full sweep while
    # BPE-training checkpoint blocks awaited async cleanup). Scratch
    # parquet written ONCE per process removes both problems: every
    # consumer reads a 2-column columnar file, and nothing lingers in
    # executor storage memory. At 100 TB this is "write the shingle table
    # once before the self-join" — the same fan-out rule as the
    # co-purchase edge list.
    sh = _shingle_stream(spark, sf_dir)
    # sizes come from the UNCAPPED stream so Jaccard denominators stay
    # exact; the cap only prunes the candidate-generating index below
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # hot-shingle skew guard: the over-cap shingle set is tiny by
    # construction (each member appears in >df_cap docs), so it
    # broadcasts; the anti-join never shuffles the shingle stream
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    sh_idx = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh_idx.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_idx.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
    )


_NEAR_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS_SQL} AS t FROM documents),
sh AS (SELECT doc_id, unnest({shingles_sql("t")}) AS shingle FROM toks),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY common * 1.0 / (sa.n_sh + sb.n_sh - common) DESC, doc_a, doc_b
LIMIT 50
"""


@register("q_dedup_near", oracle=_NEAR_ORACLE)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 3-token-shingle Jaccard, top-50.

    Top-k (not a fixed threshold) keeps the result deterministic and
    non-empty on any corpus; Jaccard is a ratio of exact ints so ordering
    is bit-identical across engines.

    Round 9 (VERDICT r8 #1): the pair stream comes from the adaptive
    prefix-filter threshold ladder (operators/dedup_prefix.py) instead
    of the exact all-common-shingle `_shingle_pairs` layout — same
    exact answer (deterministic recall 1 at each rung), but candidate
    cost Σ prefix_df² instead of the Σ df² that went quadratic on the
    saturating sf3 corpus. `_shingle_pairs` stays as the small-SF
    ground-truth twin (tests/test_dedup_prefix.py pins equality).
    """
    from .dedup_prefix import jaccard_threshold_pairs, top_pairs_ladder

    pairs = top_pairs_ladder(
        lambda p, q: jaccard_threshold_pairs(spark, sf_dir, p, q), 50
    )
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.select(
            "doc_a", "doc_b", jac.alias("_jac"), F.round(jac, 4).alias("jaccard")
        )
        .orderBy(F.desc("_jac"), "doc_a", "doc_b")
        .limit(50)
        .drop("_jac")
    )


_CONTAIN_ORACLE = _NEAR_ORACLE.replace(
    """SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY common * 1.0 / (sa.n_sh + sb.n_sh - common) DESC, doc_a, doc_b
LIMIT 50""",
    """SELECT doc_a, doc_b,
       ROUND(common * 1.0 / LEAST(sa.n_sh, sb.n_sh), 4) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE sa.n_sh >= 10 AND sb.n_sh >= 10
ORDER BY common * 1.0 / LEAST(sa.n_sh, sb.n_sh) DESC, doc_a, doc_b
LIMIT 50""",
)


@register("q_text_containment", oracle=_CONTAIN_ORACLE)
def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT (|A∩B| / min(|A|,|B|)) — the asymmetric
    near-dup measure: a short document quoted inside a long one scores
    ~1.0 here but low Jaccard (the union washes it out). Pairs come
    from the adaptive prefix-filter ladder (dedup_prefix.py,
    smaller-side prefix vs full index — the exact containment-join
    scheme), not the quadratic `_shingle_pairs` layout; min-size floor
    of 10 shingles keeps trivially-tiny docs from saturating the top-k.
    Ratio of exact ints — bit-identical ordering cross-engine."""
    from .dedup_prefix import containment_threshold_pairs, top_pairs_ladder

    pairs = top_pairs_ladder(
        lambda p, q: containment_threshold_pairs(spark, sf_dir, p, q, 10), 50
    )
    cont = F.col("common") * 1.0 / F.least("na", "nb")
    return (
        pairs.filter((F.col("na") >= 10) & (F.col("nb") >= 10))
        .select(
            "doc_a", "doc_b",
            cont.alias("_c"), F.round(cont, 4).alias("containment"),
        )
        .orderBy(F.desc("_c"), "doc_a", "doc_b")
        .limit(50)
        .select("doc_a", "doc_b", "containment")
    )


# flat simhash band cap: with a constant cap the banded join's work is
# bounded by sum(c^2) <= cap * sum(c) = cap * n_bands * n — LINEAR in
# corpus size no matter how skewed the band values get. 2048 clears
# every driver-SF bucket (max observed 1363 at sf0.1), so results at
# n <= 5000 are bit-identical to the uncapped history.
_SIMHASH_DF_CAP = 2048

_N_PERM = 16
_BAND_SIZE = 4
_N_BANDS = _N_PERM // _BAND_SIZE


@register("q_dedup_minhash", oracle=None)  # rows-only: engine-specific hashes
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) + LSH (4 bands × 4 rows) candidate pairs with
    estimated Jaccard — the sub-quadratic near-dup path for 100 TB.

    Permutation i = xxhash64(shingle, i); min per (doc, i) is a partial
    aggregate. Band buckets self-join only within equal 4-minhash
    signatures. Deterministic (fixed seeds) but xxhash64 is Spark-specific,
    hence rows-only; tests/test_dedup.py cross-checks candidate recall
    against the exact Jaccard pairs of q_dedup_near.
    """
    sh = _shingle_stream(spark, sf_dir)
    # All 16 permutations as parallel min-aggregates in ONE pass over the
    # shingle rows (no 16x row explosion — measured 11.3 s -> ~2 s at
    # sf0.1); each min() is partial-aggregable so the shuffle carries one
    # 16-long signature per (doc, partition).
    sig = sh.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(F.xxhash64("shingle", F.lit(i)))
                for i in range(_N_PERM)
            ]
        ).alias("sig")
    )
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * _BAND_SIZE + i + 1).cast(
                                        "string"
                                    )
                                    for i in range(_BAND_SIZE)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    lhs = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bkey"
    )
    rhs = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bkey"
    )
    cand = (
        lhs.join(rhs, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / float(_N_PERM)
    return cand.select(
        "doc_a", "doc_b", F.round(est, 4).alias("est_jaccard")
    )


@F.pandas_udf(LongType())
def _simhash64(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash of a token list (Arrow-batched; blake2b token hashes
    so the signature is stable across engines/runs, unlike builtin hash).
    Token hashes are memoized per batch — corpora have small vocabularies
    relative to token counts, so this cuts hash calls by ~1000x."""
    import numpy as np

    memo: dict[str, int] = {}

    def th(t: str) -> int:
        h = memo.get(t)
        if h is None:
            h = int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(),
                "big",
            )
            memo[t] = h
        return h

    out = []
    for toks in tokens:
        if toks is None or len(toks) == 0:
            out.append(0)
            continue
        hs = np.array([th(t) for t in toks], dtype=np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
            np.int64
        )
        votes = (bits * 2 - 1).sum(axis=0)
        sh = np.uint64(0)
        for j in range(64):
            if votes[j] >= 0:
                sh |= np.uint64(1) << np.uint64(j)
        out.append(int(sh.astype(np.int64)))
    return pd.Series(out)


# Two separate volume budgets (round 11), both as multiples of the
# chunk rows (Σc² / rows — "candidate blowup"):
# - ARITY budget (coarse): step the banding arity up only on GROSS
#   super-linearity (zipf sf3 measured 1,565 at arity 2) — stepping
#   changes the covering design, so it must never fire on corpora the
#   committed artifacts pinned (driver SFs measure ≈1-3).
# - CAP budget (tight): after the arity is fixed, the adaptive df-cap
#   drops the hottest band values until the remaining volume is
#   ≤ 4 × rows — the candidate join's actual memory/time bound. On
#   corpora whose volume is already data-proportional the cap lands
#   above every bucket size and drops nothing (bit-identical plan).
_SIMHASH_ARITY_BLOWUP = 64
_SIMHASH_CAP_BLOWUP = 4
# ... with an ABSOLUTE floor: a join under this many candidate rows is
# cheap on any executor (8M rows ≈ 140 MB across the shuffle), so the
# cap never engages there — driver-SF corpora (measured Σc² ≤ 1.7M)
# keep their historical fixed-cap results bit-identically, and the
# relative budget takes over exactly where volume actually hurts
_SIMHASH_CAP_FLOOR_ROWS = 8_000_000
# measured decision records (scripts/saturation_probe.py-style
# artifact evidence): one per probed (corpus, arity)
SIMHASH_ARITY_LOG: list[dict] = []


def _simhash_combos(arity: int) -> list[tuple[int, ...]]:
    from itertools import combinations

    if arity == 2:
        # covering design: the 12 within-half pairs (optimality
        # argument in q_dedup_simhash's docstring)
        return [
            c
            for half in (range(0, 4), range(4, 8))
            for c in combinations(half, 2)
        ]
    return list(combinations(range(8), arity))


def _chunk_col(combos: list[tuple[int, ...]]) -> list:
    """The banding projection: one (chunk_idx, chunk_val) per combo,
    chunk_val the base-256 concatenation of the chosen 8-bit chunks."""
    return [
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("chunk_idx"),
                        F.expr(
                            " + ".join(
                                f"(((sh >> {8 * c}) & 255) * {256 ** p})"
                                for p, c in enumerate(combo)
                            )
                        ).alias("chunk_val"),
                    )
                    for k, combo in enumerate(combos)
                ]
            )
        ).alias("c")
    ]


def _probe_simhash_arity(
    sf_dir: str, groups: DataFrame, arity: int
) -> tuple[int, int]:
    """Occupancy-probed band arity (round 11): starting from the
    uniform-occupancy estimate, measure the actual candidate volume
    Σ_buckets c² over the DISTINCT-signature band buckets and step the
    arity up while it exceeds _SIMHASH_MAX_BLOWUP × chunk rows. One
    linear aggregate + one 1-row collect per probed arity (≤3 probes
    ever). Returns (accepted arity, its measured Σc²): the df-cap
    decision reuses the volume to skip its histogram subplan when the
    cap provably cannot engage."""
    while True:
        combos = _simhash_combos(arity)
        est, rows = (
            groups.select(*_chunk_col(combos))
            .groupBy("c.chunk_idx", "c.chunk_val")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.coalesce(
                    F.sum(F.col("n") * F.col("n")), F.lit(0)
                ).alias("e"),
                F.coalesce(F.sum("n"), F.lit(0)).alias("r"),
            )
            .collect()[0]
        )
        blowup = est / max(rows, 1)
        accepted = blowup <= _SIMHASH_ARITY_BLOWUP or arity >= 3
        SIMHASH_ARITY_LOG.append(
            {
                "sf_dir": sf_dir,
                "arity": arity,
                "est_candidate_rows": int(est),
                "chunk_rows": int(rows),
                "blowup": round(blowup, 2),
                "accepted": accepted,
            }
        )
        if accepted:
            return arity, int(est)
        arity += 1


def _simhash_arity(
    sf_dir: str, groups: DataFrame, arity: int
) -> tuple[int, int]:
    """:func:`_probe_simhash_arity`, once per corpus."""
    return memo(
        "simhash_arity_probe",
        sf_dir,
        lambda: _probe_simhash_arity(sf_dir, groups, arity),
        sources=("documents",),
    )


@register("q_dedup_simhash", oracle=None)  # rows-only: custom signature
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signatures, banded candidate join over
    8-bit chunk COMBINATIONS, Hamming distance verify via
    bit_count(xor), top-50 closest pairs.

    The band key is an adaptive arity-a combination of the 8 chunks
    (key space 256^a): fixed 8-bit bands saturate as the corpus grows
    (only 256 bucket values — the r7 sf1 sweep measured the candidate
    join quadratic, 181 s at 50k docs), so arity steps up when
    n/256^a would exceed ~16 docs per bucket (round 9: lowered from 64
    after the driver-SF top-50s all measured max hamming <= 5 — inside
    the arity-2 covering bound, so the finer buckets provably return
    the identical answer while the band join shrinks; sf0.1 flips to
    arity 2, 7.0 -> ~3 s). Round 11: the static rule's uniform-
    occupancy assumption is additionally CHECKED by a measured
    occupancy probe (_simhash_arity) that steps the arity further up
    while the actual Σc² candidate volume is super-linear — corpora
    sharing high-frequency head tokens bias every signature toward
    the head's majority bit pattern and concentrate buckets far past
    n/256^a (measured ×1,500 blowup at derived zipf sf3, 223 s; the
    probe's arity 3 runs it at data-proportional cost). At arity 2 the combo set
    is a COVERING DESIGN, not all C(8,2)=28 pairs: the 12 within-half
    pairs ({0..3} x {0..3} and {4..7} x {4..7}). Pigeonhole guarantee:
    a hamming ≤ 5 pair leaves ≥ 3 chunks untouched, and 3 chunks across
    2 halves put two in the same half — an untouched chosen pair. (The
    complement, the 16 cross-half pairs, is exactly the maximal
    triangle-free graph on 8 vertices, so 12 is optimal for the ≤5
    bound; all 28 pairs would only raise the bound to ≤6 at 2.3x the
    join input, and ≤5 is far above any top-50-closest distance.)
    Arity 1 (a ≤ 7 bound) and arity 3 (all C(8,3), ≤5) use the full
    combination set. Driver SFs (n ≤ 5000) keep arity 1, i.e. their
    historical candidates, bit-identically.

    The covering bound interacts with the df-cap below (ADVICE r7
    #3): the ≤5 guarantee is UNCONDITIONAL only for pairs with at
    least one band under the cap — a pair whose EVERY covering band
    is hot (> {_SIMHASH_DF_CAP} signatures share the value) is
    dropped, so above the cap the bound is best-effort. Hamming-0
    pairs stay guaranteed regardless (same-signature groups never
    enter the band join at all). This is the standard SimHash
    production trade: a band value shared by thousands of docs
    carries ~no similarity signal, and keeping it would re-quadratize
    the join the cap exists to prevent.

    Round 9 (VERDICT r8 #2) — EXACT-GROUP COLLAPSE, the same rewrite
    that took phash near-dup 62 → 15 s at sf3 (multimodal_ext.py):
    K-fold copy corpora share unigram multisets, and SimHash is
    order-insensitive, so copies collide into IDENTICAL signatures and
    band buckets grew ∝ n (×4.5 at the sf1→sf3 step). Now the band
    self-join runs over DISTINCT signatures (one row per signature
    group); docs re-enter only at expansion. Expansion is bounded
    twice: (a) each group keeps its 51 smallest doc_ids — a pair with
    a dropped member has ≥ 51 lexicographically-smaller pairs inside
    its own group-pair, so it can never reach a top-50 — and (b) a
    signature pair expands only if strictly-better pairs (within-group
    hamming-0 plus expandable pairs at smaller distances) cannot
    already fill the top-50, selected IN THE PLAN (≤64-row per-hamming
    histogram + running-sum window + broadcast-joined filter — no
    driver action, the whole query stays one job like the
    pre-collapse shape).

    The signature is the only Python step (vectorized pandas UDF); banding,
    the self-join, and the Hamming verify are codegen'd expressions.
    """
    docs = load_table(spark, sf_dir, "documents")
    # starting arity from the DOC count (metadata-cheap, no UDF
    # action): an upper bound on distinct signatures, so the step-up
    # is at worst conservative — finer buckets, never coarser
    n_docs = docs.count()
    arity = 1
    while arity < 3 and n_docs / (256 ** arity) > 16:
        arity += 1
    # spread the single-file scan before the pandas UDF: one partition
    # would mean ONE Arrow batch on one core for the whole corpus
    sigs = docs.repartition(fanout_width(spark)).select(
        "doc_id", _simhash64(tokens_col()).alias("sh")
    )
    # one row per DISTINCT signature: kept members (51 smallest doc_ids
    # — cap argument in the docstring) + true group size. The signature
    # UDF has several consumers downstream: checkpoint so the Arrow
    # kernel runs ONCE.
    groups = (
        sigs.groupBy("sh")
        .agg(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 51).alias(
                "members"
            ),
            F.count(F.lit(1)).alias("m"),
        )
        .transform(lazy_cut)
    )
    # round 11 (found by the Zipfian open-vocabulary sweep): the
    # static arity rule assumes UNIFORM bucket occupancy, but corpora
    # that share high-frequency head tokens bias every signature
    # toward the head's majority bit pattern, concentrating band
    # buckets far past n/256^a — the candidate join measured 223 s at
    # zipf sf3 under arity 2 while every other dedup member ran ≤5 s.
    # The occupancy PROBE measures the actual candidate volume Σ c²
    # per arity (one linear aggregate + one scalar collect, cached per
    # corpus, layout-attributed) and steps the arity up while the
    # measured blowup is super-linear — the same measured-decision
    # pattern as dedup_prefix's saturation probe. The covering bound
    # only tightens with arity (≤7 at 1, ≤5 at 2 and 3), so stepping
    # up never loses a top-50-band pair the coarser arity guaranteed.
    arity, volume = _simhash_arity(sf_dir, groups, arity)
    combos = _simhash_combos(arity)
    chunks = groups.select("sh", *_chunk_col(combos)).select(
        "sh", "c.chunk_idx", "c.chunk_val"
    )
    # df-cap (the hot-shingle recipe of _shingle_pairs): a band value
    # shared by thousands of SIGNATURES is non-discriminative. Hot
    # bands are anti-joined out (bounded broadcast); low-hamming pairs
    # survive through any of their other bands, and hamming-0 pairs
    # never need the join (they are within-group).
    #
    # Round 11: the cap is ADAPTIVE, selected IN THE PLAN like the
    # expansion radius below. Head-biased corpora put most bucket
    # sizes BELOW the fixed 2048 cap while their Σc² still explodes
    # (zipf sf3: 511M join rows / 133 s after the fixed cap, with
    # arity already probed up) — so the cap becomes the largest
    # bucket size whose cumulative candidate volume Σ_{s<=cap} s²·h(s)
    # stays within _SIMHASH_MAX_BLOWUP × chunk rows, computed from the
    # (bounded, distinct-sizes) occupancy histogram with a running-sum
    # window and broadcast back. The most-discriminative (rarest)
    # bands — where the low-hamming pairs meet — are kept first; on
    # corpora whose volume was already data-proportional every bucket
    # size clears the budget and the plan is the historical one
    # bit-identically (the fixed 2048 cap still applies on top).
    # Hamming-0 recall stays unconditional (within-group pairs never
    # enter the band join).
    if volume <= _SIMHASH_CAP_FLOOR_ROWS:
        # The arity probe already measured TOTAL Σc² under the cap's
        # absolute floor, so the adaptive budget keeps every bucket
        # (cum at the max size ≤ floor) and the adaptive cap provably
        # coincides with the fixed cap — skip the histogram/window/
        # broadcast subplan entirely. Bit-identical hot set; driver
        # corpora (Σc² ≤ 1.7M) always take this branch, restoring
        # their pre-round-11 plan shape.
        hot = (
            chunks.groupBy("chunk_idx", "chunk_val")
            .count()
            .filter(F.col("count") > _SIMHASH_DF_CAP)
            .select("chunk_idx", "chunk_val")
        )
    else:
        # three consumers below (size histogram, row total, hot
        # filter): checkpoint so the chunk aggregate runs once
        counts = (
            chunks.groupBy("chunk_idx", "chunk_val")
            .count()
            .transform(lazy_cut)
        )
        from pyspark.sql import Window as W

        size_hist = counts.groupBy("count").agg(
            F.count(F.lit(1)).alias("nb")
        )
        cum_vol = F.sum(
            F.col("count") * F.col("count") * F.col("nb")
        ).over(W.orderBy("count").rowsBetween(W.unboundedPreceding, 0))
        total_rows = counts.agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("tr")
        )
        adaptive_cap = (
            size_hist.withColumn("cum", cum_vol)
            .crossJoin(F.broadcast(total_rows))
            .filter(
                (
                    F.col("cum")
                    <= F.greatest(
                        F.lit(_SIMHASH_CAP_BLOWUP) * F.col("tr"),
                        F.lit(_SIMHASH_CAP_FLOOR_ROWS),
                    )
                )
                | (F.col("count") <= 2)  # pair-capable floor, always kept
            )
            .agg(
                F.coalesce(F.max("count"), F.lit(_SIMHASH_DF_CAP)).alias(
                    "cap"
                )
            )
        )
        hot = (
            counts.crossJoin(F.broadcast(adaptive_cap))
            .filter(
                F.col("count")
                > F.least(F.col("cap"), F.lit(_SIMHASH_DF_CAP))
            )
            .select("chunk_idx", "chunk_val")
        )
    cold = chunks.join(
        F.broadcast(hot), ["chunk_idx", "chunk_val"], "left_anti"
    )
    lhs = cold.select(F.col("sh").alias("sh_a"), "chunk_idx", "chunk_val")
    rhs = cold.select(F.col("sh").alias("sh_b"), "chunk_idx", "chunk_val")
    sig_pairs = (
        lhs.join(rhs, ["chunk_idx", "chunk_val"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b")
        .dropDuplicates(["sh_a", "sh_b"])
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")))
        .transform(lazy_cut)
    )
    within = groups.select(
        F.explode("members").alias("doc_a"),
        F.col("members").alias("mem_b"),
    ).select(
        "doc_a", F.explode("mem_b").alias("doc_b"), F.lit(0).alias("hamming")
    ).filter(F.col("doc_a") < F.col("doc_b"))
    # Expansion radius selection IN THE PLAN (no extra driver action):
    # a signature pair is expanded to doc pairs only if the pairs
    # strictly better than its Hamming distance — within-group pairs
    # (all at hamming 0, the global minimum) plus every expandable pair
    # at a smaller distance — cannot already fill the top-50. The
    # cumulative count runs over a <= 64-row per-hamming histogram
    # (single-partition window on 64 rows) crossed with the 1-row
    # within-group total, and the surviving hamming values broadcast
    # back as the expansion filter. If within-group pairs alone reach
    # 50, no distance survives and the cross side is empty.
    wn = groups.agg(
        F.coalesce(
            F.sum(F.size("members") * (F.size("members") - 1) / 2),
            F.lit(0.0),
        ).alias("wn")
    )
    sizes_a = groups.select(
        F.col("sh").alias("sh_a"), F.size("members").alias("ka")
    )
    sizes_b = groups.select(
        F.col("sh").alias("sh_b"), F.size("members").alias("kb")
    )
    from pyspark.sql import Window as W

    hist = (
        sig_pairs.join(F.broadcast(sizes_a), "sh_a")
        .join(F.broadcast(sizes_b), "sh_b")
        .groupBy("hamming")
        .agg(F.sum(F.col("ka") * F.col("kb")).alias("n"))
    )
    cum_before = F.coalesce(
        F.sum("n").over(
            W.orderBy("hamming").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    expand_h = (
        hist.withColumn("cum_before", cum_before)
        .crossJoin(wn)
        .filter(F.col("cum_before") + F.col("wn") < 50)
        .select("hamming")
    )
    ga = groups.select(
        F.col("sh").alias("sh_a"), F.col("members").alias("mem_a")
    )
    gb = groups.select(
        F.col("sh").alias("sh_b"), F.col("members").alias("mem_b")
    )
    cross = (
        sig_pairs.join(F.broadcast(expand_h), "hamming")
        .join(F.broadcast(ga), "sh_a")
        .join(F.broadcast(gb), "sh_b")
        .select(F.explode("mem_a").alias("da"), "mem_b", "hamming")
        .select("da", F.explode("mem_b").alias("db"), "hamming")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    return (
        within.unionByName(cross)
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(50)
    )


_EMBED_ORACLE = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      >= 0.4
"""


_EMBED_TAU = 0.4
_EMBED_BLOCK_ROWS = 4096  # target rows per GEMM block


def _embed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact cosine-pair generator (cos ≥ τ) — the
    triangle-blocked GEMM documented on q_dedup_embed; consumed by both
    the pair query and the keep-one-per-cluster query."""
    return q_dedup_embed(spark, sf_dir)


@register("q_dedup_embed", oracle=_EMBED_ORACLE, ground_truth_twin=True)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4), exact, via a
    triangle-blocked DISTRIBUTED matrix multiply — no driver collect.

    Rows are hashed into B row-blocks (B sized so a block matrix is a few
    MB); every unordered block pair (lo, hi) with lo ≤ hi is one GEMM
    task. Each row is exploded to its B partner tasks, shuffled once by
    (lo, hi), and applyInPandas computes that task's A_lo @ A_hi^T in one
    BLAS call, emitting pairs ≥ τ. Every unordered vector pair lands in
    exactly one task, so the result is EXACT (recall 1.0 vs the all-pairs
    oracle) while no single task ever holds more than
    ~2·_EMBED_BLOCK_ROWS vectors. Scale honesty: the driver OOM is gone,
    but each row replicates to its B = ⌈n/block⌉ partner tasks, so
    SHUFFLE volume is O(n²/block) rows — quadratic in n like the flops
    (exact all-pairs is inherently O(n²·d)). This is the exact BASELINE,
    fit for corpus slices; at full 100 TB corpus scale it must be
    preceded by blocking/LSH candidate pruning — the sub-quadratic
    approximate paths (SRP-LSH bands, IVF cells) are
    vector_ext2.q_vector_lsh_cosine and vector.q_vector_ivf, and
    q_dedup_pipeline composes candidate-prune → exact-verify.

    Implementation note (measured): the pure higher-order-function
    formulation (crossJoin + zip_with/aggregate cosine) took 63 s at
    sf0.1 — lambda-based array expressions are *interpreted per element*,
    not codegen'd, so n²·d interpreted closures dominate; blocked BLAS is
    ~100× faster. Threshold margin vs BLAS/duckdb summation-order noise
    was probed: nearest pair sits 1.3e-4 from τ, noise is ~1e-15.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # scalar only — no vector data leaves the executors
    n_blocks = max(1, -(-n // _EMBED_BLOCK_ROWS))

    tagged = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("blk"),
    )
    # each row joins every partner block exactly once: task key is the
    # sorted block pair, so pair {x, y} appears in exactly one task
    tasks = tagged.select(
        "vec_id",
        "embedding",
        "blk",
        F.explode(F.array(*[F.lit(j) for j in range(n_blocks)])).alias("j"),
    ).select(
        "vec_id",
        "embedding",
        "blk",
        F.least("blk", "j").alias("t_lo"),
        F.greatest("blk", "j").alias("t_hi"),
    )

    def gemm_task(key, pdf):
        lo, hi = key
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        if lo == hi:
            sims = mat @ mat.T
            ai, bj = np.nonzero(sims >= _EMBED_TAU)
            keep = ids[ai] < ids[bj]
            va, vb, cs = ids[ai][keep], ids[bj][keep], sims[ai, bj][keep]
        else:
            a_side = pdf["blk"].to_numpy() == lo
            sims = mat[a_side] @ mat[~a_side].T
            ai, bj = np.nonzero(sims >= _EMBED_TAU)
            va, vb, cs = ids[a_side][ai], ids[~a_side][bj], sims[ai, bj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(va, vb),
                "vec_b": np.maximum(va, vb),
                "cos_sim": np.round(cs, 6),
            }
        )

    return tasks.groupBy("t_lo", "t_hi").applyInPandas(
        gemm_task, schema="vec_a long, vec_b long, cos_sim double"
    )


_EMBED_CLUSTER_ORACLE = """
WITH RECURSIVE
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]) >= 0.4),
und AS (SELECT va AS s, vb AS o FROM pairs
        UNION SELECT vb, va FROM pairs),
reach AS (
  SELECT s, o FROM und
  UNION
  SELECT r.s, u.o FROM reach r JOIN und u ON r.o = u.s),
cl AS (
  SELECT v.vec_id,
         LEAST(v.vec_id, COALESCE(MIN(r.o), v.vec_id)) AS cluster_id
  FROM embeddings v LEFT JOIN reach r ON r.s = v.vec_id
  GROUP BY v.vec_id)
SELECT vec_id, cluster_id FROM cl
"""


@register(
    "q_dedup_embed_clusters",
    oracle=_EMBED_CLUSTER_ORACLE,
    ground_truth_twin=True,
)
def q_dedup_embed_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dedup CLUSTERING: connected components over the
    cos ≥ 0.4 pair graph — cluster_id = min vec_id reachable, the
    representative a keep-one-per-cluster semantic dedup retains. The
    same closure step q_dedup_clusters applies to the shingle-pair
    graph, here over the triangle-blocked GEMM's exact pairs: pairs
    alone over-delete (A~B, B~C must keep ONE of {A,B,C}), so every
    production embedding dedup runs this after pair generation.

    Engine side: star-contraction CC (graph_ext2 helpers, O(log n)
    rounds) on the pair edges; oracle: DuckDB recursive closure —
    different fixpoint engines, same partition. The τ=0.4 threshold
    compares BLAS-dot vs DuckDB list_cosine_similarity with margin
    1.3e-4 vs noise 1e-15 (probed at q_dedup_embed)."""
    from .graph_ext2 import star_fixpoint

    emb_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    edges = _embed_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    e = star_fixpoint(edges, "embed clustering")
    star = e.select(F.col("src").alias("vec_id"), F.col("dst").alias("cluster_id"))
    return (
        emb_ids.join(star, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        )
    )
