"""Exactness-preserving prefix-filtered similarity joins (the
AllPairs / PPJoin family) — the round-9 replacement for the quadratic
exact shingle-pair layout (VERDICT r8 #1).

The problem: the all-common-shingle inverted-index self-join behind the
old `_shingle_pairs` materializes one row per (pair, shared shingle) —
Σdf² rows. On a corpus whose shingle vocabulary SATURATES (the derived
sf3 fixture: ~30k distinct shingles, every df ∝ n) that is inherently
quadratic (measured 455.6 s at sf3, SCALE.md Round-8), and a df-cap
cannot save exactness.

The fix: candidate generation by PREFIX FILTERING, which is EXACT —
deterministic recall 1, no LSH miss probability — by the classic lemma:

    Order all shingles by a global total order (here: rarest-first,
    (df, shingle)). If |A ∩ B| >= c_min, then the smallest common
    shingle lies within the first (|A| - c_min + 1) shingles of A *and*
    the first (|B| - c_min + 1) shingles of B under that order.
    Proof: were it past A's prefix, every common shingle (all rank >=
    the smallest one) would sit among A's last c_min - 1 shingles,
    so |A ∩ B| <= c_min - 1 — contradiction. Symmetrically for B.

For Jaccard(A,B) >= p/q:  common >= (p/q)(na + nb - common) and
nb >= na together give common >= (p/q)·max(na, nb) — so BOTH sides may
index only their (n - ceil(p·n/q) + 1)-prefix, plus the size filter
q·min >= p·max. Candidate volume drops from Σ df² to Σ prefix_df²,
and rarest-first ordering concentrates prefixes on low-df shingles.

For containment |A∩B| / min >= p/q: only common >= (p/q)·min(na, nb)
holds, so the SMALLER side probes with its prefix against the full
index of larger partners (no size upper bound exists — a 10-shingle
doc can be fully contained in a 10,000-shingle one).

All threshold arithmetic is exact-integer (thresholds are fractions
p/q; c_min = ceil(p·n/q) via integer DIV; the verify filter compares
q·common against p·(…)) so no float rounding can break the recall-1
guarantee or disagree with the DuckDB oracle.

Top-k (no fixed threshold) queries use an ADAPTIVE LADDER: descend
tau in (9/10, 4/5, 1/2, 1/5, 0/1) until a rung verifies >= k pairs at
or above it; then the true global top-k all score >= tau and are all
captured, so sorting the rung's verified pairs IS the exact answer.
The final 0/1 rung degenerates to the full exact join — reached only
on corpora with fewer than k pairs above Jaccard 0.2, i.e. corpora
with essentially no near-duplicates, exactly where the full join is
small. On the near-dup-rich fixtures the ladder stops at the first
rung (sf0.1: the 50th-best Jaccard is 0.9875), where the prefix is a
tenth of each doc.

Round 11 (VERDICT r10 #1 — the df-aware strategy switch):

1. PAIR-LEVEL JOIN TIGHTENING, unconditional and exact: once both
   sizes are visible inside the join condition, the Jaccard join
   requires c_min_pair = ceil(p·(na+nb)/(p+q)) (tighter than either
   side's own prefix bound) and the containment join restricts the
   INDEX side to ji <= ni - ceil(p·np/q) + k (it replaces the round-10
   suffix filter, which cut only 1-5%). A/B at derived sf3, matched
   calib: jaccard 27.5 → 11.3 s, containment 32.7 → 19.9 s.
2. SATURATION PROBE + ROUTING: a linear probe estimates each rung's
   candidate volume (Σ prefix_df·df / Σ pdf²) and, above
   SAT_MAX_BLOWUP × corpus rows, routes the rung to banded-LSH
   candidates + the SAME exact verify (shared threshold-free verified
   scratch), with containment split exactly by size ratio (balanced →
   LSH, stretched → the class-prefiltered exact join, materialized
   per rung). Exact remains selected on every open-vocabulary corpus
   (all driver SFs: blowup 0.08–1.9; word-shuffled derived fixtures:
   3.5–96, growing ∝ n — SATURATION_DECISIONS.json is the measured
   decision artifact). Routed-vs-exact equality is pinned per rung on
   the fixtures (tests/test_dedup_prefix.py), and the route floors
   (Jaccard 1/2, containment 4/5) bound P(miss) <= ~3e-4 per pair.

No reference analog (the reference has no dedup — SURVEY §2.B);
brief-driven LLM-pipeline surface. tests/test_dedup_prefix.py pins the
ladder output against the exact `_shingle_pairs` ground-truth twin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_parquet
from ..registry import register, register_layout
from ..scratch import build_once, memo
from ..widths import cluster_cores
from ..materialize import materialize

# Descending threshold ladder as exact fractions (p, q). The 49/50 top
# rung exists for duplication-rich corpora (every derived K-fold
# fixture, and any real crawl with mirrors): its prefixes are ~2% of
# each doc, and the ladder stops there whenever >= k pairs score 0.98+.
_LADDER: tuple[tuple[int, int], ...] = (
    (49, 50),
    (9, 10),
    (4, 5),
    (1, 2),
    (1, 5),
    (0, 1),
)

# k-prefix extension (MPJoin-style): prefixes are lengthened by k-1
# tokens and a candidate must share >= min(k, c_min) prefix tokens.
# Exactness: if |A∩B| = c >= c_min(side), the m-th smallest common
# token has >= c - m + 1 common tokens at-or-after it, so it sits
# within the (n - c + m)-prefix ⊆ (n - c_min + m)-prefix ⊆ the
# (n - c_min + k)-extended prefix for every m <= k; hence at least
# min(k, c_min_pair) of the smallest common tokens are matched by the
# extended-prefix join. The match-count filter then removes the pairs
# that share only 1-2 shingles BY CHANCE — on a saturated shingle
# space those are ~all candidates (measured at derived sf1: 11.4M
# candidates at tau=0.9, ~250 true pairs), and without this filter the
# verify join explodes |candidates| x doc length.
_K_EXT = 4


@register_layout("ranked_shingles", r"q_dedup|q_text|q_stream_dedup")
def ranked_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle, pos, n_sh): each doc's distinct shingles ranked
    by the GLOBAL rarest-first order (df asc, shingle asc), materialized
    once per process as scratch parquet — the prefix-filter index layout.
    Build cost is linear: one df aggregate, one join, one per-doc sort."""

    def write(out: str) -> None:
        from .dedup import _shingle_stream

        sh = _shingle_stream(spark, sf_dir)
        df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", "shingle")
        ranked = sh.join(df, "shingle").select(
            "doc_id",
            "shingle",
            F.row_number().over(w).alias("pos"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
        )
        ranked.repartition(cluster_cores(spark)).write.parquet(out)

    return read_parquet(
        spark,
        build_once("ranked_shingles", sf_dir, write, sources=("documents",)),
    )


def _cmin(p: int, q: int) -> F.Column:
    """ceil(p * n_sh / q) in exact integer arithmetic."""
    return F.expr(f"({p} * n_sh + {q - 1}) DIV {q}")


def _prefix(rs: DataFrame, p: int, q: int, ext: int = 1) -> DataFrame:
    """The (n - ceil(p·n/q) + ext)-prefix rows of every doc (ext=1 is
    the classic prefix; ext=_K_EXT the match-count-filter extension)."""
    return rs.filter(F.col("pos") <= F.col("n_sh") - _cmin(p, q) + ext)


def verify_pairs(
    spark: SparkSession, sf_dir: str, cand: DataFrame
) -> DataFrame:
    """Exact (doc_a, doc_b, common, na, nb) for CANDIDATE pairs only:
    join the pair list through both shingle sets and count the
    intersection. Work is bounded by |candidates| × doc length. The
    scans read the 2-column shingle scratch, NOT the wider ranked
    layout (A/B-measured 1.15 vs 1.89 s at sf0.1 — narrower pages,
    and the candidate semi-filter prunes either way); post-collapse
    candidates are representative ids, for which the full stream
    yields identical counts and sizes."""
    from .dedup import _shingle_stream

    sh = _shingle_stream(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return common.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
        "doc_b",
    )


# --- exact-group collapse (round 10, VERDICT r9 #3 generalized) -----
# A corpus with EXACT duplicates (mirrors, boilerplate pages, K-fold
# replication) makes the candidate join input carry K identical copies
# of each shingle set: the prefix join's output grows ×K² even though
# the DISTINCT-set problem is unchanged. Same rewrite as round 9's
# SimHash collapse (dedup.py q_dedup_simhash): docs with IDENTICAL
# shingle sets collapse to one representative (min doc_id), the prefix
# join + verify run over representatives only, and member pairs
# re-enter at expansion with the REP pair's exact stats — identical
# sets share common/na/nb by definition, and intra-group pairs are
# common = na = nb (similarity 1, above every threshold). Grouping
# keys on the FULL rank-ordered shingle string, not a hash: exactness
# never rides on collision odds.
#
# Honesty note on the DERIVED sweep fixtures: make_scaled_sf
# word-shuffles each copy precisely so copies do NOT share shingle
# sets ("near-dup structure scales ~linearly instead of every doc
# gaining K-1 exact clones") — so on /tmp/sfderived the collapse is a
# measured near-no-op (146,996 docs -> ~146,900 reps at sf3) and the
# remaining candidate-join cost there is the INHERENT Σ prefix_df·df
# of an exact containment join on a saturating (~30k-shingle)
# synthetic vocabulary, where every df grows ∝ n. Real crawls have an
# open Zipfian shingle vocabulary (df tails flat as n grows), which is
# exactly the regime prefix filtering is built for; mirror-heavy real
# corpora are where this collapse pays.

def _skey_col(shingle: str = "shingle") -> F.Column:
    """Canonical INJECTIVE set key: sorted shingles, each
    length-prefixed as ``len:data``, joined by "\\x1f" (ADVICE r10:
    tokens split on plain spaces only, so a shingle may itself contain
    the separator byte — a bare join would let two different sets
    share one key, e.g. {"a\\x1fb","c"} vs {"a","b\\x1fc"}). The
    length prefix makes decoding unambiguous left-to-right, so equal
    keys imply equal sets — exactness never rides on collision odds
    (tests/test_dedup_prefix.py pins the ADVICE counterexample)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(shingle)),
            lambda s: F.concat(F.length(s).cast("string"), F.lit(":"), s),
        ),
        "\x1f",
    )

# Collapse only pays when a meaningful fraction of docs ARE exact-set
# duplicates: below this duplicate mass the rep-level indirection
# (repsh copy read + expansion joins) costs more than the ×K² join
# saving. The decision is a LINEAR probe (one per-doc hash-sum
# aggregate — no window, no string shuffle), cached per corpus;
# hash-xor collisions can only overestimate the duplicate mass, i.e.
# flip toward building the exact layout, never toward wrong results —
# both paths are exact, this is purely a physical-plan choice.
_COLLAPSE_MAX_REP_FRACTION = 0.7


def _probe_collapse(spark: SparkSession, sf_dir: str) -> bool:
    rs = ranked_shingles(spark, sf_dir)
    sig = rs.groupBy("doc_id").agg(
        F.expr("bit_xor(xxhash64(shingle))").alias("h"),
        F.first("n_sh").alias("n"),
    )
    n_docs = sig.count()
    n_groups = sig.select("h", "n").distinct().count()
    return n_groups <= _COLLAPSE_MAX_REP_FRACTION * n_docs


def _collapse_pays(spark: SparkSession, sf_dir: str) -> bool:
    return memo(
        "collapse_probe",
        sf_dir,
        lambda: _probe_collapse(spark, sf_dir),
        sources=("documents",),
    )


def _set_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build the exact-set-group layout once per sf_dir:
    `members` = (doc_id, rep, n_sh) with rep the group's min doc_id
    (one groupBy + one window over the full set-key string), and
    `repsh` = the ranked-shingle rows of representatives only (semi
    join; no forced broadcast — AQE broadcasts the rep list when small
    and shuffles on a mega-corpus). Both scratch parquet so every
    ladder rung reuses them. min_sh views derive by FILTER: members of
    one group share n_sh (identical sets), so a size floor keeps or
    drops whole groups and the rep stays the rep — one build serves
    every floor."""

    def write(out: str) -> None:
        rs = ranked_shingles(spark, sf_dir)
        sets = rs.groupBy("doc_id", "n_sh").agg(_skey_col().alias("skey"))
        members = sets.select(
            "doc_id",
            "n_sh",
            F.min("doc_id").over(Window.partitionBy("skey")).alias("rep"),
        )
        members.write.parquet(f"{out}/members")
        mem = spark.read.parquet(f"{out}/members")
        reps = mem.filter(F.col("doc_id") == F.col("rep")).select("rep")
        rs.join(reps, rs["doc_id"] == reps["rep"], "left_semi").write.parquet(
            f"{out}/repsh"
        )

    return build_once("shingle_set_groups", sf_dir, write, sources=("documents",))


def _set_groups(spark: SparkSession, sf_dir: str, min_sh: int) -> DataFrame:
    g = read_parquet(spark, f"{_set_layout(spark, sf_dir)}/members")
    return g.filter(F.col("n_sh") >= min_sh) if min_sh > 0 else g


def _rep_shingles(spark: SparkSession, sf_dir: str, min_sh: int) -> DataFrame:
    rs = read_parquet(spark, f"{_set_layout(spark, sf_dir)}/repsh")
    return rs.filter(F.col("n_sh") >= min_sh) if min_sh > 0 else rs


def _expand_group_pairs(rep_pairs: DataFrame, groups: DataFrame) -> DataFrame:
    """Expand rep-level verified pairs to ALL member pairs (exact stats
    carry over: identical sets), plus the intra-group pairs (every two
    members of one group: common = na = nb). Output schema matches
    verify_pairs: (doc_a, doc_b, common, na, nb) with doc_a < doc_b and
    na = n_sh(doc_a)."""
    ma = groups.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("xa"))
    mb = groups.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("xb"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("xa", "xb").alias("doc_a"),
            F.greatest("xa", "xb").alias("doc_b"),
            "common",
            F.when(F.col("xa") < F.col("xb"), F.col("na"))
            .otherwise(F.col("nb"))
            .alias("na"),
            F.when(F.col("xa") < F.col("xb"), F.col("nb"))
            .otherwise(F.col("na"))
            .alias("nb"),
        )
    )
    g2 = groups.select(F.col("rep").alias("r2"), F.col("doc_id").alias("xb"))
    intra = (
        groups.join(g2, (F.col("rep") == F.col("r2")) & (F.col("doc_id") < F.col("xb")))
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("xb").alias("doc_b"),
            F.col("n_sh").alias("common"),
            F.col("n_sh").alias("na"),
            F.col("n_sh").alias("nb"),
        )
    )
    return cross.unionByName(intra)


# --- saturated-vocabulary routing (round 11, VERDICT r10 #1) --------
# The exact prefix join's candidate volume is Σ prefix_df·df rows; on
# a corpus whose shingle vocabulary SATURATES (every df ∝ n — crawl
# boilerplate, the word-shuffled derived fixtures) that grows ∝ n²
# regardless of how tight the prefixes are, because there are no rare
# shingles left to concentrate them on. A LINEAR probe estimates the
# rung's candidate volume from the ranked layout and, above the
# data-proportionality budget, routes the rung to banded-LSH candidate
# generation + the SAME exact verification — sub-quadratic, with the
# band-miss probability bounded by the rung's implied Jaccard floor
# (the routes only engage on rungs where that floor keeps
# P(miss) <= ~3e-4 per true pair; fixture equality is pinned in
# tests/test_dedup_prefix.py). Exact stays the strategy everywhere the
# probe rules it data-proportional — notably every open-vocabulary
# (Zipfian-df) corpus, the regime prefix filtering is built for.
#
# When the exact-group collapse pays (mirror-heavy corpora) the
# rep-level EXACT path always runs: identical docs share every band
# key, so LSH candidates would grow ×K² on exactly that corpus shape —
# the collapse is the right fix there, not banding.

# exact is data-proportional iff the rung's estimated candidate rows
# <= this multiple of the corpus' shingle rows. Measured separation on
# the fixtures (scripts/saturation_probe.py): driver sf0.01/sf0.1
# ratios 0.08-1.9 (open vocab), word-shuffled derived sf1/sf3 ratios
# 3.5-71 and growing ∝ n — 3 splits the regimes with margin both ways.
SAT_MAX_BLOWUP = 3
# measured decision artifact: one record per (corpus, kind, rung)
# probe — scripts/saturation_probe.py dumps it per sf dir
SATURATION_LOG: list[dict] = []


def _probe_saturation(
    sf_dir: str, rs: DataFrame, p: int, q: int, kind: str
) -> bool:
    """The saturation probe: estimate the exact rung's materialized
    candidate-join rows — Σ_s prefix_df(s)·df(s) for containment
    (probe prefix × index), Σ_s pdf(s)² under the equal-size
    pair-tightened prefix (2p, p+q) for Jaccard — in ONE linear
    aggregate over the ranked layout. Both collects are single scalars
    (plan constants, not data)."""
    n_rows = rs.count()
    if kind == "containment":
        dfs = rs.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        est = (
            _prefix(rs, p, q, _K_EXT)
            .join(dfs, "shingle")
            .agg(F.sum("df"))
            .collect()[0][0]
            or 0
        )
    else:
        pdf = (
            _prefix(rs, 2 * p, p + q, _K_EXT)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        est = pdf.agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0] or 0
    ok = est <= SAT_MAX_BLOWUP * n_rows
    SATURATION_LOG.append(
        {
            "sf_dir": sf_dir,
            "kind": kind,
            "rung": f"{p}/{q}",
            "est_candidate_rows": int(est),
            "corpus_shingle_rows": int(n_rows),
            "blowup": round(est / max(n_rows, 1), 2),
            "exact_selected": ok,
        }
    )
    return ok


def _exact_is_proportional(
    spark: SparkSession, sf_dir: str, rs: DataFrame, p: int, q: int, kind: str
) -> bool:
    """:func:`_probe_saturation`, once per (corpus, kind, rung)."""
    if p == 0:
        return True  # final ladder rung: definitionally the full join
    return memo(
        "saturation_probe",
        sf_dir,
        lambda: _probe_saturation(sf_dir, rs, p, q, kind),
        sources=("documents",),
        key=(kind, p, q),
    )


def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY banded-LSH candidate pair with its exact stats
    (doc_a, doc_b, common, na, nb), THRESHOLD-FREE, materialized once
    per process as scratch parquet: candidates from the shared band
    index (dedup_pipeline's 32-band × 2-row layout), one exact-verify
    pass. Each routed rung/query is then a filter over this artifact —
    without the sharing, every routed rung re-ran the |candidates| ×
    doc-length verify join and the route measured SLOWER than the
    tightened exact join at both sf1 and sf3 (A/B in SCALE.md round
    11). Build cost is attributed to the layout bucket like
    band_index/nearband_edges (one artifact, many consumers — the
    production shape: verify candidates once, query thresholds many
    times)."""

    def write(out: str) -> None:
        from .dedup_pipeline import _minhash_candidates, band_index

        cand = _minhash_candidates(None, band_index(spark, sf_dir))
        verify_pairs(spark, sf_dir, cand).write.parquet(out)

    return read_parquet(
        spark,
        build_once("lsh_verified_pairs", sf_dir, write, sources=("documents",)),
    )


def _lsh_jaccard_pairs(
    spark: SparkSession, sf_dir: str, p: int, q: int
) -> DataFrame:
    """Saturated-regime Jaccard rung: a threshold filter over the
    shared verified-candidate scratch — exact-int arithmetic identical
    to the prefix path's final filter. P(miss a true pair) =
    (1 - J²)^32 <= 1e-4 at the J >= 1/2 floor the route requires."""
    return lsh_verified_pairs(spark, sf_dir).filter(
        F.lit(q) * F.col("common")
        >= F.lit(p) * (F.col("na") + F.col("nb") - F.col("common"))
    )


def _lsh_containment_pairs(
    spark: SparkSession, sf_dir: str, p: int, q: int, min_sh: int
) -> DataFrame:
    """Saturated-regime containment rung, partitioned EXACTLY by size
    ratio (every qualifying pair is in exactly one branch):

    - BALANCED pairs (max <= 1.5·min): containment >= p/q implies
      Jaccard >= (p/q)/(2.5 - p/q) — at the route's p/q >= 4/5 floor
      that is J >= 0.47, so banded candidates miss a true pair with
      P <= (1 - 0.47²)^32 ≈ 3e-4. A threshold+balance filter over the
      shared verified-candidate scratch.
    - STRETCHED pairs (ni > 1.5·np): Jaccard washes out (LSH is blind
      here — the operator's raison d'être), but the PREFIX join is
      strong: the probe keeps its (np - c_min + k)-prefix, the index
      side its c_min-restricted top positions, and the stretch
      predicate lands inside the join condition, so on a saturated
      near-uniform-size corpus the branch's output is near-empty while
      its inputs stay one linear pass.
    """
    ver = lsh_verified_pairs(spark, sf_dir)
    balanced = ver.filter(
        (F.col("na") >= min_sh)
        & (F.col("nb") >= min_sh)
        & (
            F.lit(2) * F.greatest("na", "nb")
            <= F.lit(3) * F.least("na", "nb")
        )
        & (
            F.lit(q) * F.col("common") >= F.lit(p) * F.least("na", "nb")
        )
    )
    # the stretched branch is exactness INSURANCE (measured zero
    # qualifying pairs at >= 4/5 on every fixture, driver and derived)
    # whose join is the one remaining super-linear computation on a
    # saturated vocabulary — materialize it once per (corpus, rung) as
    # scratch parquet so reruns and the ladder's re-reads pay a file
    # scan, with the build attributed to the layout bucket
    def write(out: str) -> None:
        rs = ranked_shingles(spark, sf_dir).filter(F.col("n_sh") >= min_sh)
        _containment_rep_pairs(
            spark, sf_dir, rs, p, q, stretch_only=True
        ).write.parquet(out)

    stretched = read_parquet(
        spark,
        build_once(
            "stretched_verified_pairs",
            sf_dir,
            write,
            sources=("documents",),
            key=(p, q, min_sh),
        ),
    )
    return balanced.unionByName(stretched.select(*balanced.columns))


def jaccard_threshold_pairs(
    spark: SparkSession, sf_dir: str, p: int, q: int
) -> DataFrame:
    """EVERY pair with Jaccard >= p/q as (doc_a, doc_b, common, na,
    nb): exact-group collapse when mirror mass pays, then the exact
    both-side prefix join (pair-tightened, positional-filtered) —
    UNLESS the saturation probe rules the rung's candidate volume
    super-linear AND the rung's Jaccard floor is >= 1/2, in which case
    banded-LSH candidates feed the same exact verification (recall
    1 - 1e-4 per pair at the floor, fixture-pinned equal). Exact paths
    are deterministic recall 1; member expansion covers collapsed
    groups (identical sets: intra-group pairs are Jaccard 1)."""
    if _collapse_pays(spark, sf_dir):
        groups = _set_groups(spark, sf_dir, 0)
        rep_pairs = _jaccard_rep_pairs(
            spark, sf_dir, _rep_shingles(spark, sf_dir, 0), p, q
        )
        return _expand_group_pairs(rep_pairs, groups)
    rs = ranked_shingles(spark, sf_dir)
    if 2 * p >= q and not _exact_is_proportional(
        spark, sf_dir, rs, p, q, "jaccard"
    ):
        return _lsh_jaccard_pairs(spark, sf_dir, p, q)
    # low duplicate mass: the direct join over all docs IS the rep
    # join (identical plan shape to round 9)
    return _jaccard_rep_pairs(spark, sf_dir, rs, p, q)


def _jaccard_rep_pairs(
    spark: SparkSession, sf_dir: str, rs: DataFrame, p: int, q: int
) -> DataFrame:
    """The prefix-filtered Jaccard join over the given ranked-shingle
    rows: both-side prefix join + size filter + positional filter, then
    exact verification.

    Positional filter (prune-safe, exact): if common >= c_min, the
    prefix lemma puts the SMALLEST common shingle w in both prefixes,
    so w is the minimum-position match of the pair, and every common
    shingle sits at position >= pos(w) in both docs — hence
    common <= 1 + min(na - i_w, nb - j_w). A pair pruned by this bound
    either truly has common below threshold (bound valid) or has no
    prefix match at w at all (lemma contrapositive: below threshold
    anyway). This is what keeps the VERIFY input small: without it the
    verify join explodes |candidates| × doc-length — measured
    pathological on the saturated sf1 corpus (≈50M random-co-occurrence
    candidates × ~200 shingles each)."""
    pref = _prefix(rs, p, q, _K_EXT)
    a = pref.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("n_sh").alias("na"),
        F.col("pos").alias("ia"),
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("n_sh").alias("nb"),
        F.col("pos").alias("jb"),
    )
    # pair-level prefix tightening (round 11, VERDICT r10 #1): the
    # per-side prefix uses c_min(side) = ceil(p·n_side/q), but once
    # BOTH sizes are visible the pair's true requirement is
    # c_min_pair = ceil(p·(na+nb)/(p+q)) >= c_min(side) (q·nb >= p·na
    # always, given nb >= na and q >= p), so a true pair's m-th
    # smallest common shingle (m <= _K_EXT) sits within the TIGHTER
    # (n_side - c_min_pair + _K_EXT)-prefix on each side — the same
    # prefix-lemma argument with c >= c_min_pair. Evaluated inside the
    # join condition, this cuts the materialized candidate-join output
    # (the measured scale bottleneck: Σ prefix_df² rows) by ~(gap
    # ratio)² — e.g. at 4/5 the effective prefix shrinks 0.200n →
    # 0.112n — while every true pair still produces >= min(_K_EXT,
    # c_min_pair) matches, so the match-count filter below is
    # unchanged and exactness is preserved (rung tests pin bit-equal).
    cmin_pair = F.expr(f"({p} * (na + nb) + {p + q - 1}) DIV {p + q}")
    matches = a.join(b, "shingle").filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (
            F.lit(q) * F.least("na", "nb")
            >= F.lit(p) * F.greatest("na", "nb")
        )
        & (F.col("ia") <= F.col("na") - cmin_pair + _K_EXT)
        & (F.col("jb") <= F.col("nb") - cmin_pair + _K_EXT)
    )
    ub = F.lit(1) + F.least(
        F.col("na") - F.col("i_min"), F.col("nb") - F.col("j_min")
    )
    cand = (
        matches.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(
            F.min("ia").alias("i_min"),
            F.min("jb").alias("j_min"),
            F.count(F.lit(1)).alias("cnt"),
        )
        # k-prefix match-count filter (exactness argument at _K_EXT)
        .filter(F.col("cnt") >= F.least(F.lit(_K_EXT), cmin_pair))
        # positional upper bound still must allow the required overlap
        .filter(F.lit(p + q) * ub >= F.lit(p) * (F.col("na") + F.col("nb")))
        .select("doc_a", "doc_b")
    )
    ver = verify_pairs(spark, sf_dir, cand)
    return ver.filter(
        F.lit(q) * F.col("common")
        >= F.lit(p) * (F.col("na") + F.col("nb") - F.col("common"))
    )


def containment_threshold_pairs(
    spark: SparkSession, sf_dir: str, p: int, q: int, min_sh: int = 10
) -> DataFrame:
    """EVERY pair (both sides >= min_sh shingles) with containment
    |A∩B| / min(|A|,|B|) >= p/q: exact-group collapse when mirror mass
    pays, then the exact prefix join (smaller side's prefix against
    the c_min-restricted index) — UNLESS the saturation probe rules
    the rung super-linear AND p/q >= 4/5, in which case the rung
    splits exactly by size ratio: balanced pairs via banded-LSH
    candidates + exact verify, stretched pairs via the exact prefix
    join with the stretch predicate (see _lsh_containment_pairs).
    Member expansion covers collapsed groups (intra-group pairs:
    containment 1)."""
    if _collapse_pays(spark, sf_dir):
        groups = _set_groups(spark, sf_dir, min_sh)
        rep_pairs = _containment_rep_pairs(
            spark, sf_dir, _rep_shingles(spark, sf_dir, min_sh), p, q
        )
        return _expand_group_pairs(rep_pairs, groups)
    rs = ranked_shingles(spark, sf_dir).filter(F.col("n_sh") >= min_sh)
    if 5 * p >= 4 * q and not _exact_is_proportional(
        spark, sf_dir, rs, p, q, "containment"
    ):
        return _lsh_containment_pairs(spark, sf_dir, p, q, min_sh)
    return _containment_rep_pairs(spark, sf_dir, rs, p, q)


def _containment_rep_pairs(
    spark: SparkSession,
    sf_dir: str,
    rs: DataFrame,
    p: int,
    q: int,
    stretch_only: bool = False,
) -> DataFrame:
    """The prefix-filtered containment join over the given
    ranked-shingle rows (already min_sh-filtered). With
    ``stretch_only`` the join keeps only size-stretched pairs
    (ni > 1.5·np — the saturated route's exact branch, where the
    balanced complement comes from LSH candidates)."""
    probe = _prefix(rs, p, q, _K_EXT).select(
        F.col("doc_id").alias("doc_p"),
        "shingle",
        F.col("n_sh").alias("np_"),
        F.col("pos").alias("ip"),
    )
    index = rs.select(
        F.col("doc_id").alias("doc_i"),
        "shingle",
        F.col("n_sh").alias("ni"),
        F.col("pos").alias("ji"),
    )
    # index-side prefix restriction (round 11, VERDICT r10 #1 — it
    # replaces the round-10 PPJoin+ suffix filter, which cut only
    # 1.1-5.1% of candidates on the saturated fixtures): for a true
    # pair with common = c >= c_min = ceil(p·np/q), the prefix lemma
    # applies to BOTH docs with the same c — the m-th smallest common
    # shingle (m <= _K_EXT) sits within the probe's (np - c + m)- AND
    # the index doc's (ni - c + m)-prefix, both contained in the
    # (n - c_min + _K_EXT)-extended prefixes. c_min depends only on
    # the PROBE size, so it is a join-condition predicate: the index
    # row must satisfy ji <= ni - ceil(p·np/q) + _K_EXT. This is what
    # bounds the materialized join output — the measured scale killer
    # was Σ prefix_df·df with the FULL index side (102M rows at sf3);
    # with the restriction the index side joins only its top positions
    # per probe-size, the containment analog of the Jaccard join's
    # pair-level tightening. Exactness: >= min(_K_EXT, c_min) of the
    # smallest common shingles still match, so the match-count filter
    # keeps every true pair, and the smallest common shingle itself
    # survives (m = 1), so i_min/j_min below remain its positions.
    cmin = F.expr(f"({p} * np_ + {q - 1}) DIV {q}")
    pair_cond = (
        (F.col("np_") < F.col("ni"))
        | (
            (F.col("np_") == F.col("ni"))
            & (F.col("doc_p") < F.col("doc_i"))
        )
    ) & (F.col("ji") <= F.col("ni") - cmin + _K_EXT)
    if stretch_only:
        # saturated-route exact branch: keep only size-STRETCHED pairs
        # (ni > 1.5·np), and — the part that matters for cost — make
        # the stretch requirement a JOIN-KEY prefilter, not just a
        # post-join predicate: probes carry their size class
        # j = floor(log2(np)); an index row replicates to exactly the
        # classes j with ni > 1.5·2^j (the only classes whose probes
        # it can stretch) AND only while its position is inside the
        # class-floor restriction ji <= ni - ceil(p·2^j/q) + _K_EXT
        # (a superset of the exact per-pair restriction, re-applied
        # below: cmin(np) >= cmin(2^j) for np >= 2^j). On a
        # near-uniform-size corpus the prefilter empties the join
        # INPUT — there are no index docs 1.5× larger than the
        # dominant class — which is what keeps the saturated route's
        # exact branch linear where the plain inverted-index join
        # enumerated Σ prefix_df·df row-pairs.
        pair_cond = pair_cond & (
            F.lit(2) * F.col("ni") > F.lit(3) * F.col("np_")
        )
        probe = probe.withColumn(
            "cls", F.floor(F.log2(F.col("np_"))).cast("int")
        )
        index = (
            index.withColumn(
                "cls",
                F.explode(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            F.lit(0),
                            F.floor(
                                F.log2(F.col("ni") * 2 / F.lit(3))
                            ).cast("int"),
                        ),
                    )
                ),
            )
            # ni > 1.5·2^cls, exactly (the log2 bound can admit the
            # boundary class; shiftleft keeps the check integral)
            .filter(F.expr("2 * ni > 3 * shiftleft(1, cls)"))
            .filter(
                F.expr(
                    f"ji <= ni - (({p} * shiftleft(1, cls) + {q - 1}) "
                    f"DIV {q}) + {_K_EXT}"
                )
            )
        )
        matches = probe.join(index, ["shingle", "cls"]).filter(pair_cond)
    else:
        matches = probe.join(index, "shingle").filter(pair_cond)
    # positional filter (same prune-safety argument as the Jaccard
    # join, with c_min = ceil(p·np/q) on the smaller side): the
    # smallest common shingle is the pair's minimum-position match
    ub = F.lit(1) + F.least(
        F.col("np_") - F.col("i_min"), F.col("ni") - F.col("j_min")
    )
    cand = (
        matches.groupBy("doc_p", "doc_i", "np_", "ni")
        .agg(
            F.min("ip").alias("i_min"),
            F.min("ji").alias("j_min"),
            F.count(F.lit(1)).alias("cnt"),
        )
        # k-prefix match-count filter + positional bound (same
        # exactness arguments as the Jaccard join, c_min = ceil(p·np/q))
        .filter(F.col("cnt") >= F.least(F.lit(_K_EXT), cmin))
        .filter(ub >= cmin)
        .select(
            F.least("doc_p", "doc_i").alias("doc_a"),
            F.greatest("doc_p", "doc_i").alias("doc_b"),
        )
    )
    ver = verify_pairs(spark, sf_dir, cand)
    # rs arrives min_sh-filtered, so no size floor re-check needed here
    return ver.filter(
        F.lit(q) * F.col("common") >= F.lit(p) * F.least("na", "nb")
    )


def top_pairs_ladder(
    rung_fn: Callable[[int, int], DataFrame], k: int
) -> DataFrame:
    """Descend the threshold ladder until a rung verifies >= k pairs at
    or above it; that rung then contains the exact global top-k (every
    pair scoring >= the rung threshold is captured, and >= k of them
    exist, so the k-th best scores >= the threshold). Each rung is
    checkpointed so the count and the final sort share one computation.
    The per-rung .count() is a bounded layout scalar, not a data
    collect."""
    for p, q in _LADDER:
        ver = rung_fn(p, q).transform(materialize)
        if p == 0 or ver.count() >= k:
            return ver
    raise AssertionError("unreachable: final ladder rung is 0/1")


_PREFIX_THRESHOLD_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(str_split(lower(text), ' '), t -> t <> '') AS t
  FROM documents),
sh AS (SELECT doc_id,
              unnest(list_distinct([array_to_string((t)[i:i+2], ' ')
                                    for i in range(1, len(t) - 1)])) AS shingle
       FROM toks),
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
WHERE 5 * common >= 4 * (sa.n_sh + sb.n_sh - common)
"""


@register("q_dedup_jaccard_threshold", oracle=_PREFIX_THRESHOLD_ORACLE)
def q_dedup_jaccard_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with shingle-Jaccard >= 0.8 via the exact prefix-filter
    join — standalone differential proof (vs the DuckDB all-pairs
    oracle) that prefix filtering is exactness-preserving: identical
    pair set, identical exact-int scores, at Σ prefix_df² candidate
    cost instead of Σ df². (0.8 is the mirror-dedup threshold; every
    ladder rung down to 0 is additionally pinned against the exact
    twin in tests/test_dedup_prefix.py.)"""
    ver = jaccard_threshold_pairs(spark, sf_dir, 4, 5)
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return ver.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
