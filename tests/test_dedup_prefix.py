"""Prefix-filter (AllPairs/PPJoin) exactness: the round-9 scale-safe
near-dup paths pinned against the exact `_shingle_pairs` ground-truth
twin (VERDICT r8 #1 done-criterion).

The prefix lemma guarantees recall 1 DETERMINISTICALLY (unlike the LSH
path's probabilistic recall), so these are equality checks, not floors:
every rung of the threshold ladder must reproduce the exact pair set
bit-for-bit, and the registered top-50 queries must match what the old
quadratic layout produced."""

from __future__ import annotations

from pyspark.sql import functions as F

from nosql_triple_store_spark.operators.dedup import (
    _shingle_pairs,
    q_dedup_near,
    q_text_containment,
)
from nosql_triple_store_spark.operators.dedup_prefix import (
    _LADDER,
    containment_threshold_pairs,
    jaccard_threshold_pairs,
)

from .conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_jaccard_rungs_match_exact_twin(spark):
    """Every ladder rung's pair set == the exact all-common-shingle join
    filtered at the same exact-int threshold (incl. the degenerate 0/1
    rung, which must equal the FULL co-occurring pair set)."""
    exact = _shingle_pairs(spark, SF_DIR)
    cols = ["doc_a", "doc_b", "common", "na", "nb"]
    for p, q in _LADDER:
        got = _rows(jaccard_threshold_pairs(spark, SF_DIR, p, q), cols)
        want = _rows(
            exact.filter(
                F.lit(q) * F.col("common")
                >= F.lit(p) * (F.col("na") + F.col("nb") - F.col("common"))
            ),
            cols,
        )
        assert got == want, f"rung {p}/{q}: {len(got)} vs {len(want)} pairs"
    # the fixture must exercise a non-trivial rung, or recall is vacuous
    assert _rows(jaccard_threshold_pairs(spark, SF_DIR, 1, 2), cols)


def test_containment_rungs_match_exact_twin(spark):
    exact = _shingle_pairs(spark, SF_DIR).filter(
        (F.col("na") >= 10) & (F.col("nb") >= 10)
    )
    cols = ["doc_a", "doc_b", "common", "na", "nb"]
    for p, q in _LADDER:
        got = _rows(
            containment_threshold_pairs(spark, SF_DIR, p, q, 10), cols
        )
        want = _rows(
            exact.filter(
                F.lit(q) * F.col("common") >= F.lit(p) * F.least("na", "nb")
            ),
            cols,
        )
        assert got == want, f"rung {p}/{q}: {len(got)} vs {len(want)} pairs"


def test_near_top50_matches_exact_twin(spark):
    """The registered q_dedup_near (ladder) == top-50 computed from the
    exact quadratic twin — ordering and rounding included."""
    exact = _shingle_pairs(spark, SF_DIR)
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    want = [
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in exact.select(
            "doc_a", "doc_b", jac.alias("_j"), F.round(jac, 4).alias("jaccard")
        )
        .orderBy(F.desc("_j"), "doc_a", "doc_b")
        .limit(50)
        .collect()
    ]
    got = [
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in q_dedup_near(spark, SF_DIR).collect()
    ]
    assert got == want


def test_containment_top50_matches_exact_twin(spark):
    exact = _shingle_pairs(spark, SF_DIR).filter(
        (F.col("na") >= 10) & (F.col("nb") >= 10)
    )
    cont = F.col("common") * 1.0 / F.least("na", "nb")
    want = [
        (r["doc_a"], r["doc_b"], r["containment"])
        for r in exact.select(
            "doc_a",
            "doc_b",
            cont.alias("_c"),
            F.round(cont, 4).alias("containment"),
        )
        .orderBy(F.desc("_c"), "doc_a", "doc_b")
        .limit(50)
        .collect()
    ]
    got = [
        (r["doc_a"], r["doc_b"], r["containment"])
        for r in q_text_containment(spark, SF_DIR).collect()
    ]
    assert got == want


def test_collapse_paths_identical(spark, monkeypatch):
    """The adaptive exact-group collapse is a PHYSICAL choice: forcing
    either decision must produce the identical rung pair set (round-10
    guard for the corpus-shape probe)."""
    from nosql_triple_store_spark.operators import dedup_prefix as dp

    cols = ["doc_a", "doc_b", "common", "na", "nb"]
    monkeypatch.setattr(dp, "_collapse_pays", lambda spark, sf_dir: True)
    via_collapse = _rows(
        containment_threshold_pairs(spark, SF_DIR, 9, 10, 10), cols
    )
    jac_collapse = _rows(jaccard_threshold_pairs(spark, SF_DIR, 4, 5), cols)
    monkeypatch.setattr(dp, "_collapse_pays", lambda spark, sf_dir: False)
    via_direct = _rows(
        containment_threshold_pairs(spark, SF_DIR, 9, 10, 10), cols
    )
    jac_direct = _rows(jaccard_threshold_pairs(spark, SF_DIR, 4, 5), cols)
    assert via_collapse == via_direct
    assert jac_collapse == jac_direct


def test_skey_encoding_is_injective(spark):
    """ADVICE r10: a shingle may contain the \\x1f separator byte
    (tokens split on plain spaces only), so the exact-group set key
    must be a prefix-free encoding — {"a\\x1fb","c"} and
    {"a","b\\x1fc"} collide under a bare array_join (proved below) but
    must receive distinct length-prefixed keys, or the collapse would
    merge non-identical docs into one group."""
    from nosql_triple_store_spark.operators.dedup_prefix import _skey_col

    rows = [(1, "a\x1fb"), (1, "c"), (2, "a"), (2, "b\x1fc")]
    df = spark.createDataFrame(rows, "doc_id int, shingle string")
    keys = {
        r["doc_id"]: r["k"]
        for r in df.groupBy("doc_id").agg(_skey_col().alias("k")).collect()
    }
    assert keys[1] != keys[2]
    # the bare join DOES collide — the regression the encoding targets
    bare = {
        r["doc_id"]: r["k"]
        for r in df.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("shingle")), "\x1f"
            ).alias("k")
        )
        .collect()
    }
    assert bare[1] == bare[2]


def test_saturated_routes_match_exact_twin(spark, monkeypatch):
    """Round 11 (VERDICT r10 #1): forcing the saturation decision to
    "route" must reproduce the exact pair set bit-for-bit on the
    fixture — the recall pin for the banded-LSH-fed rungs (Jaccard
    route floor 1/2; containment route floor 4/5 with its exact
    stretched branch)."""
    from nosql_triple_store_spark.operators import dedup_prefix as dp

    cols = ["doc_a", "doc_b", "common", "na", "nb"]
    monkeypatch.setattr(dp, "_collapse_pays", lambda spark, sf_dir: False)

    def decide(exact: bool) -> None:
        monkeypatch.setattr(dp, "_exact_is_proportional", lambda *a: exact)

    for p, q in ((49, 50), (9, 10), (4, 5), (1, 2)):
        decide(False)
        routed = _rows(jaccard_threshold_pairs(spark, SF_DIR, p, q), cols)
        decide(True)
        exact = _rows(jaccard_threshold_pairs(spark, SF_DIR, p, q), cols)
        assert routed == exact, f"jaccard rung {p}/{q}"
    for p, q in ((49, 50), (9, 10), (4, 5)):
        decide(False)
        routed = _rows(
            containment_threshold_pairs(spark, SF_DIR, p, q, 10), cols
        )
        decide(True)
        exact = _rows(
            containment_threshold_pairs(spark, SF_DIR, p, q, 10), cols
        )
        assert routed == exact, f"containment rung {p}/{q}"


def test_saturation_probe_selects_exact_on_open_vocab(spark):
    """The fixture corpora have open (low-df) shingle vocabularies, so
    the probe must keep the exact path selected there and log a
    measured decision record."""
    from nosql_triple_store_spark.operators import dedup_prefix as dp
    from nosql_triple_store_spark.operators.dedup_prefix import (
        _exact_is_proportional,
        ranked_shingles,
    )

    rs = ranked_shingles(spark, SF_DIR)
    for kind, p, q in (("jaccard", 4, 5), ("containment", 49, 50)):
        assert dp._probe_saturation(SF_DIR, rs, p, q, kind)
    recs = [r for r in dp.SATURATION_LOG if r["sf_dir"] == SF_DIR]
    assert recs and all(
        r["exact_selected"] and r["blowup"] <= dp.SAT_MAX_BLOWUP
        for r in recs
    )
    # the final ladder rung is definitionally the full exact join
    assert _exact_is_proportional(spark, SF_DIR, rs, 0, 1, "jaccard")
