"""Recall + composition invariants for the IVF-PQ search (rows-only
query: float ADC/argmin are ulp-engine-specific, so correctness is
pinned by recall against the exact baseline and by structural checks).
"""

from __future__ import annotations

from nosql_triple_store_spark.registry import all_specs

from .conftest import SF_DIR

SPECS = all_specs()


def test_ivfpq_recall_against_exact(spark):
    exact = [
        r.vec_id for r in SPECS["q_vector_knn"].fn(spark, SF_DIR).collect()
    ]
    approx = [
        r.vec_id for r in SPECS["q_vector_ivfpq"].fn(spark, SF_DIR).collect()
    ]
    assert len(approx) == 10
    assert len(set(approx)) == 10, "duplicate neighbors in result"
    recall = len(set(exact) & set(approx)) / len(exact)
    # learned k-means cells (nprobe=4 of 10) + residual-PQ shortlist:
    # the composed index must recover >= 9 of the exact top-10
    # (VERDICT r5 #1 done-bar; simulation gives 1.0 at fixture scale)
    assert recall >= 0.9, f"recall@10 {recall} below floor"


def test_ivfpq_never_beats_exact_scores(spark):
    exact = SPECS["q_vector_knn"].fn(spark, SF_DIR).collect()
    approx = SPECS["q_vector_ivfpq"].fn(spark, SF_DIR).collect()
    best_exact = max(r.cos_sim for r in exact)
    # the re-rank computes TRUE cosine, so no approx score can exceed
    # the true best; probe itself is excluded from both
    assert all(r.cos_sim <= best_exact + 1e-9 for r in approx)
    assert all(r.vec_id != 0 for r in approx)


def test_ivfpq_deterministic(spark):
    a = SPECS["q_vector_ivfpq"].fn(spark, SF_DIR).collect()
    b = SPECS["q_vector_ivfpq"].fn(spark, SF_DIR).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_model_persists_across_processes(spark, monkeypatch):
    """VERDICT r6 nit #1: the fitted model (coarse centroids + PQ
    codebook) must be loadable from the cross-process artifact without
    re-running Lloyd or the codebook fit."""
    import json
    import os

    from nosql_triple_store_spark.operators import vector_ext9 as v9

    model = v9._ivfpq_model(spark, SF_DIR)
    path = v9._model_path(SF_DIR)
    assert os.path.exists(path)
    with open(path, encoding="utf-8") as fh:
        assert json.load(fh) == model
    # a fresh process (emulated: bypass the in-process tier) must load
    # the artifact, never refit — both fit paths poisoned to prove it
    for fit in ("kmeans_fit", "_fit_codebook"):
        monkeypatch.setattr(
            v9,
            fit,
            lambda *a, **k: (_ for _ in ()).throw(
                AssertionError("refit despite persisted model")
            ),
        )
    assert v9._load_or_fit_model(spark, SF_DIR) == model


def test_query_scans_persisted_codes_never_reencodes(spark, monkeypatch):
    """VERDICT r7 #1: after the index is built, q_vector_ivfpq must
    scan the persisted code table — the raw-vector encode pipeline
    (_assign/_with_residual) is poisoned to prove it never reruns."""
    from nosql_triple_store_spark.operators import vector_ext9 as v9

    v9.pq_index(spark, SF_DIR).count()  # index ETL (layout phase)
    boom = lambda *a, **k: (_ for _ in ()).throw(  # noqa: E731
        AssertionError("query re-encoded raw vectors")
    )
    monkeypatch.setattr(v9, "_assign", boom)
    monkeypatch.setattr(v9, "_with_residual", boom)
    rows = SPECS["q_vector_ivfpq"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10


def test_pq_index_partitioned_by_cell(spark):
    """The code table is hive-partitioned by coarse cell so a probe's
    `cid IN (...)` prunes unprobed cells' files at the manifest."""
    import os

    from nosql_triple_store_spark.operators import vector_ext9 as v9

    from urllib.parse import urlparse

    # the directory pq_index resolved through scratch.build_once
    files = v9.pq_index(spark, SF_DIR).inputFiles()
    out = os.path.dirname(os.path.dirname(urlparse(files[0]).path))
    parts = [d for d in os.listdir(out) if d.startswith("cid=")]
    assert len(parts) > 1, f"expected cid= partition dirs, got {parts}"
