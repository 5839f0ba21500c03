"""Distributed PCA (top principal component) via one-pass scatter-matrix
aggregation.

Lineage: embedding-space diagnostics a training-data pipeline runs over
its vector corpus — dominant-direction extraction for whitening,
anisotropy checks ("is the embedding cloud collapsing to a line?"), and
PC-based outlier scoring.

Spark shape: the d×d scatter matrix is a partial-aggregable sufficient
statistic — each Arrow batch contributes (n, Σx, Σxx^T) computed with
one BLAS gemm inside mapInPandas, flattened to (idx, value) cells;
one groupBy(idx) sum reduces P·(d²+d+1) cells to d²+d+1 rows, and the
driver eigendecomposes the 64×64 matrix with numpy. For d ≤ ~10³ this
beats power iteration outright: ONE pass over the data (an iterative
method is a full pass per step and converges slowly when the eigengap
is small — measured here: 8 iterations reached only 0.90 of the top
eigenvalue on the near-isotropic fixture embeddings), and the only
driver traffic is the d² statistic. At 100 TB: map-side combine means
the shuffle carries d²+d+1 doubles per partition, nothing scales with
row count. Deterministic up to partial-sum association order → the
rows-only check plus numpy-differential tests (tests/test_vector_pca.py
asserts the fitted component matches numpy's eigh to 1e-6 alignment).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..scratch import memo


def _scatter_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-batch sufficient statistics as flattened cells:
    idx 0 → count, idx 1..d → Σx, idx d+1.. → row-major Σ x·x^T."""
    for pdf in batches:
        if not len(pdf):
            continue
        X = np.array(pdf["x"].tolist(), dtype=np.float64)
        d = X.shape[1]
        vals = np.concatenate(
            [[float(len(X))], X.sum(axis=0), (X.T @ X).ravel()]
        )
        yield pd.DataFrame(
            {"idx": np.arange(d * d + d + 1, dtype=np.int64), "v": vals}
        )


def _fit_scatter_stats(
    spark: SparkSession, sf_dir: str
) -> tuple[float, "np.ndarray", "np.ndarray"]:
    """One distributed pass → (n, Σx, Σxx^T) as driver-side numpy."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    cells = (
        emb.mapInPandas(_scatter_cells, schema="idx long, v double")
        .groupBy("idx")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    flat = np.zeros(len(cells))
    for r in cells:
        flat[r.idx] = r.v
    # solve d from d² + d + 1 = n_cells
    d = round((-1 + (4 * len(flat) - 3) ** 0.5) / 2)
    return flat[0], flat[1 : d + 1], flat[d + 1 :].reshape(d, d)


def _scatter_stats(
    spark: SparkSession, sf_dir: str
) -> tuple[float, "np.ndarray", "np.ndarray"]:
    """The fitted statistic, once per application (a fresh context
    refits): both PCA consumers (pca/whiten) share one scatter pass —
    the deployed-model shape."""
    return memo(
        "pca_scatter_stats",
        sf_dir,
        lambda: _fit_scatter_stats(spark, sf_dir),
        sources=("embeddings",),
        key=spark.sparkContext.applicationId,
    )


def pca_scatter_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[list[float], list[float], float]:
    """Returns (mean vector μ, unit top component v — sign-pinned,
    top eigenvalue of the centered scatter). Exposed for the
    numpy-differential tests."""
    n, sx, sxx = _scatter_stats(spark, sf_dir)
    mu = sx / n
    scatter = sxx - n * np.outer(mu, mu)  # Σ(x-μ)(x-μ)^T
    evals, evecs = np.linalg.eigh(scatter)
    v = evecs[:, -1]
    peak = int(np.abs(v).argmax())
    if v[peak] < 0:  # eigenvectors are ±; pin sign so reruns agree
        v = -v
    return mu.tolist(), v.tolist(), float(evals[-1])


@register("q_vector_pca", oracle=None)  # rows-only: float eigensolve
def q_vector_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label census of PC1 projection scores: size, mean/min/max
    score along the top principal component (4 dp) — whether the class
    structure is visible in the dominant direction (the 1-D embedding-
    space probe). Rows-only (float eigensolve + order-dependent partial
    sums); the fitted component itself is verified against numpy's full
    eigendecomposition in tests/test_vector_pca.py."""
    mu, v, _ = pca_scatter_fit(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("x")
    )
    mu_lit = F.array(*[F.lit(float(m)) for m in mu]).cast("array<double>")
    v_lit = F.array(*[F.lit(float(t)) for t in v]).cast("array<double>")
    centered = F.zip_with(F.col("x"), mu_lit, lambda a, b: a - b)
    score = F.aggregate(
        F.zip_with(centered, v_lit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        emb.select("label", score.alias("score"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("score"), 4).alias("mean_score"),
            F.round(F.min("score"), 4).alias("min_score"),
            F.round(F.max("score"), 4).alias("max_score"),
        )
    )


def pca_whiten_fit(
    spark: SparkSession, sf_dir: str, eps: float = 1e-9
) -> tuple[list[float], list[list[float]]]:
    """(μ, W) where W = Λ^{-1/2}·Uᵀ whitens centered embeddings to unit
    covariance — from the same one-pass scatter statistic as
    pca_scatter_fit (no extra data pass; the driver-side eigh is reused
    conceptually but solved on the full spectrum). eps guards
    rank-deficient directions."""
    n, sx, sxx = _scatter_stats(spark, sf_dir)
    mu = sx / n
    cov = (sxx - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)
    w = (evecs / np.sqrt(np.maximum(evals, eps))).T  # rows scale U columns
    return mu.tolist(), w.tolist()


@register("q_vector_whiten", oracle=None)  # rows-only: float eigensolve
def q_vector_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitened-embedding census: apply the PCA whitening transform
    W(x−μ) (unit covariance by construction) and report per-label
    vector count plus mean/max whitened norm² (4 dp). Whitening is the
    standard preprocessing before cosine-based dedup/retrieval on
    anisotropic embedding spaces; E[‖Wx‖²] = d for the fitted
    distribution, so the mean column doubles as a self-check. The
    d×d transform applies as ONE BLAS gemm per Arrow batch in a
    pandas UDF — the original nested zip_with form kept W as an array
    literal so each output coordinate was an interpreted lambda chain
    (Catalyst does not codegen higher-order functions: d² = 4,096
    interpreted element evals PER ROW measured 3.9 s at sf0.1 vs
    0.56 s for q_vector_pca's single d-element dot; the gemm runs the
    same query in ~0.3 s). Per-row results depend only on that row
    (fixed-order BLAS dot), so the rows-only determinism contract is
    unchanged. tests/test_vector_pca.py asserts the whitened sample
    covariance is the identity."""
    mu, w = pca_whiten_fit(spark, sf_dir)
    mu_arr = np.asarray(mu, dtype=np.float64)
    w_t = np.asarray(w, dtype=np.float64).T  # (d, d): x @ w_t = W·x

    @F.pandas_udf("double")
    def _wn2(x: pd.Series) -> pd.Series:
        X = np.vstack(x.to_numpy()).astype(np.float64)  # (batch, d)
        Y = (X - mu_arr) @ w_t
        return pd.Series(np.einsum("ij,ij->i", Y, Y))

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("x")
    )
    return (
        emb.select("label", _wn2("x").alias("wn2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("wn2"), 4).alias("mean_whitened_norm2"),
            F.round(F.max("wn2"), 4).alias("max_whitened_norm2"),
        )
    )
