"""PCA over an ARRAY<FLOAT> embedding column.

The training-pipeline use: reduce 64-d embeddings to a handful of
principal components for visualization, cheap clustering, or
whitening before ANN. Decomposition of the work mirrors
operators/kmeans.py's iteration discipline:

- The only distributed pass is moment collection: each partition
  emits ONE row of partial statistics (count, Σx, flattened Σx·xᵀ)
  through Arrow/mapInPandas with a numpy ``X.T @ X`` — the same
  partial-stats shape the k-means `_stats_rows` body uses, so the shuffle
  carries P rows of ~d² doubles, independent of N. At 100 TB this is
  one scan; the driver state is d + d² + 1 numbers.
- The eigendecomposition runs on the DRIVER on the d×d covariance
  (numpy.linalg.eigh — symmetric, deterministic for identical
  input). d is the embedding width, never the data size.
- Projection is JVM-side: each component becomes a literal array and
  the dot product runs in whole-stage codegen (functions/vector
  dot64) — no Python in the per-row path.

Eigenvector sign is fixed (largest-|component| coordinate made
positive) so results are reproducible run-to-run.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dot64, emb_finite


_MOMENTS_SCHEMA = (
    "n bigint, s array<double>, xtx array<double>"
)


def _moments_fn(dim: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim)
        xtx = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += X.shape[0]
            s += X.sum(axis=0)
            xtx += X.T @ X
        if n == 0:
            return
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "xtx": [xtx.ravel().tolist()]}
        )

    return fn


def fit_pca(df: DataFrame, k: int, dim: int = 64):
    """One distributed moment pass + driver-side eigh.

    Returns (mean: np.ndarray[dim], components: np.ndarray[k, dim],
    explained_var: np.ndarray[k] — descending).
    """
    # A NULL embedding cannot contribute moments — np.vstack raised a
    # shape error deep in the worker (NULL-embeddings sweep, r6); the
    # vector-op contract everywhere else is the same filter.
    parts = (
        df.where(emb_finite("embedding"))
        .select("embedding")
        .mapInPandas(_moments_fn(dim), _MOMENTS_SCHEMA)
        .collect()
    )  # P rows of bounded size — driver state, not data
    n = sum(r.n for r in parts)
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    xtx = np.sum(
        [np.asarray(r.xtx).reshape(dim, dim) for r in parts], axis=0
    )
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T  # (k, dim)
    # Deterministic sign: make the largest-|coordinate| entry positive.
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, w[order]


def project(df: DataFrame, mean: np.ndarray, comps: np.ndarray) -> DataFrame:
    """Append pc0..pc{k-1} columns: (x - mean)·cᵢ, computed JVM-side.

    (x-mean)·c = x·c - mean·c, so the per-row work is one dot64 per
    component against a literal array plus a scalar subtraction —
    whole-stage codegen, no Python, no shuffle."""
    out = df
    for i in range(comps.shape[0]):
        c = comps[i]
        lit = F.array(*[F.lit(float(x)) for x in c])
        offset = float(np.dot(mean, c))
        out = out.withColumn(
            f"pc{i}", dot64(F.col("embedding"), lit) - F.lit(offset)
        )
    return out
