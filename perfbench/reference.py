"""Seeded input generators and numpy references for the correctness gates.

Every reference repeats the arithmetic of the code under test in plain
numpy, on the same float32 inputs widened to float64, so a correct run
agrees up to summation order. The gates compare with tolerances fixed
here, and a perturbed result (a shifted centroid, a miscounted point, a
flipped assignment) fails them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Centroids agree to this absolute tolerance (summation order only).
CENTROID_ATOL = 1e-7
# Share of final Lloyd assignments that must equal the reference; only
# exact float ties may flip.
ASSIGN_AGREEMENT = 0.999
MIN_PURITY = 0.95


def clustered_points(rng, n: int, k: int, d: int, spread: float):
    """n unit vectors in d dims around k random unit centres; returns
    (float32 n×d array, int labels)."""
    centres = rng.standard_normal((k, d))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    x = centres[labels] + spread * rng.standard_normal((n, d))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def write_vectors(path: str, ids, x, **extra) -> None:
    """Write (vec_id bigint, embedding array<float>, extra int columns)."""
    n, d = x.shape
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)),
        pa.array(np.ascontiguousarray(x).reshape(-1)),
    )
    cols = {"vec_id": pa.array(np.asarray(ids, dtype=np.int64)), "embedding": emb}
    cols.update({k: pa.array(np.asarray(v, dtype=np.int32)) for k, v in extra.items()})
    pq.write_table(pa.table(cols), path)


def _assign(x64, c):
    return np.argmax(x64 @ c.T, axis=1)  # ties -> lowest index, as in the kernel


def macqueen(c0, batches):
    """Batch MacQueen updates (StreamingKMeans, untracked): returns
    (centroids, counts) after folding every batch in order."""
    c = np.array(c0, dtype=np.float64)
    s = np.zeros_like(c)
    n = np.zeros(len(c), dtype=np.int64)
    for x in batches:
        x64 = x.astype(np.float64)
        best = _assign(x64, c)
        np.add.at(s, best, x64)
        n += np.bincount(best, minlength=len(c))
        nz = n > 0
        c[nz] = s[nz] / n[nz, None]
    return c, n


def macqueen_tracked(c0, batches, n_ids: int):
    """MacQueen with add/remove reassignment (track_assignments=True).
    ``batches`` holds (ids, vectors) pairs without duplicate ids inside
    a batch. Returns (centroids, counts, number of assigned ids)."""
    c = np.array(c0, dtype=np.float64)
    s = np.zeros_like(c)
    n = np.zeros(len(c), dtype=np.int64)
    owner = np.full(n_ids, -1, dtype=np.int64)
    for ids, x in batches:
        x64 = x.astype(np.float64)
        best = _assign(x64, c)
        np.add.at(s, best, x64)
        n += np.bincount(best, minlength=len(c))
        old = owner[ids]
        seen = old >= 0
        np.add.at(s, old[seen], -x64[seen])
        n -= np.bincount(old[seen], minlength=len(c))
        owner[ids] = best
        nz = n > 0
        c[nz] = s[nz] / n[nz, None]
    return c, n, int((owner >= 0).sum())


def lloyd(x, c0, iters: int):
    """Fixed-iteration Lloyd from c0; returns (centroids, assignment)."""
    x64 = x.astype(np.float64)
    c = np.array(c0, dtype=np.float64)
    for _ in range(iters):
        best = _assign(x64, c)
        cnt = np.bincount(best, minlength=len(c))
        s = np.zeros_like(c)
        np.add.at(s, best, x64)
        nz = cnt > 0
        c[nz] = s[nz] / cnt[nz, None]
    return c, _assign(x64, c)


def purity(assign, labels) -> float:
    """Share of points whose cluster's majority label is their own."""
    hit = 0
    for j in np.unique(assign):
        hit += np.bincount(labels[assign == j]).max()
    return hit / len(labels)


def centroids_match(c, n, c_ref, n_ref) -> bool:
    return bool(
        np.array_equal(np.asarray(n), np.asarray(n_ref))
        and np.allclose(c, c_ref, rtol=0.0, atol=CENTROID_ATOL)
    )


def assignments_match(assign, assign_ref, labels) -> bool:
    agree = float(np.mean(np.asarray(assign) == np.asarray(assign_ref)))
    return agree >= ASSIGN_AGREEMENT and purity(np.asarray(assign), labels) >= MIN_PURITY
