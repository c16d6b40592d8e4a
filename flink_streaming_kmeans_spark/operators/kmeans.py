"""Lloyd's k-means as DataFrame ops + a driver-side iteration loop.

Reference analog: the clustering topology in KMeansClustering.java
(expected path src/main/java/com/scaleunlimited/flinkkmeans/
KMeansClustering.java — SURVEY.md §3.1 [PK]; checkout was empty): a
stateful co-operator assigns each Feature to the nearest Centroid and
feeds updated centroids back through an iteration edge. Spark has no
streaming iteration, so the idiomatic decomposition (SURVEY.md §7) is:

- ``assign``: embeddings × broadcast(centroids) → dot-product argmax.
  The centroid side is always tiny (k rows), so this is a
  BroadcastNestedLoopJoin producing n×k scored rows — one scan, no
  shuffle of the big side, the canonical scalable k-means step.
- ``update``: posexplode to (cluster, dim, value) → hash-aggregate
  mean. Shuffle carries k×64 group rows, nothing more.
- the co-operator itself, shared by ``kmeans_parallel_init``,
  ``lloyd_iterate``, ``assign_fitted`` and
  ``streaming.kmeans.StreamingKMeans``: ONE Arrow-native kernel —
  :func:`_decode` (zero-copy embedding matrix), :func:`_score` (argmax
  X·Cᵀ − bias) and :func:`_accumulate` (per-centroid partial sums).
  :func:`_score` holds the kernel's one GEMM. One below
  ``_BLAS_SPLIT_MACS`` multiply-adds (every streaming micro-batch) runs
  on one OpenBLAS thread (:func:`_blas_threads`), so the idle pool does
  not spin against the JVM between triggers; a larger one keeps the
  pool.
  Each pass body is a function of a :func:`_model` dict and an
  iterator of Arrow batches — :func:`_stats_rows`, :func:`_round_rows`,
  :func:`_assign_rows`, :func:`_reassign_rows` — that the driver calls
  directly. A worker runs it by one route: :func:`_kernel_pass` plans
  the ``mapInArrow`` pass, and its one combiner, :func:`_combiner`,
  loads the model from the side file (:class:`_ModelFile`) and calls
  the body. Per-centroid partials, from a worker or from the driver,
  come back through one vectorized Arrow fold, :func:`_fold`. A
  k-means|| round is one pass too: :func:`_round_rows` returns a
  partition's Σd² with the rows that pass :func:`_accept` under its
  running Σd², a superset of the exact sample that the driver re-tests
  with the true sum.

Callers outside this module reach the passes through two owners.
:class:`_FitInput` runs every fit and every untracked
``StreamingKMeans`` micro-batch. :func:`_reassign_pass` runs a tracked
micro-batch: one worker pass of :func:`_reassign_rows` over the batch
joined to its assignment state, folded and handed back with the next
state generation's rows.

Where a :class:`_FitInput` pass runs is decided once per input by one
gate, :func:`_driver_table`. An input of at most ``_DRIVER_ELEMS``
embedding values is read with one bounded Arrow collect, sorted by
vec_id, and every pass runs on the driver, with no Python worker, no
side file and no cache (a fit's assignment comes back as a local
frame). The gate keeps the table it last admitted for as long as that
DataFrame object lives, so init, Lloyd and an assignment on one object
read it once. A larger input, or one with no size estimate, runs
each pass through :func:`_kernel_pass` over the input (cached for a
fit), planned once per input and re-collected every round; only the
side file's k×d matrix changes between rounds: constant-size plans,
no literal or lineage growth (SURVEY.md §7 hard-part 1).

Embeddings are unit-normalized (SURVEY.md §1.3), so dot product ==
cosine similarity; "nearest" = argmax dot, tie-broken on lowest
cluster id for determinism. k-means|| init ranks by exact Euclidean
distance instead, so it seeds unit and raw-coordinate inputs alike.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import threading
import uuid
from functools import cache, partial

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vector import dot64, sql_emb_finite
from ..session import scratch_path

_STATS_SCHEMA = "cid int, psum array<double>, n bigint"
_DELTA_SCHEMA = (
    "kind int, vec_id bigint, cid int, psum array<double>, n bigint, rows bigint"
)
_ROUND_SCHEMA = "cost double, vec_id bigint, d2 double, embedding array<double>"
_CLUSTER_ID_SCHEMA = "vec_id bigint, cluster_id int"
# The columns a fit reads.
_FIT_COLS = ("vec_id", "embedding")
# k-means|| sampling rounds (Bahmani et al. find a handful ample at l = 2k).
_ROUNDS = 4


def init_centroids(embeddings: DataFrame, k: int = 10) -> DataFrame:
    """Deterministic init: the k embeddings with smallest vec_id;
    cluster id = that vec_id."""
    return (
        embeddings.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("embedding").alias("cemb"),
        )
    )


def first_k_init(embeddings: DataFrame, k: int = 10):
    """:func:`init_centroids` as a (k×d float64 matrix, cids) pair,
    rows in cid order — the driver-side model every first-k fit starts
    from. Raises a ValueError on an empty input (a numpy shape error
    deep in a combiner hid the actual problem, review r6)."""
    rows = sorted(init_centroids(embeddings, k).collect(), key=lambda r: r.cid)
    if not rows:
        raise ValueError("embeddings table is empty")
    C = np.array([list(r.cemb) for r in rows], dtype="float64")
    return C, np.array([int(r.cid) for r in rows])


def kmeans_parallel_init(embeddings: DataFrame, k: int = 10, seed: int = 0x5EED):
    """k-means|| initialization (Bahmani et al., "Scalable k-means++",
    VLDB 2012) — the distributed replacement for both naive first-k
    init (collapses when the id order correlates with one cluster) and
    sequential k-means++ (k driver round-trips, unusable at scale).

    A point is sampled with probability min(1, l·d²/Σd²), l = 2k,
    drawn from a deterministic splitmix-style hash of (vec_id, round,
    seed) (:func:`_accept`), so init is reproducible run-to-run. d² is
    the exact squared Euclidean distance to the nearest candidate
    (:func:`_d2`), for unit and raw-coordinate inputs alike.

    Each of 4 rounds is ONE pass of :func:`_round_rows`, planned
    once per fit. A partition returns its Σd² and every row that passes
    the test under its running Σd². d² ≥ 0, so a running sum never
    exceeds the true total and that test is never stricter than the
    true one: every row the driver's test accepts reaches it. The
    driver sums the partition rows in collect order (the float sum a
    separate cost pass would make) and re-tests the rows with it, so
    the candidates, and their order, are those of a cost pass followed
    by a sample pass. The overfetch is bounded: an Arrow batch passes
    at most l rows in expectation, so a round sends about P·l rows when
    each of the P partitions is one batch.

    The seed job (lowest vec_id) builds the cache, so the input is
    scanned once. One more pass weights each candidate by its
    nearest-point count: 6 jobs in all. An input within the driver
    budget (:class:`_FitInput`) runs the same rounds on the driver
    instead, after a width probe and one bounded collect: 2 jobs, and
    rows sorted by vec_id, so the candidates do not depend on how the
    input is split.

    The reduce (:func:`_reduce`) is deterministic, with no restarts: a
    weighted farthest-first traversal (Gonzalez, TCS 1985) seeded at
    the heaviest candidate, then weighted Lloyd rounds over the
    candidates.

    Returns a (k×d numpy array, cids array) tuple compatible with
    lloyd_iterate's internals / StreamingKMeans; fewer than k rows when
    the input has fewer than k distinct points. Within the budget a
    ``lloyd_iterate`` on the same ``embeddings`` object finds the rows
    init read in the gate (:func:`_driver_table`) and runs no job.
    """
    ell = 2 * k
    with _FitInput(embeddings) as fit:
        C = fit.seed()
        if C is None:
            # k-means needs at least one point; a bare IndexError here
            # (or a numpy shape error deep in a worker) hid the actual
            # problem.
            raise ValueError("kmeans_parallel_init: embeddings table is empty")
        for rnd in range(_ROUNDS):
            salt = np.uint64(rnd * 1_000_003 + seed)
            out = fit.round(C, ell, salt)
            cost = out.column("cost")
            denom = sum(c for c in cost.to_pylist() if c is not None)
            if denom <= 0:
                break
            hits = out.filter(cost.is_null())
            keep = _accept(
                hits.column("vec_id").to_numpy(), hits.column("d2").to_numpy(),
                ell, denom, salt,
            )
            new = hits.column("embedding").filter(keep).to_pylist()
            C = np.vstack([C, np.array(new, dtype="float64").reshape(-1, C.shape[1])])
        # Weight candidates by nearest-point counts (one more pass).
        w = fit.stats(C, np.arange(len(C)), euclidean=True)[1].astype(float)

    M = _reduce(C, w, k)
    return M, np.arange(len(M))


def _reduce(C, w, k: int):
    """k centres from the weighted candidates C, deterministically: a
    weighted farthest-first traversal seeded at the heaviest candidate
    (each step adds the candidate with the largest w·d² to the chosen
    set; stops early when that is 0, i.e. on duplicate candidates),
    then weighted Lloyd rounds in which an empty cluster keeps its
    row. Every distance and sum goes through the kernel."""
    chosen = [int(np.argmax(w))]
    while len(chosen) < k:
        wd2 = w * _d2(C, _euclidean_model(C[chosen]))
        wd2[chosen] = 0.0
        j = int(np.argmax(wd2))
        if wd2[j] <= 0:
            break
        chosen.append(j)
    M = C[chosen]
    for _ in range(10):
        pos = _score(C, _euclidean_model(M))[0]
        sums, _ = _accumulate(C * w[:, None], pos, len(M))
        total = np.bincount(pos, weights=w, minlength=len(M))
        nz = total > 0
        M[nz] = sums[nz] / total[nz, None]
    return M


def assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Score every vector against every centroid, keep the best row
    per vector (ties → lowest cid). Columns: (vec_id, embedding, cid,
    dot). The metric is argmax-dot — correct for unit-normalized
    vectors (the embeddings contract)."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "embedding", "cid", dot64("embedding", "cemb").alias("dot")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def update(assigned: DataFrame) -> DataFrame:
    """New centroid = per-dimension mean of member vectors, computed
    through exact decimal summation (order-independent → deterministic
    across runs and partitionings). Columns: (cid, dim, c_val)."""
    exploded = assigned.select("cid", F.posexplode("embedding").alias("dim", "v"))
    total = F.sum(F.col("v").cast("double").cast("decimal(30,6)")).cast("double")
    return exploded.groupBy("cid", "dim").agg(
        (total / F.count(F.lit(1))).alias("c_val")
    )


# -- the kernel ------------------------------------------------------


class _ModelFile:
    """The one channel by which a model reaches a worker's pass: an npz
    side file :func:`_combiner` loads at the start of each task.
    Everything that varies per call (C, cids, the Euclidean flag,
    k-means||'s ell/salt) goes in it, so a loop plans its DataFrames
    ONCE and re-collects them every round. A probe of executor-path
    stats passes (local[4], 32 alternating passes a side) put the
    saving at 20–40 ms a pass against carrying the model in the
    closure with a fresh plan: 0.288 vs 0.310 s at 20k×64, 0.373 vs
    0.401 s at 80k×64 (medians).
    ``publish`` swaps atomically; leaving the ``with`` block unlinks
    the file, so leave it only after the last action that could
    recompute from it. Driver-local scratch suits local mode; a cluster
    deploy needs shared storage, like the parquet assignment state."""

    def __init__(self):
        self.path = scratch_path("kmeans_model") + ".npz"

    def publish(self, C, cids, euclidean: bool = False, **extra) -> None:
        _write_npz(self.path, C=C, cids=cids, euclidean=euclidean, **extra)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        with contextlib.suppress(OSError):
            os.unlink(self.path)


def _write_npz(path: str, **arrays) -> None:
    """Write an npz file atomically: tmp file + os.replace, so a
    reader sees the old file or the new one, never a torn write."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as f:
        np.savez(f, **arrays)
    os.replace(tmp, path)


def _model(C, cids, euclidean=False, **extra) -> dict:
    """The model dict every kernel call reads: the k×d matrix C, row
    j ↔ cids[j], the metric flag, any per-call ``extra`` values, and
    the score ``bias`` they imply. Combiners build it from the side
    file (:func:`_load_model`); the driver builds it directly."""
    return {
        "C": C,
        "cids": cids,
        "euclidean": euclidean,
        **extra,
        "bias": _euclid_bias(C, bool(euclidean)),
    }


def _load_model(path: str) -> dict:
    """The published model (:meth:`_ModelFile.publish`) as a dict."""
    with np.load(path) as f:
        return _model(**{name: f[name] for name in f.files})


def _combiner(body, path, batches):
    """The one mapInArrow combiner: a partition's rows through a pass
    body — :func:`_stats_rows`, :func:`_round_rows`, :func:`_assign_rows`
    or :func:`_reassign_rows` — under the model published at ``path``."""
    yield from body(_load_model(path), batches)


def _kernel_pass(df: DataFrame, body, schema: str, model: _ModelFile) -> DataFrame:
    """The one planner of a worker pass: ``body`` over ``df``'s
    partitions, reading its model from the side file ``model``, which
    must outlive every action on the result."""
    return df.mapInArrow(partial(_combiner, body, model.path), schema)


def _euclidean_model(C) -> dict:
    """A driver-side Euclidean model for :func:`_score` and :func:`_d2`."""
    return _model(C, np.arange(len(C)), euclidean=True)


def _euclid_bias(C, euclidean: bool):
    """Per-centroid score bias turning argmax-dot into argmin-Euclidean:
    argmin ||x−c||² == argmax (x·c − ||c||²/2), EXACTLY (the ||x||²
    term is constant per point). The default dot metric is correct
    only for unit-normalized vectors (the embeddings contract);
    raw-coordinate inputs (the CLI's CSV lat/lon mode) without the
    bias let large-magnitude centroids absorb everything (review r6).
    """
    return 0.5 * (C * C).sum(axis=1) if euclidean else np.float64(0.0)


def _decode(batch, d: int, col: str = "embedding"):
    """An Arrow batch's embedding ListArray as an n×d float64 matrix:
    a zero-copy flatten + reshape, widened to float64 (a probe at
    10k×64: 0.4 ms, against 9–12 ms for np.stack over pandas objects).
    A reshape would silently misalign rows on a null or wrong-length
    embedding, so both raise a ValueError naming the column."""
    arr = batch.column(col)
    if arr.null_count:
        raise ValueError(f"{col}: {arr.null_count} null embedding(s)")
    lens = np.diff(np.asarray(arr.offsets))
    if (lens != d).any():
        i = int(np.flatnonzero(lens != d)[0])
        raise ValueError(f"{col}: row {i} has {lens[i]} elements, expected {d}")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(arr), d)


# GEMMs of fewer multiply-adds (rows x k x d) than this run on one
# OpenBLAS thread; larger ones keep the pool. Below it the pool's
# helpers lose to one thread, and after each call they busy-wait about
# 0.1 s (OpenBLAS's THREAD_TIMEOUT) before they sleep: a micro-batch
# every ~0.14 s keeps 3 of them spinning against the driver JVM. Shape
# probe, median of 40 calls, local host with 4 vCPUs, 1 vs 4 threads:
#     rows x d x k      multiply-adds   1 thread       4 threads
#     2000 x 64 x 16     2.0M           0.38-0.61 ms   0.45-0.69 ms
#     20000 x 2 x 16     0.6M           0.42 ms        0.67 ms
#     20000 x 16 x 16    5.1M           1.60 ms        0.77 ms
#     20000 x 64 x 33    42M            13.3 ms        4.6 ms
#     20000 x 64 x 131   168M           43.4 ms        14.9 ms
# So every streaming micro-batch runs on one thread, and every batch
# fit's k-means|| round after the first, weights pass and Lloyd
# iteration at 20k x 64 keeps its threads. Running every GEMM on one
# thread made a 20k x 64 batch fit slower (0.470 -> 0.565 s, 3 of 3).
_BLAS_SPLIT_MACS = 1 << 22
_BLAS_LOCK = threading.Lock()


@cache
def _openblas():
    """The (get, set) thread-count functions of every OpenBLAS loaded
    in this process, found once: each mapped library named *openblas*
    in /proc/self/maps, loaded with ctypes, under
    ``[scipy_]openblas_{get,set}_num_threads[64_|_64_]``. Empty when
    there is none (MKL, Accelerate, not Linux)."""
    try:
        with open("/proc/self/maps") as f:
            fields = [line.split(maxsplit=5) for line in f]
    except OSError:
        return ()
    paths = {p[5].strip() for p in fields if len(p) == 6}
    names = [
        f"{prefix}openblas_{{}}_num_threads{suffix}"
        for prefix in ("", "scipy_")
        for suffix in ("", "64_", "_64_")
    ]
    pools = []
    for path in sorted(p for p in paths if "openblas" in os.path.basename(p)):
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for name in names:
            get = getattr(lib, name.format("get"), None)
            set_ = getattr(lib, name.format("set"), None)
            if get and set_:
                get.argtypes, get.restype = [], ctypes.c_int
                set_.argtypes, set_.restype = [ctypes.c_int], None
                pools.append((get, set_))
                break
    return tuple(pools)


@contextlib.contextmanager
def _blas_threads(macs: int):
    """Run the ``with`` body's GEMM of ``macs`` multiply-adds on one
    OpenBLAS thread when ``macs < _BLAS_SPLIT_MACS``, and restore every
    pool's thread count on exit, also on an exception. One lock is held
    across get, set, GEMM and restore, and a larger GEMM holds it too,
    so no GEMM starts inside another thread's one-thread window and two
    drives on one session never leave the process at one thread. A
    no-op without OpenBLAS."""
    pools = _openblas()
    if not pools:
        yield
        return
    with _BLAS_LOCK:
        if macs >= _BLAS_SPLIT_MACS:
            yield
            return
        before = [get() for get, _ in pools]
        for _, set_ in pools:
            set_(1)
        try:
            yield
        finally:
            for (_, set_), n in zip(pools, before):
                set_(n)


def _score(X, m):
    """Nearest centroid position of every row of X, and its score:
    argmax(X·Cᵀ − bias), ties → lowest position (== lowest cid). The
    module's one GEMM: below ``_BLAS_SPLIT_MACS`` multiply-adds it runs
    on one OpenBLAS thread (:func:`_blas_threads`), above it on the
    pool as numpy sets it."""
    with _blas_threads(len(X) * m["C"].size):
        s = X @ m["C"].T
    s -= m["bias"]
    best = np.argmax(s, axis=1)
    return best, s[np.arange(len(X)), best]


def _accumulate(X, pos, k: int):
    """Per-centroid (sums, counts) of the rows of X, row i folded into
    centroid ``pos[i]``. A k-iteration mask loop: a probe measured it
    fastest and bit-stable (1.9 ms at 10k×64, k=10; np.add.at 7.3 ms,
    reduceat 5.6 ms, one-hot GEMM 2.5 ms)."""
    sums = np.zeros((k, X.shape[1]))
    counts = np.zeros(k, dtype="int64")
    for j in range(k):
        members = X[pos == j]
        sums[j] = members.sum(axis=0)
        counts[j] = len(members)
    return sums, counts


def _list_column(rows):
    """The rows of an n×d array as an Arrow list<double> column."""
    import pyarrow as pa

    n, d = rows.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype="int32"))
    return pa.ListArray.from_arrays(offsets, pa.array(rows.ravel()))


def _fold(table, cids, d: int):
    """Driver side: the per-centroid (sums, counts) of an Arrow table of
    (cid, psum, n) partials, row j ↔ cids[j]. One ``np.add.at`` per
    column adds the rows in arrival order, so the sums are those of a
    row-by-row loop, bit for bit."""
    by_cid = np.argsort(cids)
    j = by_cid[np.searchsorted(cids, table.column("cid").to_numpy(), sorter=by_cid)]
    psum = table.column("psum").combine_chunks().flatten()
    sums = np.zeros((len(cids), d))
    counts = np.zeros(len(cids), dtype="int64")
    np.add.at(sums, j, psum.to_numpy().reshape(len(j), d))
    np.add.at(counts, j, table.column("n").to_numpy())
    return sums, counts


def _stats_rows(m, batches):
    """Per-partition (cid, psum, n) partials, k rows per partition: the
    embeddings' per-centroid (sums, counts) under model ``m``, folded
    batch by batch in arrival order — the map-side combine that makes
    an iteration shuffle-free, and the one copy of the assign-and-sum
    math, run in a worker and on the driver (:meth:`_FitInput.stats`)."""
    import pyarrow as pa

    k, d = m["C"].shape
    sums = np.zeros((k, d))
    counts = np.zeros(k, dtype="int64")
    for b in batches:
        X = _decode(b, d)
        s, c = _accumulate(X, _score(X, m)[0], k)
        sums += s
        counts += c
    yield pa.RecordBatch.from_pydict(
        {"cid": m["cids"].astype("int32"), "psum": _list_column(sums), "n": counts}
    )


def _assign_rows(m, batches):
    """(vec_id, cluster_id) of every row under model ``m``."""
    import pyarrow as pa

    for b in batches:
        best, _ = _score(_decode(b, m["C"].shape[1]), m)
        yield pa.RecordBatch.from_pydict(
            {
                "vec_id": b.column("vec_id").cast(pa.int64()),
                "cluster_id": m["cids"][best].astype("int32"),
            }
        )


def _d2(X, m):
    """Squared Euclidean distance to the nearest centre of a Euclidean
    model: ||x||² − 2·(x·c − ||c||²/2) == ||x − c||², for any input."""
    return np.maximum(0.0, (X * X).sum(axis=1) - 2.0 * _score(X, m)[1])


def _accept(ids, d2, ell, denom, salt):
    """The k-means|| acceptance test, u < min(1, ell·d²/denom), with u
    drawn from a deterministic splitmix-style hash of (vec_id, salt).
    Nothing passes when denom is 0 (every d² is then 0)."""
    h = (
        (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ salt
    ) * np.uint64(0xBF58476D1CE4E5B9)
    u = (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    p = np.minimum(1.0, float(ell) * d2 / denom) if denom > 0 else d2 * 0
    return u < p


def _round_rows(m, batches):
    """One k-means|| round over a partition: a (vec_id, d2, embedding)
    row for every row that passes :func:`_accept` under the partition's
    running Σd² (summed batch by batch, each batch tested after its own
    sum is added), then one row carrying the partition's Σd² in
    ``cost``."""
    import pyarrow as pa

    d = m["C"].shape[1]
    ell, salt = m["ell"], m["salt"]
    total = 0.0
    for b in batches:
        X = _decode(b, d)
        d2 = _d2(X, m)
        total += float(d2.sum())
        ids = b.column("vec_id").to_numpy(zero_copy_only=False)
        keep = _accept(ids, d2, ell, total, salt)
        yield pa.RecordBatch.from_pydict(
            {
                "cost": pa.nulls(int(keep.sum()), pa.float64()),
                "vec_id": ids[keep].astype("int64"),
                "d2": d2[keep],
                "embedding": _list_column(X[keep]),
            }
        )
    yield pa.RecordBatch.from_pydict(
        {
            "cost": [total],
            "vec_id": pa.nulls(1, pa.int64()),
            "d2": pa.nulls(1, pa.float64()),
            "embedding": pa.nulls(1, pa.list_(pa.float64())),
        }
    )


def _reassign_rows(m, batches):
    """REASSIGNMENT-aware streaming combiner (the reference
    co-operator's Feature add/remove arithmetic, SURVEY.md §1.1/§3.1
    [PK]): every arrival is added to its nearest centroid and removed
    from its previous cluster — ``old_cid`` (the batch LEFT JOINED
    against the assignment state; null when never seen) for a point's
    first copy in the partition, the cluster its previous copy just
    joined for a later one. That is the sequential overlay's semantics,
    vectorized through each row's previous-occurrence index over the
    whole partition (the caller co-locates every copy of a vec_id).
    Emits kind=0 rows — k (cid, psum, n) delta partials, possibly
    negative, each with the ``rows`` that arrived into its cluster, so
    the partition's arrival count rides in the same rows — and kind=1
    rows — ONE (vec_id, cid) per distinct vec_id, its last copy's
    cluster, written to the next state generation in Spark (two rows
    for one point would fan out the next join)."""
    import pyarrow as pa

    cids = m["cids"]
    k, d = m["C"].shape
    sums = np.zeros((k, d))
    counts = rows = np.zeros(k, dtype="int64")
    batches = [b for b in batches if b.num_rows]
    out_ids = out_cids = np.zeros(0, dtype="int64")
    if batches:
        b = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
        X = _decode(b, d)
        ids = b.column("vec_id").to_numpy()
        best, _ = _score(X, m)
        old = b.column("old_cid")
        has_old = old.is_valid().to_numpy(zero_copy_only=False)
        old = old.fill_null(int(cids[0])).to_numpy()
        by_cid = np.argsort(cids)
        old_pos = by_cid[np.searchsorted(cids, old, sorter=by_cid).clip(max=k - 1)]
        if (cids[old_pos] != old).any():
            raise ValueError(f"old_cid: {sorted(set(old) - set(cids))} not in cids")
        # Previous copy of each row's vec_id, in arrival order.
        srt = np.argsort(ids, kind="stable")
        same = ids[srt[1:]] == ids[srt[:-1]]
        repeat = np.zeros(len(ids), dtype=bool)
        repeat[srt[1:]] = same
        prev = np.zeros(len(ids), dtype=np.intp)
        prev[srt[1:]] = srt[:-1]
        removed = repeat | has_old
        sums, rows = _accumulate(X, best, k)
        rm_sums, rm_counts = _accumulate(
            X[removed], np.where(repeat, best[prev], old_pos)[removed], k
        )
        sums -= rm_sums
        counts = rows - rm_counts
        last = srt[np.append(~same, True)]
        out_ids, out_cids = ids[last], cids[best[last]]
    m_out = len(out_ids)
    yield pa.RecordBatch.from_pydict(
        {
            "kind": np.repeat(np.array([0, 1], dtype="int32"), [k, m_out]),
            "vec_id": np.append(np.zeros(k, dtype="int64"), out_ids),
            "cid": np.append(cids, out_cids).astype("int32"),
            "psum": pa.concat_arrays(
                [_list_column(sums), pa.nulls(m_out, pa.list_(pa.float64()))]
            ),
            "n": np.append(counts, np.zeros(m_out, dtype="int64")),
            "rows": np.append(rows, np.zeros(m_out, dtype="int64")),
        }
    )


@contextlib.contextmanager
def _reassign_pass(joined: DataFrame, C, cids, euclidean: bool = False):
    """One tracked ``StreamingKMeans`` batch through
    :func:`_reassign_rows`, in one worker pass. ``joined`` is the
    batch's (vec_id, embedding) rows LEFT JOINED against the assignment
    state, the state's cid renamed ``old_cid``. Yields ``(delta,
    assignments)``: the batch's per-centroid (sums, counts), possibly
    negative, folded by :func:`_fold`, or None when no row arrived; and
    the (vec_id, cid) rows of the next state generation as a DataFrame
    over the pass. The pass is persisted, so the fold and the caller's
    one action on ``assignments`` run it once; its cache and side file
    go when the ``with`` block ends, so act on ``assignments`` inside
    it."""
    with _ModelFile() as model:
        model.publish(C, cids, euclidean)
        # Co-locate every copy of a vec_id in ONE combiner partition
        # (review r6): a broadcast state join keeps the scan
        # partitioning, and a duplicate spanning two splits would be
        # removed twice and commit two state rows. Order among copies
        # is moot: a re-arrival carries the same vector, so argmax
        # agrees.
        out = _kernel_pass(
            joined.repartition("vec_id"), _reassign_rows, _DELTA_SCHEMA, model
        ).persist()
        try:
            partials = out.where(F.col("kind") == 0).toArrow()
            arrived = partials.column("rows").to_numpy().sum()
            delta = _fold(partials, cids, C.shape[1]) if arrived else None
            yield delta, out.where(F.col("kind") == 1).select("vec_id", "cid")
        finally:
            out.unpersist()


# -- where a fit's passes run ------------------------------------------

# Embedding values of the largest input whose kernel passes run on the
# driver: 20k rows at d=64, 10 MB as float64. A budget in values, not
# rows, because both paths cost in proportion to rows x d. Measured per
# untracked micro-batch (StreamingKMeans._delta, one pass) of float32
# points in one parquet file, local[4] on a shared 4-vCPU host, median
# of 5 (driver path = bounded toArrow + kernel; executor path =
# mapInArrow + collect):
#     d=16:  20k rows 0.08 vs 0.20 s,  80k 0.15 vs 0.19 s, 160k 0.22 vs 0.20 s
#     d=64:   2k rows 0.06 vs 0.17 s,  20k 0.12 vs 0.20 s,  80k 0.25 vs 0.25 s
#     d=256: 2.5k rows 0.11 vs 0.19 s,  5k 0.12 vs 0.20 s,  20k 0.27 vs 0.25 s
# Break-even lies between 2M and 5M values at every d, so at 1.28M the
# driver path still wins by 0.08-0.12 s. The size estimate that guards
# the collect (_plan_bytes and the element type) reads in about 2 ms;
# the collect alone, wasted on an input it finds too large, costs
# 0.04-0.06 s.
# A batch fit (k-means|| init + 6 Lloyd iterations, k=16) makes 12
# passes over its input, so the same budget should be conservative
# there. Measured per fit of clustered float32 points in one parquet
# file of 4 row groups, local[4], median of 3 (driver path forced by a
# large budget vs executor path):
#     d=64: 20k rows 1.9 vs 8.3 s,  80k 3.0 vs 8.3 s,  320k 10.8 vs 12.8 s
#     d=2:  80k rows 3.1 vs 9.3 s, 640k 7.5 vs 8.4 s, 2.56M 26.2 vs 18.0 s
# At d=64 the driver fit still wins at 16x the budget; at d=2, where
# the cost goes per row, break-even lies between 1.28M and 5.1M values,
# as it does for one pass, and the budget still wins by 0.9 s.
_DRIVER_ELEMS = 1_280_000


def _plan_bytes(df: DataFrame) -> int:
    """The size estimate of ``df``'s analyzed plan, read without running
    a job (or the optimizer: 0.9 ms against 3.7 ms). For a file source
    it is the bytes of the input files; inside foreachBatch the batch's
    LogicalRDD carries its source plan's estimate. A source that
    reports none gives spark.sql.defaultSizeInBytes (Long.MaxValue)."""
    stats = df._jdf.queryExecution().analyzed().stats()
    return int(str(stats.sizeInBytes()))


# The gate's one slot: (weak reference to the DataFrame it last
# admitted, its width d, its table). Replaced by one assignment and read
# once into a local, so concurrent drives at worst miss it.
_admitted = None


def _forget(ref) -> None:
    """Empty the slot when its DataFrame dies: keep no dead input's rows."""
    global _admitted
    slot = _admitted
    if slot is not None and slot[0] is ref:
        _admitted = None


def _driver_table(df: DataFrame, d: int | None = None):
    """``df``'s (vec_id, embedding) rows as one Arrow table, sorted by
    vec_id, when they hold at most ``_DRIVER_ELEMS`` embedding values of
    width ``d``, else None: the one gate between the driver path and
    the mapInArrow path.

    The size is read in two steps. First the plan's size estimate
    (:func:`_plan_bytes`, no job) rejects an input whose files hold
    more than twice the bytes of ``_DRIVER_ELEMS`` values; a value
    takes about its type's width in a parquet file, a bit more with
    the other columns and the footer, so twice it is slack. Only an
    input that may be small pays the collect, ``limit(rows + 1)`` with
    ``rows = _DRIVER_ELEMS // d`` collected with ``toArrow()`` after
    ``coalesce(1)``: one JVM-only job of one task that reads the input's
    splits in turn and stops at ``rows + 1`` rows, with no shuffle; its
    result is the table the driver folds.
    An input that passes the estimate but holds more than ``rows`` rows
    (values that compress better than 2:1) pays the collect and then
    the mapInArrow path. The row count itself has no free source:
    inside foreachBatch the batch is a LogicalRDD, whose
    ``inputFiles()`` is empty.

    ``d=None`` (k-means|| init, which has no model yet) first reads the
    width of one row, a one-row JVM-only job: a row cap without the
    width would not bound the values collected.

    The rows are sorted by vec_id (the collect returns them in split
    order), so a fit does not depend on how its input is split. While
    the DataFrame object lives, the gate keeps the table it admitted
    last (``_admitted``): init, Lloyd and an assignment on that very
    object get it back with no job and no plan analysis, or None when it
    exceeds the budget in force (at the caller's ``d``, else its own), as
    a new read would. Any other object, even of the same path, reads."""
    import weakref

    global _admitted
    slot = _admitted
    if slot is not None and slot[0]() is df:
        d = slot[1] if d is None else d
        rows = _DRIVER_ELEMS // d if d > 0 else 0
        return slot[2] if rows and slot[2].num_rows <= rows else None
    sel = df.select(*_FIT_COLS)
    element = sel.schema["embedding"].dataType.elementType.typeName()
    width = 4 if element == "float" else 8
    if _plan_bytes(df) > 2 * width * _DRIVER_ELEMS:
        return None
    if d is None:
        first = df.select(F.size("embedding")).limit(1).collect()
        d = first[0][0] if first else 1  # no rows: any width collects none
    rows = _DRIVER_ELEMS // d if d and d > 0 else 0  # 0: a null first row
    if not rows:
        return None
    table = sel.coalesce(1).limit(rows + 1).toArrow()
    if table.num_rows > rows:
        return None
    import pyarrow.compute as pc

    ids = table.column("vec_id")
    # A stable sort of a sorted column is the identity, and a 20k-row
    # sort costs 9-15 ms: sort only when out of order.
    if not pc.all(pc.less_equal(ids[:-1], ids[1:]), skip_nulls=False).as_py():
        table = table.sort_by("vec_id")
    table = table.combine_chunks()
    _admitted = (weakref.ref(df, _forget), d, table)
    return table


class _FitInput:
    """One fit's (vec_id, embedding) input — or one untracked
    StreamingKMeans micro-batch's — and the one place its kernel passes
    run, chosen once by :func:`_driver_table` (``d``: the model width,
    or None to probe it).

    Within the budget, ``batches`` holds the gate's vec_id-sorted table
    as one Arrow batch, and every pass calls its body on the driver.
    Otherwise every pass is a :func:`_kernel_pass` over the cached
    input, planned once and re-collected with the model published to
    the side file.
    An input the caller cached (``storageLevel``) is used as is and
    left cached, so a caller that fits twice on one input builds one
    cache; any other is cached for the ``with`` block when ``cache`` (a
    one-pass caller gains nothing from a cache)."""

    def __init__(self, embeddings: DataFrame, d: int | None = None, cache: bool = True):
        table = _driver_table(embeddings, d)
        self.batches = None if table is None else table.to_batches()
        self._spark = embeddings.sparkSession
        self._input = embeddings
        self._cache = cache

    def __enter__(self):
        if self.batches is None:
            self._own = self._cache and self._input.storageLevel == StorageLevel.NONE
            self._cached = self._input.select(*_FIT_COLS)
            if self._own:
                self._cached = self._cached.persist()
            self._model = _ModelFile()
            self._passes = {}
        return self

    def __exit__(self, *exc):
        if self.batches is None:
            self._model.__exit__(*exc)
            if self._own:
                self._cached.unpersist()

    def _pass(self, body, cols, schema, **model):
        """Publish the model; return the pass of ``body`` over the
        cached input, planned on first use."""
        self._model.publish(**model)
        if body not in self._passes:
            self._passes[body] = _kernel_pass(
                self._cached.select(*cols), body, schema, self._model
            )
        return self._passes[body]

    def seed(self):
        """The lowest-vec_id row as a 1×d matrix, or None when empty."""
        if self.batches is not None:
            b = next((b for b in self.batches if b.num_rows), None)
            if b is None:
                return None
            first = b.slice(0, 1)  # a null one raises in _decode
            return _decode(first, len(first.column("embedding")[0].as_py() or ()))
        rows = self._cached.orderBy("vec_id").limit(1).collect()
        return np.array([list(rows[0].embedding)], dtype="float64") if rows else None

    def _rows(self, body, cols, schema, **model):
        """``body``'s rows under ``model`` as one Arrow table, partitions
        in order: run over ``batches`` on the driver, else the pass over
        the cached input (its ``cols``, output ``schema``)."""
        import pyarrow as pa

        if self.batches is not None:
            return pa.Table.from_batches(list(body(_model(**model), self.batches)))
        return self._pass(body, cols, schema, **model).toArrow()

    def stats(self, C, cids, euclidean=False):
        """Per-centroid (sums, counts) of the input under (C, cids)."""
        # select("embedding"): an opaque mapInArrow defeats column
        # pruning (guide §4.1), and the stats body never reads vec_id.
        table = self._rows(
            _stats_rows, ("embedding",), _STATS_SCHEMA,
            C=C, cids=cids, euclidean=euclidean,
        )
        return _fold(table, cids, C.shape[1])

    def round(self, C, ell, salt):
        """One k-means|| round's rows (:func:`_round_rows`) as one Arrow
        table, partitions in order."""
        return self._rows(
            _round_rows, _FIT_COLS, _ROUND_SCHEMA,
            C=C, cids=np.arange(len(C)), euclidean=True, ell=ell, salt=salt,
        )

    def assign(self, C, cids, euclidean=False) -> DataFrame:
        """(vec_id, cluster_id) of every row under (C, cids), depending
        on no side file and no cache: a local frame built from the
        driver's rows, or the combiner pass materialized BEFORE its
        side file goes, so a caller's action never recomputes from it
        (nor from an input the caller drops afterwards)."""
        import pyarrow as pa

        if self.batches is not None:
            out = _assign_rows(_model(C, cids, euclidean), self.batches)
            schema = pa.schema([("vec_id", pa.int64()), ("cluster_id", pa.int32())])
            return self._spark.createDataFrame(
                pa.Table.from_batches(list(out), schema=schema)
            )
        return self._pass(
            _assign_rows, _FIT_COLS, _CLUSTER_ID_SCHEMA,
            C=C, cids=cids, euclidean=euclidean,
        ).localCheckpoint(eager=True)


def lloyd_iterate(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 10,
    max_iter: int = 20,
    tol: float = 1e-6,
    init=None,
    euclidean: bool = False,
) -> DataFrame:
    """Full Lloyd's to convergence; returns final (vec_id, cluster_id).

    Scale shape: within the driver budget the whole loop runs on the
    driver from one bounded collect (:class:`_FitInput`), or from none
    when the gate already read this same ``embeddings`` object, as
    :func:`kmeans_parallel_init` on it does. Above it,
    each iteration is ONE narrow kernel pass over the cached
    embeddings, combined map-side into k partial (sum, count) rows per
    partition — only k×P tiny rows reach the driver, with no shuffle.
    The pass is planned once and re-collected every round; only the
    side file's matrix changes (SURVEY.md §7 hard-part 1).
    """
    # init: e.g. kmeans_parallel_init's (k×d matrix, cids) pair.
    C, cids = init if init is not None else first_k_init(embeddings, k)
    C, cids = np.array(C, dtype="float64"), np.array(cids)

    with _FitInput(embeddings, C.shape[1]) as fit:
        for _ in range(max_iter):
            sums, counts = fit.stats(C, cids, euclidean)
            new_C = C.copy()  # empty cluster keeps its previous centroid
            nz = counts > 0
            new_C[nz] = sums[nz] / counts[nz, None]
            shift = float(np.abs(new_C - C).max())
            C = new_C
            if shift < tol:
                break
        return fit.assign(C, cids, euclidean)


def assign_fitted(embeddings: DataFrame, C, cids, euclidean: bool = False) -> DataFrame:
    """(vec_id, cluster_id) of every row under a fitted model (k×d C,
    row j ↔ cids[j]): one kernel pass (:meth:`_FitInput.assign`)."""
    C = np.array(C, dtype="float64")
    with _FitInput(embeddings, C.shape[1], cache=False) as fit:
        return fit.assign(C, np.array(cids), euclidean)


# Shared DuckDB oracle CTE: one Lloyd assignment step (ten seed
# centroids by lowest vec_id, argmax dot with cid tie-break). Lives
# HERE — a non-registering module — so plans modules (ml, llm,
# quality) can share it without firing each other's @register calls
# mid-import, which would shift the correctness window (registry.py
# rotation invariant; review r6). The dot product is bit-identical to
# Spark's dot64 (float->double exact products, sequential
# left-to-right sum — verified over all 5000 pairs at sf0.01), so the
# argmax ranking agrees exactly.
ASSIGN_CTE = """
    WITH emb AS (
        -- a NULL or non-finite embedding cannot participate in vector
        -- ops: the contract twin of the NULL-ts window filter (a
        -- NULL-only centroid made c1 a NULL-element list and crashed
        -- DuckDB's list_inner_product in q_ml_kmeans_iter2,
        -- NULL-embeddings sweep r6; a NaN element forked every dot
        -- downstream, NaN/Inf sweep r6). vec_id IS NOT NULL (r7
        -- NULL-entity-id probe): in k-means the id IS the entity key
        -- (centroid init order, assignment state) — a NULL id made
        -- Spark's ORDER BY LIMIT k (ASC NULLS FIRST) elect a
        -- NULL-cid centroid that DuckDB's NULLS LAST never saw.
        -- Spark sides filter isNotNull & emb_finite in lockstep.
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id IS NOT NULL AND {fin}
    ), c AS (
        SELECT vec_id AS cid, embedding AS cemb
        FROM emb ORDER BY vec_id LIMIT 10
    ), scored AS (
        SELECT e.vec_id, e.embedding, c.cid,
               list_inner_product(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) AS dot
        FROM emb e CROSS JOIN c
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dot DESC, cid) AS rn
        FROM scored
    )
""".replace("{fin}", sql_emb_finite("embedding"))
