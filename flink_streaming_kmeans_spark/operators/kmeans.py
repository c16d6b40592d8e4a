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
  ``lloyd_iterate`` and ``streaming.kmeans.StreamingKMeans``: ONE
  Arrow-native kernel — :func:`_decode` (zero-copy embedding matrix),
  :func:`_score` (argmax X·Cᵀ − bias) and :func:`_accumulate`
  (per-centroid partial sums) — run by thin ``mapInArrow`` combiners,
  and folded by :func:`_partials` both in a worker and on the driver
  (StreamingKMeans's small-batch path), from one :func:`_model` dict.
  A k-means|| round is one pass too: :func:`_round_combiner` returns a
  partition's Σd² with the rows that pass :func:`_accept` under its
  running Σd², a superset of the exact sample that the driver re-tests
  with the true sum.
  The model reaches every combiner through one side file
  (:class:`_ModelFile`), so each driver loop plans its passes once and
  only the k×d matrix changes between rounds: constant-size plans, no
  literal or lineage growth (SURVEY.md §7 hard-part 1).

Embeddings are unit-normalized (SURVEY.md §1.3), so dot product ==
cosine similarity; "nearest" = argmax dot, tie-broken on lowest
cluster id for determinism. k-means|| init ranks by exact Euclidean
distance instead, so it seeds unit and raw-coordinate inputs alike.
"""

from __future__ import annotations

import contextlib
import os
import uuid
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vector import dot64, sql_emb_finite
from ..session import scratch_path

_STATS_SCHEMA = "cid int, psum array<double>, n bigint"
_DELTA_SCHEMA = "kind int, vec_id bigint, cid int, psum array<double>, n bigint"
_ROUND_SCHEMA = "cost double, vec_id bigint, d2 double, embedding array<double>"
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

    Each of 4 rounds is ONE pass of :func:`_round_combiner`, planned
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
    nearest-point count: 6 jobs in all. The reduce (:func:`_reduce`) is
    deterministic, with no restarts: a weighted farthest-first
    traversal (Gonzalez, TCS 1985) seeded at the heaviest candidate,
    then weighted Lloyd rounds over the candidates.

    Returns a (k×d numpy array, cids array) pair compatible with
    lloyd_iterate's internals / StreamingKMeans; fewer than k rows when
    the input has fewer than k distinct points.
    """
    ell = 2 * k
    cached = embeddings.select("vec_id", "embedding").persist()
    try:
        seed_rows = cached.orderBy("vec_id").limit(1).collect()
        if not seed_rows:
            # k-means needs at least one point; a bare IndexError here
            # (or a numpy shape error deep in a worker) hid the actual
            # problem.
            raise ValueError("kmeans_parallel_init: embeddings table is empty")
        C = np.array([list(seed_rows[0].embedding)], dtype="float64")
        with _ModelFile() as model:
            round_df = cached.mapInArrow(
                partial(_round_combiner, model.path), _ROUND_SCHEMA
            )
            weight_df = cached.select("embedding").mapInArrow(
                partial(_stats_combiner, model.path), _STATS_SCHEMA
            )
            for rnd in range(_ROUNDS):
                salt = np.uint64(rnd * 1_000_003 + seed)
                model.publish(C, np.arange(len(C)), euclidean=True, ell=ell, salt=salt)
                rows = round_df.collect()
                denom = sum(r.cost for r in rows if r.cost is not None)
                if denom <= 0:
                    break
                hits = [r for r in rows if r.cost is None]
                keep = _accept(
                    np.array([r.vec_id for r in hits], dtype="int64"),
                    np.array([r.d2 for r in hits], dtype="float64"),
                    ell, denom, salt,
                )
                C = np.vstack(
                    [C] + [np.array(r.embedding, dtype="float64")
                           for r, kept in zip(hits, keep) if kept]
                )
            # Weight candidates by nearest-point counts (one more pass).
            cand = np.arange(len(C))
            model.publish(C, cand, euclidean=True)
            w = _fold_partials(weight_df.collect(), cand, C.shape[1])[1].astype(float)
    finally:
        cached.unpersist()

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
    """The one channel by which a model reaches the combiners: an npz
    side file each task loads at start. Everything that varies per
    call (C, cids, the Euclidean flag, k-means||'s ell/salt) goes
    in it, so a loop plans its DataFrames ONCE and re-collects them
    every round (r13: re-planning cost ~150 ms per Lloyd round).
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


def _score(X, m):
    """Nearest centroid position of every row of X, and its score:
    argmax(X·Cᵀ − bias), ties → lowest position (== lowest cid)."""
    s = X @ m["C"].T - m["bias"]
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


def _fold_partials(rows, cids, d: int):
    """Driver side: sum per-partition (cid, psum, n) partials into k×d
    sums and k counts, row j ↔ cids[j]."""
    pos = {int(c): j for j, c in enumerate(cids)}
    sums = np.zeros((len(cids), d))
    counts = np.zeros(len(cids), dtype="int64")
    for r in rows:
        j = pos[int(r.cid)]
        sums[j] += np.array(r.psum)
        counts[j] += int(r.n)
    return sums, counts


def _partials(batches, m):
    """Per-centroid (sums, counts) of the Arrow batches' embeddings
    under model ``m``, folded batch by batch in arrival order — the one
    copy of the assign-and-sum math, run by :func:`_stats_combiner` in
    a worker and by ``StreamingKMeans`` on the driver."""
    k, d = m["C"].shape
    sums = np.zeros((k, d))
    counts = np.zeros(k, dtype="int64")
    for b in batches:
        X = _decode(b, d)
        s, c = _accumulate(X, _score(X, m)[0], k)
        sums += s
        counts += c
    return sums, counts


def _stats_combiner(path, batches):
    """Per-partition (cid, psum, n) partials, k rows per partition —
    the map-side combine that makes an iteration shuffle-free."""
    import pyarrow as pa

    m = _load_model(path)
    sums, counts = _partials(batches, m)
    yield pa.RecordBatch.from_pydict(
        {"cid": m["cids"].astype("int32"), "psum": _list_column(sums), "n": counts}
    )


def _assign_combiner(path, batches):
    """(vec_id, cluster_id) of every row."""
    import pyarrow as pa

    m = _load_model(path)
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


def _round_combiner(path, batches):
    """One k-means|| round over a partition: a (vec_id, d2, embedding)
    row for every row that passes :func:`_accept` under the partition's
    running Σd² (summed batch by batch, each batch tested after its own
    sum is added), then one row carrying the partition's Σd² in
    ``cost``."""
    import pyarrow as pa

    m = _load_model(path)
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


def _reassign_combiner(path, batches):
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
    negative — and kind=1 rows — ONE (vec_id, cid) per distinct vec_id,
    its last copy's cluster, written to the next state generation in
    Spark (two rows for one point would fan out the next join)."""
    import pyarrow as pa

    m = _load_model(path)
    cids = m["cids"]
    k, d = m["C"].shape
    sums = np.zeros((k, d))
    counts = np.zeros(k, dtype="int64")
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
        sums, counts = _accumulate(X, best, k)
        rm_sums, rm_counts = _accumulate(
            X[removed], np.where(repeat, best[prev], old_pos)[removed], k
        )
        sums -= rm_sums
        counts -= rm_counts
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
        }
    )


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

    Scale shape: each iteration is ONE narrow kernel pass over the
    cached embeddings, combined map-side into k partial (sum, count)
    rows per partition — only k×P tiny rows reach the driver, with no
    shuffle. The pass is planned once and re-collected every round;
    only the side file's matrix changes (SURVEY.md §7 hard-part 1).
    """
    # init: e.g. kmeans_parallel_init's (k×d matrix, cids) pair.
    C, cids = init if init is not None else first_k_init(embeddings, k)
    C, cids = np.array(C, dtype="float64"), np.array(cids)

    cached = embeddings.select("vec_id", "embedding").persist()
    try:
        with _ModelFile() as model:
            # select("embedding"): an opaque mapInArrow defeats column
            # pruning (guide §4.1), and the combiner never reads vec_id.
            iter_df = cached.select("embedding").mapInArrow(
                partial(_stats_combiner, model.path), _STATS_SCHEMA
            )
            for _ in range(max_iter):
                model.publish(C, cids, euclidean)
                sums, counts = _fold_partials(iter_df.collect(), cids, C.shape[1])
                new_C = C.copy()  # empty cluster keeps its previous centroid
                nz = counts > 0
                new_C[nz] = sums[nz] / counts[nz, None]
                shift = float(np.abs(new_C - C).max())
                C = new_C
                if shift < tol:
                    break
        return assign_fitted(cached, C, cids, euclidean)
    finally:
        cached.unpersist()


def assign_fitted(embeddings: DataFrame, C, cids, euclidean: bool = False) -> DataFrame:
    """(vec_id, cluster_id) of every row under a fitted model (k×d C,
    row j ↔ cids[j]): one kernel pass, materialized BEFORE its side
    file goes, so a caller's action never recomputes from it (nor from
    an input the caller drops afterwards)."""
    with _ModelFile() as model:
        model.publish(C, cids, euclidean)
        return embeddings.select("vec_id", "embedding").mapInArrow(
            partial(_assign_combiner, model.path),
            "vec_id bigint, cluster_id int",
        ).localCheckpoint(eager=True)


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
