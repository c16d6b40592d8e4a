"""K-means correctness (SURVEY §5.2.2, adapted to the measured data).

IMPORTANT data fact (measured, 2026-08-13): the synthetic embeddings'
ground-truth labels are NOT recoverable by cosine k-means — even
initializing from the TRUE per-label mean centroids, Lloyd's converges
to ~0.30 purity at sf0.01 (~0.17 at sf0.1); intra-label mean cosine is
0.021 vs 0.0003 inter — the clusters are barely above noise. The
survey's "purity >= 0.95" bar is therefore impossible on this data for
ANY k-means implementation. The meaningful correctness checks are:

1. the distributed Lloyd's loop agrees with a local numpy reference
   implementation (same init, same update rule) — >= 99% identical
   assignments (tiny float-summation-order slack);
2. the distributed result beats the oracle-init purity's random
   baseline and is deterministic across runs;
3. MLlib KMeans runs on the same vectors (API parity smoke).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from conftest import SF_SMOKE
from flink_streaming_kmeans_spark.session import scoped_confs

pytestmark = pytest.mark.slow  # slow lane — see pytest.ini



def _load_xy(spark, sf_dir):
    from flink_streaming_kmeans_spark.sources.loader import load_table

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    y = np.array([r.label for r in rows])
    ids = np.array([r.vec_id for r in rows])
    return X, y, ids


def _numpy_lloyd(X, ids, k=10, max_iter=20, tol=1e-6):
    """Reference implementation mirroring operators/kmeans.lloyd_iterate."""
    order = np.argsort(ids)[:k]
    cids = ids[order].astype(int)
    C = X[order].copy()
    for _ in range(max_iter):
        best = np.argmax(X @ C.T, axis=1)
        new_C = C.copy()
        for j in range(k):
            m = best == j
            if m.any():
                new_C[j] = X[m].mean(axis=0)
        if np.abs(new_C - C).max() < tol:
            C = new_C
            break
        C = new_C
    best = np.argmax(X @ C.T, axis=1)
    return dict(zip(ids.tolist(), cids[best].tolist()))


def test_iter_matches_numpy_reference(spark, registry):
    queries, _ = registry
    X, y, ids = _load_xy(spark, SF_SMOKE)
    expected = _numpy_lloyd(X, ids)
    got = {
        r.vec_id: r.cluster_id
        for r in queries["q_ml_kmeans_iter"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    agree = sum(got[v] == expected[v] for v in got) / len(got)
    assert agree >= 0.99, f"only {agree:.3f} agreement with numpy reference"


def test_kernel_partials_bit_equal_numpy(spark):
    """The one k-means kernel (decode → argmax(X·Cᵀ − bias) → mask-loop
    sums) run as the Lloyd/streaming combiner must give partials
    BIT-equal to a driver-side numpy computation in the same order:
    per partition, per Arrow batch, per cluster mask — or the Arrow
    decode or the side-file model would silently change which Lloyd
    fixpoint the loop reaches. Small Arrow batches put several batches
    in every partition; both metrics are checked."""
    from flink_streaming_kmeans_spark.functions.vector import emb_finite
    from flink_streaming_kmeans_spark.operators.kmeans import (
        _STATS_SCHEMA,
        _kernel_pass,
        _ModelFile,
        _stats_rows,
        init_centroids,
    )
    from flink_streaming_kmeans_spark.sources.loader import load_table
    from pyspark.sql import functions as F

    e = (
        load_table(spark, SF_SMOKE, "embeddings")
        .where(F.col("vec_id").isNotNull() & emb_finite("embedding"))
        .select("vec_id", "embedding")
        .repartition(3, "vec_id")
        .localCheckpoint()
    )
    cent = init_centroids(e).collect()
    cids = np.array(sorted(int(r.cid) for r in cent))
    by = {int(r.cid): [float(x) for x in r.cemb] for r in cent}
    C = np.array([by[c] for c in cids])
    parts = [
        np.array([r.embedding for r in p], dtype=np.float64)
        for p in e.select("embedding").rdd.glom().collect()
    ]
    assert len(parts) == 3
    batch = 64
    with scoped_confs(
        spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": str(batch)}
    ):
        for euclidean in (False, True):
            bias = 0.5 * (C * C).sum(axis=1) if euclidean else 0.0
            with _ModelFile() as model:
                model.publish(C, cids, euclidean)
                got = _kernel_pass(
                    e.select("embedding"), _stats_rows, _STATS_SCHEMA, model
                ).collect()
            assert len(got) == len(parts) * len(cids)
            for p, X in enumerate(parts):
                sums = np.zeros_like(C)
                counts = np.zeros(len(cids), dtype="int64")
                for i in range(0, len(X), batch):
                    Xb = X[i : i + batch]
                    best = np.argmax(Xb @ C.T - bias, axis=1)
                    for j in range(len(cids)):
                        sums[j] += Xb[best == j].sum(axis=0)
                        counts[j] += int((best == j).sum())
                rows = got[p * len(cids) : (p + 1) * len(cids)]
                assert [int(r.cid) for r in rows] == cids.tolist()
                for j, r in enumerate(rows):
                    assert int(r.n) == counts[j], (euclidean, p, j)
                    assert np.array_equal(np.array(r.psum), sums[j]), (
                        f"partition {p} cid {r.cid} psum drifted"
                    )


def _blas_pools():
    """The loaded OpenBLAS pools, or a skip when none runs more than
    one thread (the thread rule is then a no-op)."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    pools = km._openblas()
    if not pools or max(get() for get, _ in pools) < 2:
        pytest.skip("no multi-thread OpenBLAS loaded")
    return pools


def _threads(pools):
    return [get() for get, _ in pools]


@pytest.mark.parametrize("euclidean", [False, True], ids=["dot", "euclidean"])
def test_score_equals_plain_gemm_on_both_sides_of_the_split(euclidean):
    """``_score`` on either side of ``_BLAS_SPLIT_MACS`` is bit-equal to
    a plain ``X @ C.T`` argmax: a large GEMM against the product on the
    pool as numpy set it (exactly as before the rule), a small one
    against the product on one thread, which is what the rule runs (a
    1-thread and a 4-thread product may differ in the last bit). The
    positions also equal the pool's argmax."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    pools = _blas_pools()
    rng = np.random.default_rng(11)
    d, k = 64, 16
    C = rng.standard_normal((k, d))
    m = km._model(C, np.arange(k), euclidean)
    big = km._BLAS_SPLIT_MACS // (d * k) + 1
    small = km._BLAS_SPLIT_MACS // (d * k) - 1
    assert big * d * k >= km._BLAS_SPLIT_MACS > small * d * k
    before = _threads(pools)
    one = [1] * len(pools)
    for n, threads in ((big, before), (small, one), (2000, one)):
        X = rng.standard_normal((n, d))
        for (_, set_), t in zip(pools, threads):
            set_(t)
        try:
            s = X @ C.T - m["bias"]
        finally:
            for (_, set_), t in zip(pools, before):
                set_(t)
        best, score = km._score(X, m)
        want = np.argmax(s, axis=1)
        assert np.array_equal(best, want), n
        assert score.tobytes() == s[np.arange(n), want].tobytes(), n
        assert np.array_equal(best, np.argmax(X @ C.T - m["bias"], axis=1)), n
    assert _threads(pools) == before


def test_blas_thread_count_is_restored():
    """After a small GEMM the pools' thread counts are what they were:
    after one that raises inside the rule, and after small and large
    ``_score`` calls from more threads than cores at once, switching
    often (the lock spans get, set, GEMM and restore, so no thread can
    save another's one and restore it)."""
    import os
    import sys
    import threading

    from flink_streaming_kmeans_spark.operators import kmeans as km

    pools = _blas_pools()
    before = _threads(pools)
    with pytest.raises(RuntimeError):
        with km._blas_threads(1):
            assert _threads(pools) == [1] * len(pools)
            raise RuntimeError("inside the GEMM")
    assert _threads(pools) == before
    with km._blas_threads(km._BLAS_SPLIT_MACS):
        assert _threads(pools) == before

    rng = np.random.default_rng(12)
    C = rng.standard_normal((16, 64))
    m = km._model(C, np.arange(16))
    small, large = rng.standard_normal((2000, 64)), rng.standard_normal((20000, 64))
    errors = []

    def work(X):
        try:
            for _ in range(20):
                km._score(X, m)
        except Exception as e:  # surfaced below
            errors.append(e)

    n = 2 * (os.cpu_count() or 2)
    threads = [
        threading.Thread(target=work, args=(small if i % 2 else large,))
        for i in range(n)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert _threads(pools) == before


def test_small_gemms_leave_no_spinning_pool():
    """50 small ``_score`` calls 20 ms apart, the rhythm of a streaming
    trigger, use under half their wall time in process CPU. On the pool,
    each call leaves the helper threads busy-waiting ~0.1 s, so the
    process burns about one CPU-second per wall second."""
    import os
    import time

    from flink_streaming_kmeans_spark.operators import kmeans as km

    _blas_pools()
    rng = np.random.default_rng(13)
    X, C = rng.standard_normal((2000, 64)), rng.standard_normal((16, 64))
    assert len(X) * C.size < km._BLAS_SPLIT_MACS
    m = km._model(C, np.arange(16))
    t0 = os.times()
    for _ in range(50):
        km._score(X, m)
        time.sleep(0.02)
    t1 = os.times()
    cpu = (t1.user - t0.user) + (t1.system - t0.system)
    wall = t1.elapsed - t0.elapsed
    assert cpu < 0.5 * wall, f"{cpu:.2f} CPU-s in {wall:.2f} s"


def test_score_without_openblas(monkeypatch):
    """With the library lookup finding nothing (MKL, Accelerate, not
    Linux), the rule is a no-op and ``_score`` still scores."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    monkeypatch.setattr(km, "_openblas", lambda: ())
    rng = np.random.default_rng(14)
    X, C = rng.standard_normal((100, 8)), rng.standard_normal((4, 8))
    best, score = km._score(X, km._model(C, np.arange(4)))
    s = X @ C.T
    assert np.array_equal(best, np.argmax(s, axis=1))
    assert score.tobytes() == s.max(axis=1).tobytes()


def _sequential_overlay(C, cids, batches):
    """The per-row reassign overlay the vectorized combiner replaced,
    kept verbatim as the reference: each row is added to its argmax
    cluster and removed from its previous one (the overlay's value for
    a vec_id already seen in the partition, else old_cid)."""
    import pandas as pd

    k, d = C.shape
    pos = {int(c): j for j, c in enumerate(cids)}
    overlay: dict = {}
    sums = np.zeros((k, d))
    counts = np.zeros(k, dtype="int64")
    for pdf in batches:
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        olds = pdf["old_cid"].to_numpy()
        best = np.argmax(X @ C.T, axis=1)
        for i in range(len(ids)):
            vid = int(ids[i])
            j = int(best[i])
            sums[j] += X[i]
            counts[j] += 1
            old = overlay.get(vid, None if pd.isna(olds[i]) else int(olds[i]))
            if old is not None:
                jo = pos[int(old)]
                sums[jo] -= X[i]
                counts[jo] -= 1
            overlay[vid] = int(cids[j])
    return sums, counts, overlay


@pytest.mark.parametrize("seed", range(5))
def test_reassign_combiner_equals_sequential_overlay(seed):
    """The vectorized reassign combiner equals the sequential overlay
    on seeded partitions with within-partition duplicates (inside one
    Arrow batch and across batches), null old_cid, and unsorted cids.
    Counts and new assignments match exactly; the sums match to float
    rounding, because the vectorized fold subtracts removals after the
    adds instead of interleaving them row by row."""
    import pyarrow as pa

    from flink_streaming_kmeans_spark.operators.kmeans import (
        _combiner,
        _ModelFile,
        _reassign_rows,
    )

    rng = np.random.default_rng(seed)
    k, d, n = 6, 8, 400
    C = rng.standard_normal((k, d))
    cids = rng.permutation(np.arange(100, 100 + k))
    ids = rng.integers(0, 150, n)  # ~150 distinct ids in 400 rows
    X = rng.standard_normal((n, d)).astype(np.float32)
    X = X[np.unique(ids, return_inverse=True)[1]] if seed % 2 else X
    old = [None if rng.random() < 0.4 else int(rng.choice(cids)) for _ in ids]
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("old_cid", pa.int32())]
    )
    cuts = [0, 97, 98, 250, n]
    batches = [
        pa.RecordBatch.from_pydict(
            {"vec_id": ids[a:b], "embedding": [list(x) for x in X[a:b]],
             "old_cid": old[a:b]},
            schema=schema,
        )
        for a, b in zip(cuts, cuts[1:])
    ]
    ref_sums, ref_counts, ref_overlay = _sequential_overlay(
        C, cids, [b.to_pandas() for b in batches]
    )
    with _ModelFile() as model:
        model.publish(C, cids)
        out = pa.Table.from_batches(
            list(_combiner(_reassign_rows, model.path, iter(batches)))
        ).to_pylist()
    deltas = [r for r in out if r["kind"] == 0]
    assert [r["cid"] for r in deltas] == cids.tolist()
    assert [r["n"] for r in deltas] == ref_counts.tolist()
    np.testing.assert_allclose(
        np.array([r["psum"] for r in deltas]), ref_sums, rtol=0, atol=1e-9
    )
    assigned = [(r["vec_id"], r["cid"]) for r in out if r["kind"] == 1]
    assert dict(assigned) == ref_overlay
    assert len(assigned) == len(ref_overlay)  # one row per distinct vec_id


@pytest.mark.parametrize("bad", [[1.0], None], ids=["ragged", "null"])
def test_decode_rejects_ragged_and_null_embeddings(spark, tmp_path, monkeypatch, bad):
    """A flatten+reshape would silently misalign every later row on a
    wrong-length embedding (np.stack used to crash instead): the kernel
    must raise a ValueError naming the column, on both paths of the
    batch fit (k-means|| init and Lloyd) and on all three
    StreamingKMeans paths. The driver paths raise it bare on the
    driver; the worker paths wrap it in a PythonException whose text
    carries the same message. The rows go through a parquet file, as a
    replayed batch does, so the input carries the size estimate the
    driver paths need."""
    from flink_streaming_kmeans_spark.operators import kmeans as km
    from flink_streaming_kmeans_spark.streaming import kmeans as skm_mod

    rows = [(i, [1.0, float(i)]) for i in range(6)] + [(6, bad)]
    path = str(tmp_path / "batch")
    spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").coalesce(
        1
    ).write.parquet(path)
    df = spark.read.parquet(path)
    init = ([[1.0, 0.0], [0.0, 1.0]], [0, 1])
    msg = "embedding: " + (
        "row .* has 1 elements, expected 2" if bad else "1 null embedding"
    )
    want = "ValueError: " + msg

    def fits(match):
        with pytest.raises(Exception, match=match):
            km.lloyd_iterate(spark, df, k=2, max_iter=2, init=init)
        with pytest.raises(Exception, match=match):
            km.kmeans_parallel_init(df, k=2)

    fits("^" + msg)  # the driver path

    def new(track=False):
        return skm_mod.StreamingKMeans(
            *init, track_assignments=track, assign_dir=str(tmp_path / "assign")
        )

    skm = new()
    with pytest.raises(ValueError, match="^" + msg):
        skm.update_batch(df)  # the driver path
    assert skm.batches_seen == 0 and int(skm.n.sum()) == 0
    tracked = new(track=True)
    with pytest.raises(Exception, match=want):
        tracked.update_batch(df)
    assert tracked.batches_seen == 0 and int(tracked.n.sum()) == 0
    monkeypatch.setattr(km, "_DRIVER_ELEMS", 0)
    with pytest.raises(Exception, match=want):
        skm.update_batch(df)  # the executor path
    assert skm.batches_seen == 0 and int(skm.n.sum()) == 0
    fits(want)  # the executor path


def _vectors(spark, tmp_path, n, d=8, seed=0, same=False):
    """n random d-dim vectors (``same``: n copies of one) as one parquet
    file, the shape of a replayed micro-batch, and as the numpy matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, d)) / np.sqrt(d)
    if same:
        X[:] = X[0]
    path = str(tmp_path / f"vectors-{n}-{seed}-{same}.parquet")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(X.ravel()), d)
    pq.write_table(pa.table({"vec_id": np.arange(n), "embedding": emb}), path)
    return spark.read.schema("vec_id bigint, embedding array<double>").parquet(path), X


def _skm_paths(monkeypatch):
    """The streaming module, with spies on both paths of the kernel
    passes it runs: the driver side of ``_FitInput._rows`` and the
    executor path's side file."""
    from flink_streaming_kmeans_spark.operators import kmeans as km
    from flink_streaming_kmeans_spark.streaming import kmeans as skm_mod

    calls = {"driver": 0, "executor": 0}
    rows, model_file = km._FitInput._rows, km._ModelFile

    def spy_rows(fit, *a, **kw):
        calls["driver"] += fit.batches is not None
        return rows(fit, *a, **kw)

    class SpyModelFile(model_file):
        def __init__(self):
            calls["executor"] += 1
            super().__init__()

    monkeypatch.setattr(km._FitInput, "_rows", spy_rows)
    monkeypatch.setattr(km, "_ModelFile", SpyModelFile)
    return skm_mod, calls


@pytest.mark.parametrize("euclidean", [False, True], ids=["dot", "euclidean"])
def test_driver_path_partials_equal_executor_path(
    spark, tmp_path, monkeypatch, euclidean
):
    """The untracked driver path folds the same rows through the same
    kernel as the executor path: on one partition its (sums, counts)
    are bit-equal to the executor path's; across partitions the fold
    order differs, so the sums agree to 1e-12 and the counts exactly."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    skm_mod, calls = _skm_paths(monkeypatch)
    k, budget = 5, km._DRIVER_ELEMS
    one_file, X = _vectors(spark, tmp_path, 400)
    for parts in (1, 3):
        df = one_file if parts == 1 else one_file.repartition(parts)
        got = {}
        for path, b in (("driver", budget), ("executor", 0)):
            monkeypatch.setattr(km, "_DRIVER_ELEMS", b)
            skm = skm_mod.StreamingKMeans(X[:k], np.arange(k), euclidean=euclidean)
            before = dict(calls)
            skm.update_batch(df)
            assert calls[path] == before[path] + 1, (path, calls)
            got[path] = (skm.S.copy(), skm.n.copy())
        (ds, dn), (es, en) = got["driver"], got["executor"]
        assert dn.sum() == 400 and dn.tolist() == en.tolist()
        if parts == 1:
            assert ds.tobytes() == es.tobytes()
        else:
            np.testing.assert_allclose(ds, es, rtol=0, atol=1e-12)


def test_driver_gate_boundary(spark, tmp_path, monkeypatch):
    """Under a budget of ``_DRIVER_ELEMS`` values, ``_DRIVER_ELEMS // d``
    rows take the driver path and one more row the executor path; the
    same batch lands on the same centroids through the other path (one
    partition, so bit-equal). Both batches pass the no-job size
    estimate, so the row probe is what decides here."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    skm_mod, calls = _skm_paths(monkeypatch)
    k, d, gate = 4, 8, 50

    def run(df, X, rows):
        monkeypatch.setattr(km, "_DRIVER_ELEMS", rows * d)
        before = dict(calls)
        skm = skm_mod.StreamingKMeans(X[:k], np.arange(k))
        skm.update_batch(df)
        ran = [p for p in calls if calls[p] != before[p]]
        return skm.C, ran

    for n, path, other, other_gate in (
        (gate, "driver", "executor", 0),
        (gate + 1, "executor", "driver", gate + 1),
    ):
        df, X = _vectors(spark, tmp_path, n, d=d, seed=n)
        assert km._plan_bytes(df) <= 2 * 8 * gate * d, n
        C, ran = run(df, X, gate)
        assert ran == [path], (n, ran)
        C_other, ran = run(df, X, other_gate)
        assert ran == [other], (n, ran)
        assert C.tobytes() == C_other.tobytes(), n


@pytest.mark.parametrize("path", ["driver", "executor", "tracked"])
def test_empty_batch_is_not_counted(spark, tmp_path, monkeypatch, path):
    """A batch with no rows moves nothing, is not counted and commits no
    state generation, on both untracked paths and on the tracked one:
    the driver fold of no rows, the executor pass that returns k zero
    partials per partition, and the reassignment pass, whose partials
    report no arrivals, give the same answer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_streaming_kmeans_spark.operators import kmeans as km

    skm_mod, calls = _skm_paths(monkeypatch)
    if path == "executor":
        monkeypatch.setattr(km, "_DRIVER_ELEMS", 0)
    file = str(tmp_path / "empty.parquet")
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))])
    pq.write_table(schema.empty_table(), file)
    df = spark.read.schema("vec_id bigint, embedding array<double>").parquet(file)
    C = np.eye(3, 4)
    assign_dir = tmp_path / "assign"
    assign_dir.mkdir()
    skm = skm_mod.StreamingKMeans(
        C, np.arange(3), track_assignments=path == "tracked", assign_dir=str(assign_dir)
    )
    skm.update_batch(df)
    ran = "executor" if path == "tracked" else path
    assert calls == {**{"driver": 0, "executor": 0}, ran: 1}, calls
    assert skm.batches_seen == 0
    assert skm.C.tobytes() == C.tobytes() and not skm.n.any()
    assert not list(assign_dir.glob("state-v*"))


def test_driver_fold_does_not_depend_on_row_order(spark, tmp_path, monkeypatch):
    """The untracked driver path folds a batch in vec_id order, as a
    fit does: one 400-row batch written in vec_id order and written
    shuffled gives byte-equal (S, n)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    skm_mod, calls = _skm_paths(monkeypatch)
    k = 5
    ordered, X = _vectors(spark, tmp_path, 400)
    perm = np.random.default_rng(1).permutation(400)
    file = str(tmp_path / "shuffled.parquet")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(X[perm].ravel()), X.shape[1])
    pq.write_table(pa.table({"vec_id": perm, "embedding": emb}), file)
    shuffled = spark.read.schema("vec_id bigint, embedding array<double>").parquet(file)
    got = []
    for df in (ordered, shuffled):
        skm = skm_mod.StreamingKMeans(X[:k], np.arange(k))
        skm.update_batch(df)
        got.append((skm.S.tobytes(), skm.n.tobytes()))
    assert calls == {"driver": 2, "executor": 0}
    assert int(skm.n.sum()) == 400
    assert got[0] == got[1]


def _jobs_and_plans(spark, group, action):
    """Run ``action`` under job group ``group``; return the number of
    Spark jobs it ran and the physical plans of the SQL executions
    those jobs belong to."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]
    return len(jobs), plans


def test_small_untracked_update_runs_one_jvm_job(spark, tmp_path, monkeypatch):
    """A small untracked update runs exactly one Spark job, and no plan
    it executes has a Python node, so no Python worker serves it.

    Above the budget the no-job size estimate skips the probe: a batch
    whose file outweighs the budget runs only the MapInArrow job, which
    also shows the check can fail. Under the same budget, a batch of
    one repeated vector compresses below the estimate's bound, so it
    pays the probe before that job."""
    from flink_streaming_kmeans_spark.operators import kmeans as km
    from flink_streaming_kmeans_spark.streaming import kmeans as skm_mod

    df, X = _vectors(spark, tmp_path, 200)
    same, _ = _vectors(spark, tmp_path, 1000, same=True)

    def update(batch, budget):
        monkeypatch.setattr(km, "_DRIVER_ELEMS", budget)
        jobs, plans = _jobs_and_plans(
            spark,
            f"skm-update-{id(batch)}-{budget}",
            lambda: skm_mod.StreamingKMeans(X[:4], np.arange(4)).update_batch(batch),
        )
        python = [p for p in plans if "MapInArrow" in p or "Python" in p]
        return jobs, len(plans), len(python)

    assert update(df, 200 * 8) == (1, 1, 0)
    assert km._plan_bytes(df) > 2 * 8 * 100 * 8
    assert update(df, 100 * 8) == (1, 1, 1)
    assert km._plan_bytes(same) <= 2 * 8 * 100 * 8
    assert update(same, 100 * 8) == (2, 2, 1)


def test_tracked_update_job_counts(spark, tmp_path):
    """A tracked batch runs 6 Spark jobs in 2 SQL executions, for a first
    arrival and a re-arrival alike: the arrival count that tells an
    empty batch apart rides in the pass's own partial rows, at no extra
    job."""
    from flink_streaming_kmeans_spark.streaming import kmeans as skm_mod

    df, X = _vectors(spark, tmp_path, 200)
    skm = skm_mod.StreamingKMeans(
        X[:4], np.arange(4), track_assignments=True,
        assign_dir=str(tmp_path / "assign"),
    )
    got = []
    for arrival in ("first", "again"):
        jobs, plans = _jobs_and_plans(
            spark, f"tracked-{arrival}", lambda: skm.update_batch(df)
        )
        got.append((jobs, len(plans)))
    assert got == [(6, 2), (6, 2)]
    assert skm.batches_seen == 2 and int(skm.n.sum()) == 200


def test_iter_better_than_random_and_uses_k_clusters(spark, registry):
    queries, _ = registry
    X, y, ids = _load_xy(spark, SF_SMOKE)
    got = {
        r.vec_id: r.cluster_id
        for r in queries["q_ml_kmeans_iter"](spark, SF_SMOKE).collect()
    }
    labels_by_cluster = {}
    for vid, cid in got.items():
        labels_by_cluster.setdefault(cid, []).append(y[ids == vid][0])
    purity = sum(
        Counter(v).most_common(1)[0][1] for v in labels_by_cluster.values()
    ) / len(got)
    assert len(labels_by_cluster) >= 5  # no total collapse
    assert purity >= 0.12  # > random (0.1) — the data supports no more


def test_assign_is_argmax_dot(spark, registry):
    """q_ml_kmeans_assign's (vec_id → cluster) equals numpy argmax."""
    queries, _ = registry
    X, y, ids = _load_xy(spark, SF_SMOKE)
    order = np.argsort(ids)[:10]
    C = X[order]
    cids = ids[order].astype(int)
    expected = dict(zip(ids.tolist(), cids[np.argmax(X @ C.T, axis=1)].tolist()))
    got = {
        r.vec_id: r.cluster_id
        for r in queries["q_ml_kmeans_assign"](spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_mllib_parity_smoke(spark):
    """MLlib KMeans on the same vectors: runs, k clusters, finite cost
    (Euclidean objective ≠ our cosine argmax, so no assignment-level
    comparison — on non-normalized CENTROIDS the two differ)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from flink_streaming_kmeans_spark.sources.loader import load_table

    e = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    model = KMeans(k=10, seed=42, maxIter=10).fit(e)
    preds = model.transform(e)
    assert preds.select("prediction").distinct().count() == 10
    assert model.summary.trainingCost > 0


def test_kmeans_parallel_init_beats_adversarial_naive(spark):
    """k-means|| (Bahmani) init on an id-order-adversarial mixture:
    the first k vec_ids all belong to ONE true cluster, so naive
    first-k init seeds every centroid inside it and Lloyd's cannot
    un-collapse (low purity). k-means|| samples by distance
    contribution across rounds, so its k seeds spread over the true
    clusters and the SAME Lloyd loop recovers purity >= 0.9.
    Deterministic throughout (hash-based sampling), so no flaky
    retries."""
    import numpy as np
    from collections import Counter

    from flink_streaming_kmeans_spark.operators.kmeans import (
        kmeans_parallel_init,
        lloyd_iterate,
    )

    rng = np.random.default_rng(17)
    k, dim, n = 10, 64, 600
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        # ADVERSARIAL id order: ids 0..59 are all cluster 0, etc.
        c = i // (n // k)
        v = centers[c] + 0.15 * rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], c))
    e = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )

    def purity(asg_df):
        got = {r.vec_id: r.cluster_id for r in asg_df.collect()}
        byc: dict = {}
        for i, _, lab in rows:
            byc.setdefault(got[i], []).append(lab)
        return sum(Counter(v).most_common(1)[0][1] for v in byc.values()) / n

    naive = purity(lloyd_iterate(spark, e, k=k, max_iter=20))
    init = kmeans_parallel_init(e, k=k)
    kpp = purity(lloyd_iterate(spark, e, k=k, max_iter=20, init=init))
    # Measured: naive-init Lloyd partially recovers (~0.90 — merged +
    # split clusters it cannot fix); k-means|| init is exact (1.0).
    assert kpp >= 0.95, (kpp, naive)
    assert kpp > naive, (kpp, naive)


def _clustered_points(rng, n: int, k: int, d: int, spread: float):
    """n unit vectors in d dims around k random unit centres; returns
    (float32 n×d array, int labels)."""
    centres = rng.standard_normal((k, d))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    x = centres[labels] + spread * rng.standard_normal((n, d))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def test_kmeans_parallel_init_wins_every_cluster_at_spread_005(spark, tmp_path):
    """2,000 64-d unit points in 16 clusters at per-dimension spread
    0.05: k-means|| init plus 6 Lloyd rounds must win every true
    cluster (each is the majority label of some fitted cluster) on
    every seed. The candidates cover all 16 clusters here, so a miss
    is the reduce's: a random k-means++ draw over them can seed two
    centres in one cluster and leave another without one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_streaming_kmeans_spark.operators.kmeans import (
        kmeans_parallel_init,
        lloyd_iterate,
    )

    k, n, d = 16, 2000, 64
    merged = {}
    for seed in range(10):
        x, labels = _clustered_points(np.random.default_rng(seed), n, k, d, 0.05)
        path = str(tmp_path / f"points-{seed}.parquet")
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)), pa.array(x.ravel())
        )
        pq.write_table(pa.table({"vec_id": np.arange(n), "embedding": emb}), path)
        e = spark.read.parquet(path)
        init = kmeans_parallel_init(e, k=k)
        out = lloyd_iterate(spark, e, k=k, max_iter=6, tol=0.0, init=init)
        by_cluster: dict = {}
        for r in out.collect():
            by_cluster.setdefault(r.cluster_id, []).append(labels[r.vec_id])
        won = {Counter(v).most_common(1)[0][0] for v in by_cluster.values()}
        if len(won) < k:
            merged[seed] = len(won)
    assert not merged, f"seeds winning fewer than {k} clusters: {merged}"


def _two_pass_candidates(parts, k, seed, batch):
    """k-means|| candidates and weights from a separate cost pass and
    sample pass, in numpy: per round, Σd² summed per Arrow batch of
    ``batch`` rows, per partition, then across partitions in order;
    then every row tested against that total with the splitmix hash of
    (vec_id, round, seed). ``parts`` holds one (ids, X) per partition."""
    chunks = [
        [(ids[i : i + batch], X[i : i + batch]) for i in range(0, len(ids), batch)]
        for ids, X in parts
    ]
    ids_all = np.concatenate([ids for ids, _ in parts])
    C = np.concatenate([X for _, X in parts])[[int(np.argmin(ids_all))]]

    def d2(X):
        s = X @ C.T - 0.5 * (C * C).sum(axis=1)
        return np.maximum(0.0, (X * X).sum(axis=1) - 2.0 * s.max(axis=1))

    for rnd in range(4):
        denom = sum(sum((float(d2(X).sum()) for _, X in p), 0.0) for p in chunks)
        if denom <= 0:
            break
        salt = np.uint64(rnd * 1_000_003 + seed)
        new = []
        for p in chunks:
            for ids, X in p:
                h = (
                    (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ salt
                ) * np.uint64(0xBF58476D1CE4E5B9)
                u = (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
                new.append(X[u < np.minimum(1.0, 2 * k * d2(X) / denom)])
        C = np.vstack([C] + new)
    bias = 0.5 * (C * C).sum(axis=1)
    w = np.zeros(len(C))
    for p in chunks:
        for _, X in p:
            w += np.bincount(np.argmax(X @ C.T - bias, axis=1), minlength=len(C))
    return C, w


@pytest.mark.parametrize("parts", [1, 2, 4])
def test_kmeans_parallel_init_candidates_equal_two_pass(spark, monkeypatch, parts):
    """The fused round (each partition returns its Σd² and the rows that
    pass under its running Σd²; the driver re-tests them with the true
    sum) hands the reduce exactly the candidates, in order, and weights
    of a separate cost pass and sample pass. The 240 rows are four
    blocks of 60: copies of the seed (a partition of them has Σd² 0),
    a far cluster (nearly all of Σd² in round 0), and two blocks near
    the seed. On 4 partitions each block is its own partition; small
    Arrow batches put several in each. A budget of 0 keeps init on the
    executor path, whose partitions this is about (the frame reports no
    size estimate either, which also keeps it there)."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    k, d, batch, seed = 4, 8, 25, 0x5EED
    rng = np.random.default_rng(3)
    origin = rng.standard_normal(d)
    far = np.eye(d)[0] * 20.0
    blocks = [
        np.repeat(origin[None], 60, axis=0),
        far + 0.5 * rng.standard_normal((60, d)),
        origin + 0.1 * rng.standard_normal((60, d)),
        origin + 0.1 * rng.standard_normal((60, d)),
    ]
    rows = [(i, [float(v) for v in x]) for i, x in enumerate(np.concatenate(blocks))]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts),
        "vec_id bigint, embedding array<double>",
    ).localCheckpoint()
    parts_np = [
        (np.array([r.vec_id for r in p]), np.array([r.embedding for r in p]))
        for p in df.rdd.glom().collect()
    ]
    assert len(parts_np) == parts
    if parts == 4:
        assert (parts_np[0][1] == origin).all()
    want_C, want_w = _two_pass_candidates(parts_np, k, seed, batch)

    seen, tested = {}, []
    reduce, accept = km._reduce, km._accept

    def spy_reduce(C, w, k):
        seen["C"], seen["w"] = C.copy(), w.copy()
        return reduce(C, w, k)

    def spy_accept(ids, *a):
        keep = accept(ids, *a)
        tested.append((len(ids), int(keep.sum())))
        return keep

    monkeypatch.setattr(km, "_reduce", spy_reduce)
    monkeypatch.setattr(km, "_accept", spy_accept)
    monkeypatch.setattr(km, "_DRIVER_ELEMS", 0)
    with scoped_confs(
        spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": str(batch)}
    ):
        km.kmeans_parallel_init(df, k=k, seed=seed)
    assert len(tested) == km._ROUNDS
    assert len(want_C) > 1 + 2 * k
    assert seen["C"].tobytes() == want_C.tobytes()
    assert seen["w"].tolist() == want_w.tolist()
    if parts > 1:
        # The partitions' running sums overfetched, so the driver's
        # re-test with the true sum dropped rows.
        assert any(got > kept for got, kept in tested), tested


def test_kmeans_parallel_init_runs_one_job_per_round(spark, tmp_path, monkeypatch):
    """On the executor path (a budget of 0), k-means|| init runs
    _ROUNDS + 2 Spark jobs: the seed row, read from the cache it
    builds; one fused cost-and-sample pass per round; and the candidate
    weights. All but the seed job run a MapInArrow plan. An empty input
    raises and leaves no cache behind."""
    from pyspark import StorageLevel

    from flink_streaming_kmeans_spark.operators import kmeans as km
    from flink_streaming_kmeans_spark.operators.kmeans import (
        _ROUNDS,
        kmeans_parallel_init,
    )

    monkeypatch.setattr(km, "_DRIVER_ELEMS", 0)
    df, _ = _vectors(spark, tmp_path, 400)
    jobs, plans = _jobs_and_plans(
        spark, "kmeans-parallel-init", lambda: kmeans_parallel_init(df, k=4)
    )
    assert jobs == _ROUNDS + 2
    assert sum("MapInArrow" in p for p in plans) == _ROUNDS + 1
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="embeddings table is empty"):
        kmeans_parallel_init(empty, k=4)
    assert empty.select("vec_id", "embedding").storageLevel == StorageLevel.NONE


def _write_points(spark, path, ids, x, files=1):
    """Rows (ids[i], x[i]) as ``files`` parquet files under ``path``,
    one contiguous slice of the rows each."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    n, d = x.shape
    for f, part in enumerate(np.array_split(np.arange(n), files)):
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(part) * d + 1, d, dtype=np.int32)),
            pa.array(x[part].ravel()),
        )
        pq.write_table(
            pa.table({"vec_id": ids[part].astype("int64"), "embedding": emb}),
            os.path.join(path, f"part-{f}.parquet"),
        )
    return spark.read.parquet(path)


def _fit(spark, monkeypatch, df, k, budget, euclidean=False, max_iter=6, tol=0.0):
    """One k-means|| + Lloyd fit of ``df`` under a driver budget of
    ``budget`` values: the reduce's candidates ``C`` and weights ``w``,
    the ``init`` matrix, the ``final`` Lloyd centroids, the Lloyd
    ``iterations`` and the ``assign`` dict (vec_id -> cluster_id)."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    seen = {"iterations": 0}
    reduce, stats, assign = km._reduce, km._FitInput.stats, km._FitInput.assign

    def spy_reduce(C, w, k):
        seen["C"], seen["w"] = C.copy(), w.copy()
        return reduce(C, w, k)

    def spy_stats(self, *a):
        seen["iterations"] += 1
        return stats(self, *a)

    def spy_assign(self, C, *a):
        seen["final"] = C.copy()
        return assign(self, C, *a)

    with monkeypatch.context() as mp:
        mp.setattr(km, "_DRIVER_ELEMS", budget)
        mp.setattr(km, "_reduce", spy_reduce)
        mp.setattr(km._FitInput, "assign", spy_assign)
        init = km.kmeans_parallel_init(df, k=k)
        mp.setattr(km._FitInput, "stats", spy_stats)
        out = km.lloyd_iterate(
            spark, df, k=k, max_iter=max_iter, tol=tol, init=init, euclidean=euclidean
        )
        seen["assign"] = {r.vec_id: r.cluster_id for r in out.collect()}
    seen["init"] = init[0]
    return seen


@pytest.mark.parametrize("euclidean", [False, True], ids=["dot", "euclidean"])
def test_driver_fit_equals_executor_fit(spark, tmp_path, monkeypatch, euclidean):
    """On one input file, the driver fit (within the budget) and the
    executor fit (a budget of 0) hand the reduce the same candidates
    and weights, so the same init; their Lloyd centroids agree to
    1e-12 (the fold order may differ) and they assign every row alike.
    The Euclidean fit runs on raw, non-unit coordinates."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    x, _ = _clustered_points(np.random.default_rng(4), 1500, 8, 16, 0.1)
    if euclidean:
        x = 10.0 * x + 3.0
    df = _write_points(spark, str(tmp_path / "in"), np.arange(len(x)), x)
    drv = _fit(spark, monkeypatch, df, 8, km._DRIVER_ELEMS, euclidean)
    exe = _fit(spark, monkeypatch, df, 8, 0, euclidean)
    assert len(drv["C"]) > 8
    assert drv["C"].tobytes() == exe["C"].tobytes()
    assert drv["w"].tolist() == exe["w"].tolist()
    assert drv["init"].tobytes() == exe["init"].tobytes()
    np.testing.assert_allclose(drv["final"], exe["final"], rtol=0, atol=1e-12)
    assert drv["assign"] == exe["assign"]
    assert sorted(drv["assign"]) == list(range(len(x)))


def test_fit_within_budget_runs_on_the_driver(spark, tmp_path):
    """Within the budget no pass of a fit runs a Python worker: k-means||
    init runs 2 Spark jobs (the width probe and the bounded collect),
    and Lloyd, handed that init on the same DataFrame, runs none. No
    plan they execute has a MapInArrow node, and on a 4-file input each
    job is one stage of one task: the bounded collect reads every file
    in one task, with no shuffle (CollectLimit's shuffle into one
    partition is a second stage, not an Exchange node in the plan).
    The assignment is a local frame: reading it runs no Python either."""
    from flink_streaming_kmeans_spark.operators.kmeans import (
        kmeans_parallel_init,
        lloyd_iterate,
    )

    x = np.random.default_rng(0).standard_normal((400, 8))
    df = _write_points(spark, str(tmp_path / "in"), np.arange(len(x)), x, files=4)
    assert df.rdd.getNumPartitions() == 4
    got = {}

    def init():
        got["init"] = kmeans_parallel_init(df, k=4)

    def lloyd():
        got["out"] = lloyd_iterate(spark, df, k=4, max_iter=3, init=got["init"])

    jobs, plans = _jobs_and_plans(spark, "fit-driver-init", init)
    assert jobs == 2 and not any("MapInArrow" in p for p in plans), plans
    tracker = spark.sparkContext.statusTracker()
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup("fit-driver-init")
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert [s.numTasks for s in stages] == [1, 1], stages
    jobs, plans = _jobs_and_plans(spark, "fit-driver-lloyd", lloyd)
    assert jobs == 0, plans
    jobs, plans = _jobs_and_plans(spark, "fit-driver-read", got["out"].collect)
    assert not any("MapInArrow" in p or "Python" in p for p in plans), plans


def test_driver_fit_is_independent_of_input_split(spark, tmp_path, monkeypatch):
    """The driver fit folds the collected rows in vec_id order, so one
    input file, four (holding the rows in reverse id order, which the
    collect returns in file-split order) and one shuffled file give a
    bit-identical init, centroids and assignment, and three runs on one
    input, each on its own DataFrame object, are bit-identical. Every
    fit reads its input once. The one sorted file arrives in order and
    skips the sort; the other two arrive out of order and are sorted
    once per fit. ``pyarrow.Table`` is an immutable type, so the sort
    spy sits on the ``pyarrow.compute.sort_indices`` that
    ``Table.sort_by`` calls."""
    import pyarrow.compute as pc

    from flink_streaming_kmeans_spark.operators import kmeans as km

    counts = {"sorts": 0, "reads": 0}
    sort_indices, plan_bytes = pc.sort_indices, km._plan_bytes

    def spy_sort_indices(*a, **kw):
        counts["sorts"] += 1
        return sort_indices(*a, **kw)

    def spy_plan_bytes(df):
        counts["reads"] += 1  # the gate sizes every input it reads
        return plan_bytes(df)

    monkeypatch.setattr(pc, "sort_indices", spy_sort_indices)
    monkeypatch.setattr(km, "_plan_bytes", spy_plan_bytes)

    x, _ = _clustered_points(np.random.default_rng(6), 1200, 6, 16, 0.1)
    ids = np.arange(len(x))
    one = str(tmp_path / "one")
    _write_points(spark, one, ids, x)
    four = _write_points(spark, str(tmp_path / "four"), ids[::-1], x[::-1], files=4)
    assert four.rdd.getNumPartitions() == 4
    shuffle = np.random.default_rng(7).permutation(len(x))
    shuffled = _write_points(
        spark, str(tmp_path / "shuffled"), ids[shuffle], x[shuffle]
    )
    budget = km._DRIVER_ELEMS
    inputs = [spark.read.parquet(one) for _ in range(3)] + [four, shuffled]
    runs, per_fit = [], []
    for df in inputs:
        before = dict(counts)
        runs.append(_fit(spark, monkeypatch, df, 6, budget))
        per_fit.append(tuple(counts[c] - before[c] for c in ("reads", "sorts")))
    assert per_fit == [(1, 0), (1, 0), (1, 0), (1, 1), (1, 1)], per_fit
    for r in runs[1:]:
        assert r["init"].tobytes() == runs[0]["init"].tobytes()
        assert r["final"].tobytes() == runs[0]["final"].tobytes()
        assert r["assign"] == runs[0]["assign"]


def test_gate_reads_each_dataframe_object_once(spark, tmp_path, monkeypatch):
    """The driver gate keeps the table it last admitted while that
    DataFrame object lives. kmeans_parallel_init returns a plain
    (M, cids) tuple, and a lloyd_iterate after it on the same object
    runs no Spark job, whatever carries the pair: the tuple itself, a
    copy of it or an unpickled one (until the gate kept the table, a
    copy read again). An assign_fitted right after that fit runs none
    either. A new read of the same path runs its own bounded collect
    (1 job), and so does the first object once the slot has moved to
    another. All these fits give byte-equal centroids and identical
    assignments. A budget of 0 put in force after a driver fit sends
    the same object to the executor path. The slot holds its DataFrame
    weakly: once the object is gone, so is the slot."""
    import copy
    import gc
    import pickle
    import weakref

    from flink_streaming_kmeans_spark.operators import kmeans as km

    x, _ = _clustered_points(np.random.default_rng(11), 800, 4, 8, 0.1)
    path = str(tmp_path / "in")
    df = _write_points(spark, path, np.arange(len(x)), x)
    init = km.kmeans_parallel_init(df, k=4)
    assert type(init) is tuple and len(init) == 2
    C, cids = init

    assign = km._FitInput.assign

    def spy_assign(self, C, *a):
        fits[-1]["final"] = C.copy()
        return assign(self, C, *a)

    monkeypatch.setattr(km._FitInput, "assign", spy_assign)
    fits = []

    def lloyd(data, start):
        """Lloyd's job count; its centroids and assignment go to ``fits``."""
        fit = {}
        fits.append(fit)

        def run():
            fit["out"] = km.lloyd_iterate(spark, data, k=4, max_iter=4, tol=0.0, init=start)

        jobs, _ = _jobs_and_plans(spark, f"gate-{len(fits)}", run)
        fit["assign"] = {r.vec_id: r.cluster_id for r in fit["out"].collect()}
        return jobs

    copies = (tuple(init), pickle.loads(pickle.dumps(init)), copy.deepcopy(init))
    assert [lloyd(df, start) for start in (init, *copies)] == [0, 0, 0, 0]
    final = fits[0]["final"]
    fits.append({})
    jobs, _ = _jobs_and_plans(
        spark, "gate-assign",
        lambda: fits[-1].update(out=km.assign_fitted(df, final, cids)),
    )
    assert jobs == 0
    assigned = fits.pop()["out"].collect()
    assert {r.vec_id: r.cluster_id for r in assigned} == fits[0]["assign"]
    assert lloyd(spark.read.parquet(path), init) == 1
    assert lloyd(df, init) == 1
    for f in fits[1:]:
        assert f["final"].tobytes() == final.tobytes()
        assert f["assign"] == fits[0]["assign"]
    assert sorted(fits[0]["assign"]) == list(range(len(x)))

    monkeypatch.setattr(km, "_DRIVER_ELEMS", 0)
    exe = km.kmeans_parallel_init(df, k=4)
    assert exe[0].tobytes() == C.tobytes()
    # 4 iterations and the assignment's checkpoint: one job each.
    assert lloyd(df, exe) == lloyd(df, tuple(exe)) == 5
    assert fits[-1]["assign"] == fits[-2]["assign"] == fits[0]["assign"]

    assert km._admitted[0]() is df
    probe = weakref.ref(df)
    del df
    gc.collect()
    assert probe() is None and km._admitted is None


def test_concurrent_fits_match_sequential_fits(spark, tmp_path):
    """Six threads, more than the host's cores, fit three inputs at once,
    two on each, every thread on its own DataFrame object, and each
    gets the init and the assignment of a sequential fit. All inits
    finish before any Lloyd starts, so the gate's one slot holds at most
    one of the inputs and the other fits read theirs again: a lost slot
    is a miss, never another input's rows."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from flink_streaming_kmeans_spark.operators import kmeans as km

    paths = []
    for i in range(3):
        x, _ = _clustered_points(np.random.default_rng(20 + i), 600, 4, 8, 0.1)
        paths.append(str(tmp_path / f"in{i}"))
        _write_points(spark, paths[-1], np.arange(len(x)) + 1000 * i, x)
    inits_done = threading.Barrier(2 * len(paths))

    def fit(path, together=False):
        df = spark.read.parquet(path)
        init = km.kmeans_parallel_init(df, k=4)
        if together:
            inits_done.wait(timeout=120)
        out = km.lloyd_iterate(spark, df, k=4, max_iter=4, tol=0.0, init=init)
        return init[0].tobytes(), {r.vec_id: r.cluster_id for r in out.collect()}

    want = [fit(p) for p in paths]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(2 * len(paths)) as pool:
            got = list(pool.map(lambda p: fit(p, together=True), paths * 2))
    finally:
        sys.setswitchinterval(interval)
    assert got == want * 2


@pytest.mark.parametrize("budget", ["driver", "executor"])
def test_fit_failure_modes_match_across_paths(spark, tmp_path, monkeypatch, budget):
    """Both paths of a fit fail and stop alike: an empty input raises the
    same ValueError; with fewer than k distinct points init returns
    fewer centres; and ``tol`` stops Lloyd early, after the same number
    of iterations on either path."""
    from flink_streaming_kmeans_spark.operators import kmeans as km

    b = km._DRIVER_ELEMS if budget == "driver" else 0
    empty = _write_points(spark, str(tmp_path / "empty"), np.zeros(0), np.zeros((0, 4)))
    with monkeypatch.context() as mp:
        mp.setattr(km, "_DRIVER_ELEMS", b)
        msg = "^kmeans_parallel_init: embeddings table is empty$"
        with pytest.raises(ValueError, match=msg):
            km.kmeans_parallel_init(empty, k=3)
        with pytest.raises(ValueError, match="^embeddings table is empty$"):
            km.lloyd_iterate(spark, empty, k=3)

        three = np.random.default_rng(8).standard_normal((3, 4))
        few = _write_points(
            spark, str(tmp_path / "few"), np.arange(30), three[np.arange(30) % 3]
        )
        C, cids = km.kmeans_parallel_init(few, k=5)
        assert len(C) == len(cids) == 3

    x, _ = _clustered_points(np.random.default_rng(9), 600, 4, 8, 0.05)
    df = _write_points(spark, str(tmp_path / "tol"), np.arange(len(x)), x)
    fit = _fit(spark, monkeypatch, df, 4, b, max_iter=50, tol=1e-9)
    ref = _fit(spark, monkeypatch, df, 4, 0, max_iter=50, tol=1e-9)
    assert 1 < fit["iterations"] < 50
    assert fit["iterations"] == ref["iterations"]


def test_executor_fit_uses_a_caller_cache(spark, tmp_path, monkeypatch):
    """On the executor path (a budget of 0), init and Lloyd use an input
    the caller cached as is: neither builds a cache of its own, and the
    caller's stays cached through both calls. An uncached input is
    cached by each call in turn, which the same spy sees."""
    from pyspark import StorageLevel

    from flink_streaming_kmeans_spark.operators import kmeans as km

    monkeypatch.setattr(km, "_DRIVER_ELEMS", 0)
    df, _ = _vectors(spark, tmp_path, 400)
    cls = type(df)
    persist, persisted = cls.persist, []

    def spy_persist(self, *a, **kw):
        persisted.append(self)
        return persist(self, *a, **kw)

    def fit(data):
        init = km.kmeans_parallel_init(data, k=4)
        return km.lloyd_iterate(spark, data, k=4, max_iter=2, init=init).count()

    cached = df.persist()
    try:
        with monkeypatch.context() as mp:
            mp.setattr(cls, "persist", spy_persist)
            assert fit(cached) == 400
        assert persisted == []
        assert cached.storageLevel != StorageLevel.NONE
    finally:
        cached.unpersist()
    with monkeypatch.context() as mp:
        mp.setattr(cls, "persist", spy_persist)
        assert fit(df) == 400
    assert len(persisted) == 2
    assert df.storageLevel == StorageLevel.NONE
