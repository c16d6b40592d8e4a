"""Streaming surface (SURVEY §2.9 test-tier): Structured Streaming
variants of the batch-deterministic window queries, watermark
late-data handling, and streaming (online) k-means — the reference's
actual runtime behavior, exercised with file sources + memory sinks.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from flink_streaming_kmeans_spark.sources.replay import run_available_now

pytestmark = pytest.mark.slow  # slow lane — see pytest.ini



def _events_stream(spark, sf_dir, **reader_opts):
    """readStream over the events parquet, with the same DTYPE-GATED
    ns→µs fixup the batch loader applies: generated testdata has
    shipped ts as both TIMESTAMP(NANOS) (read as bigint under
    nanosAsLong — needs the DIV 1000 fixup) and timestamp[us] (read
    natively — needs none). A readStream schema must be declared up
    front, so probe the physical type with a batch read first."""
    path = sf_dir.rstrip("/") + "/events.parquet"
    ts_is_bigint = dict(spark.read.parquet(path).dtypes)["ts"] == "bigint"
    ts_decl = "bigint" if ts_is_bigint else "timestamp"
    raw_schema = (
        f"event_id bigint, ts {ts_decl}, user_id bigint,"
        " event_type string, value double, props string"
    )
    reader = spark.readStream.schema(raw_schema)
    for k, v in reader_opts.items():
        reader = reader.option(k, v)
    # trailing glob: FileStreamSource rejects a bare file path
    # ("Option 'basePath' must be a directory"); a glob resolves it.
    df = reader.parquet(path + "*")
    if ts_is_bigint:
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def test_streaming_tumble_matches_batch(spark, registry):
    queries, _ = registry
    batch = {
        (r.win_start, r.n_events): r.sum_value
        for r in queries["q_win_tumble"](spark, SF_SMOKE).collect()
    }
    stream = _events_stream(spark, SF_SMOKE)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )
    run_available_now(
        agg.writeStream.format("memory").queryName("t_tumble").outputMode("complete"),
        "t_tumble",
        spark,
    )
    got = {
        (r.win_start, r.n_events) for r in spark.sql("SELECT * FROM t_tumble").collect()
    }
    assert got == set(batch)


def test_streaming_session_matches_batch_count(spark, registry):
    queries, _ = registry
    batch_n = queries["q_win_session"](spark, SF_SMOKE).count()
    stream = _events_stream(spark, SF_SMOKE)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    run_available_now(
        agg.writeStream.format("memory").queryName("t_session").outputMode("append"),
        "t_session",
        spark,
    )
    # append mode emits only watermark-closed sessions; with availableNow
    # the final watermark closes all but each user's last open session.
    got_n = spark.sql("SELECT count(*) AS n FROM t_session").collect()[0].n
    assert got_n >= batch_n - 150  # <= one open session per user (150 users)
    assert got_n <= batch_n


def test_watermark_drops_late_data(spark):
    """Two sequential availableNow runs over a shared checkpoint: run 2
    delivers rows far behind run 1's committed watermark → dropped."""
    import datetime as dt

    d = tempfile.mkdtemp(prefix="fsk_stream_")

    def run_once():
        stream = spark.readStream.schema("id bigint, ts timestamp").parquet(
            d + "/in/*"
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        got: list = []
        run_available_now(
            agg.writeStream.foreachBatch(
                lambda bdf, bid: got.extend(bdf.collect())
            ).outputMode("update"),
            "watermark_late",
            spark,
            checkpoint=d + "/ckpt",
        )
        return got

    try:
        on_time = [(i, dt.datetime(2024, 1, 2, 12, 0, i)) for i in range(10)]
        spark.createDataFrame(on_time, "id bigint, ts timestamp").coalesce(
            1
        ).write.parquet(d + "/in/f1")
        rows1 = run_once()
        assert sum(r.n for r in rows1) == 10
        # watermark is now committed at 2024-01-02 11:50:09

        late = [(100 + i, dt.datetime(2024, 1, 1, 0, 0, i)) for i in range(5)]
        spark.createDataFrame(late, "id bigint, ts timestamp").coalesce(
            1
        ).write.parquet(d + "/in/f2")
        rows2 = run_once()
        # the late 2024-01-01 window must not appear in run 2's updates
        starts = {r.w.start for r in rows2}
        assert all(s.day == 2 for s in starts), starts
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_watermark_boundary_semantics(spark):
    """Law 54 (r11 structure sweep, watermark-boundary axis): the two
    exact boundaries every replay-scaffolding decision leans on,
    measured and pinned so a Spark upgrade that flips an inequality
    fails here, not in a silently-short flush.

    1. EMISSION (append mode): a window is emitted exactly when
       window.end <= watermark — EQUALITY EMITS. One second short
       and the window stays in state; the drive sentinels that flush
       terminal windows only need to push the watermark TO the end,
       not past it (they push well past anyway).
    2. ADMISSION is WINDOW-granular, not row-granular: a row whose
       event time lies far BELOW the committed watermark is still
       accepted while its window's end > watermark (open window);
       rows addressed to a window with end <= watermark are dropped.
       'Late data' in Spark windowed aggregation means late WINDOW,
       not late ROW — so a tie exactly at the late-data cutoff
       across batch splits can never fork a window total (the r10
       verdict's suggested watermark-tie axis, answered
       structurally).

    Scaffold: two availableNow runs over a shared checkpoint (the
    test_watermark_drops_late_data pattern); run 1 commits watermark
    2024-01-02 11:50:09 (max 12:00:09 - 10 min)."""
    import datetime as dt

    def run_case(mode, batch2, want_hours):
        d = tempfile.mkdtemp(prefix="fsk_wmlaw_")

        def run_once():
            stream = spark.readStream.schema(
                "id bigint, ts timestamp"
            ).parquet(d + "/in/*")
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            got: list = []
            run_available_now(
                agg.writeStream.foreachBatch(
                    lambda bdf, bid: got.extend(bdf.collect())
                ).outputMode(mode),
                "watermark_boundary",
                spark,
                checkpoint=d + "/ckpt",
            )
            return got

        try:
            data = [
                (i, dt.datetime(2024, 1, 2, 12, 0, i)) for i in range(10)
            ]
            spark.createDataFrame(
                data, "id bigint, ts timestamp"
            ).coalesce(1).write.parquet(d + "/in/f1")
            run_once()
            spark.createDataFrame(
                batch2, "id bigint, ts timestamp"
            ).coalesce(1).write.parquet(d + "/in/f2")
            rows = run_once()
            return sorted(
                (r.w.start.hour, r.n) for r in rows
                if r.w.start.hour in want_hours
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)

    # 1a: sentinel pushes wm to EXACTLY 13:00 (= window-12 end): emits.
    assert run_case(
        "append", [(999, dt.datetime(2024, 1, 2, 13, 10, 0))], {12}
    ) == [(12, 10)]
    # 1b: one second short (wm 12:59:59): stays in state, nothing out.
    assert run_case(
        "append", [(999, dt.datetime(2024, 1, 2, 13, 9, 59))], {12}
    ) == []
    # 2a: rows below/at/above the committed wm (11:50:09) all land in
    # the OPEN window [11:00,12:00) — all three accepted.
    assert run_case(
        "update",
        [
            (100, dt.datetime(2024, 1, 2, 11, 50, 8)),
            (101, dt.datetime(2024, 1, 2, 11, 50, 9)),
            (102, dt.datetime(2024, 1, 2, 11, 0, 0)),
        ],
        {11},
    ) == [(11, 3)]
    # 2b: a row for the CLOSED window [10:00,11:00) (end 11:00 <= wm)
    # is dropped.
    assert run_case(
        "update", [(200, dt.datetime(2024, 1, 2, 10, 59, 59))], {10}
    ) == []


def test_drop_duplicates_within_watermark(spark):
    """Stateful streaming dedup: duplicate event_ids delivered within
    the watermark window are emitted exactly once."""
    import datetime as dt

    d = tempfile.mkdtemp(prefix="fsk_dedup_")
    try:
        base = dt.datetime(2024, 1, 2, 12, 0, 0)
        rows = [(i, base + dt.timedelta(seconds=i)) for i in range(20)]
        dups = [(i, base + dt.timedelta(seconds=i, milliseconds=500)) for i in range(0, 20, 2)]
        spark.createDataFrame(rows + dups, "id bigint, ts timestamp").coalesce(
            1
        ).write.parquet(d + "/in/f1")

        stream = spark.readStream.schema("id bigint, ts timestamp").parquet(
            d + "/in/*"
        )
        deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["id"]
        )
        got: list = []
        run_available_now(
            deduped.writeStream.foreachBatch(
                lambda bdf, bid: got.extend(bdf.collect())
            ),
            "dedup_within_watermark",
            spark,
        )
        ids = sorted(r.id for r in got)
        assert ids == list(range(20)), ids  # each id exactly once
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join(spark):
    """Stream-stream inner join with an event-time interval condition
    (purchase joined to same-user clicks within the preceding hour) —
    both sides watermarked so join state is evicted; results must
    equal the identical batch join."""
    from flink_streaming_kmeans_spark.sources.loader import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    batch_n = (
        ev.where(F.col("event_type") == "purchase")
        .alias("p")
        .join(
            ev.where(F.col("event_type") == "click").alias("c"),
            F.expr(
                "p.user_id = c.user_id AND "
                "c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
            ),
        )
        .count()
    )

    stream = _events_stream(spark, SF_SMOKE)
    p = (
        stream.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        _events_stream(spark, SF_SMOKE)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        F.expr(
            "user_id = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
    )
    run_available_now(
        joined.writeStream.format("memory").queryName("t_ssj").outputMode("append"),
        "t_ssj",
        spark,
    )
    got_n = spark.sql("SELECT count(*) AS n FROM t_ssj").collect()[0].n
    assert got_n == batch_n, (got_n, batch_n)


def test_stateful_running_stats(spark):
    """Custom stateful operator (applyInPandasWithState — see
    streaming/stateful.py for why not transformWithStateInPandas):
    per-user running (count, sum) must equal the batch aggregate after
    the stream drains, and state must carry across micro-batches."""
    d = tempfile.mkdtemp(prefix="fsk_tws_")
    try:
        from flink_streaming_kmeans_spark.sources.loader import load_table
        from flink_streaming_kmeans_spark.streaming.stateful import (
            running_user_stats,
        )

        ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value")
        # 3 files → 3 micro-batches, so per-user state must accumulate
        ev.repartition(3).write.parquet(d + "/in")
        stream = (
            spark.readStream.schema("user_id bigint, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(d + "/in")
        )
        out = running_user_stats(stream)
        run_available_now(
            out.writeStream.format("memory").queryName("t_tws").outputMode("update"),
            "t_tws",
            spark,
        )
        # last update per user == the full batch aggregate
        final = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql(
                """SELECT user_id, n_events, total_value FROM (
                       SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY n_events DESC) rn
                       FROM t_tws) WHERE rn = 1"""
            ).collect()
        }
        expect = {
            r.user_id: (r.n, r.total)
            for r in ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert set(final) == set(expect)
        for u in expect:
            assert final[u][0] == expect[u][0], u
            assert abs(final[u][1] - expect[u][1]) < 1e-6, u
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_kmeans_restart_and_lloyd_parity(spark):
    """Round-2 verdict item 5: streaming MacQueen hardening, asserted
    end-to-end on a 5-batch replay with a CHECKPOINT RESTART in the
    middle and parity against batch Lloyd.

    Data note: the sf testdata's embeddings have no recoverable cluster
    structure (Lloyd's own purity ceiling is ~0.30 there — documented
    in test_kmeans.py), so "purity >= 0.9" is only meaningful on data
    WITH structure: a separable 10-cluster mixture (intra cosine ~0.99,
    inter ~0.0). On it, single-pass MacQueen must land on the same
    solution as 20-iteration Lloyd.

    Asserts: (1) a restarted query resumes from persisted state and
    Spark's checkpoint prevents reprocessing (total count would be 800,
    not 500, if the first 3 batches replayed); (2) a re-delivered batch
    id is a no-op (effectively-once guard); (3) final centroids within
    0.1 of batch-Lloyd's member means; (4) assignment agreement with
    Lloyd >= 0.95 and true-label purity >= 0.9."""
    import numpy as np
    from collections import Counter

    from flink_streaming_kmeans_spark.operators.kmeans import (
        init_centroids,
        lloyd_iterate,
    )
    from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

    rng = np.random.default_rng(5)
    k, dim, n = 10, 64, 500
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        v = centers[i % k] + 0.15 * rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], i % k))
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")

    cent = init_centroids(e).collect()
    init = ([list(r.cemb) for r in cent], [int(r.cid) for r in cent])
    d = tempfile.mkdtemp(prefix="fsk_skm_restart_")
    state = d + "/state.npz"
    try:
        e.select("vec_id", "embedding").repartition(5).write.parquet(d + "/all")
        files = sorted(
            f for f in os.listdir(d + "/all") if f.endswith(".parquet")
        )
        assert len(files) == 5
        os.makedirs(d + "/in")

        def run():
            skm = StreamingKMeans(*init, state_path=state)
            stream = (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", "1")
                .parquet(d + "/in")
            )
            run_available_now(
                stream.writeStream.foreachBatch(skm.foreach_batch()),
                "skm_restart",
                spark,
                checkpoint=d + "/ckpt",
            )
            return skm

        # First incarnation sees 3 of the 5 batches, then "crashes".
        for f in files[:3]:
            shutil.copy(d + "/all/" + f, d + "/in/" + f)
        s1 = run()
        assert s1.batches_seen == 3 and int(s1.n.sum()) == 300

        # Restart: new StreamingKMeans instance resumes from state_path,
        # same checkpoint dir — only the 2 new files are delivered.
        for f in files[3:]:
            shutil.copy(d + "/all/" + f, d + "/in/" + f)
        s2 = run()
        assert s2.batches_seen == 5, s2.batches_seen
        assert int(s2.n.sum()) == 500, int(s2.n.sum())  # 800 ⇒ reprocessed

        # Effectively-once: re-delivering an applied batch is a no-op.
        C_before, n_before = s2.C.copy(), s2.n.copy()
        fake = spark.createDataFrame(
            [(9999, [1.0] * dim)], "vec_id bigint, embedding array<float>"
        )
        s2.foreach_batch()(fake, s2.last_batch_id)
        assert np.array_equal(C_before, s2.C) and np.array_equal(n_before, s2.n)

        # Batch-Lloyd parity on the same data + init.
        asg = lloyd_iterate(spark, e, k=k, max_iter=20)
        arows = e.select("vec_id", "embedding", "label").join(asg, "vec_id").collect()
        X = np.stack([np.array(r.embedding, dtype=np.float64) for r in arows])
        lab = np.array([r.cluster_id for r in arows])
        true = np.array([r.label for r in arows])
        L = np.zeros_like(s2.C)
        for j, c in enumerate(s2.cids):
            m = lab == c
            L[j] = X[m].mean(axis=0) if m.any() else s2.C[j]
        assert float(np.linalg.norm(s2.C - L, axis=1).max()) < 0.1
        stream_lab = s2.cids[np.argmax(X @ s2.C.T, axis=1)]
        assert float((stream_lab == lab).mean()) >= 0.95
        byc = {}
        for a, t in zip(stream_lab, true):
            byc.setdefault(a, []).append(t)
        purity = sum(Counter(v).most_common(1)[0][1] for v in byc.values()) / n
        assert purity >= 0.9, purity
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_kmeans_macqueen(spark):
    """Online k-means over a stream of embedding micro-batches: state
    advances per batch, total count equals corpus size, and the final
    centroids are finite and distinct."""
    import numpy as np

    from flink_streaming_kmeans_spark.operators.kmeans import init_centroids
    from flink_streaming_kmeans_spark.sources.loader import load_table
    from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

    e = load_table(spark, SF_SMOKE, "embeddings")
    cent = init_centroids(e).collect()
    skm = StreamingKMeans(
        [list(r.cemb) for r in cent], [int(r.cid) for r in cent]
    )

    # Multi-batch stream: re-write embeddings as 4 files, 1 per trigger.
    d = tempfile.mkdtemp(prefix="fsk_skm_")
    try:
        e.select("vec_id", "embedding").repartition(4).write.parquet(d + "/in")
        stream = spark.readStream.schema("vec_id bigint, embedding array<float>").option(
            "maxFilesPerTrigger", "1"
        ).parquet(d + "/in")
        run_available_now(
            stream.writeStream.foreachBatch(skm.foreach_batch()), "skm", spark
        )
        assert skm.batches_seen >= 2, "expected multiple micro-batches"
        assert int(skm.n.sum()) == 500
        assert np.isfinite(skm.C).all()
        # centroids moved away from their init
        init = np.array([list(r.cemb) for r in cent])
        assert np.abs(skm.C - init).max() > 1e-3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_etl_to_parquet_sink(spark):
    """The streaming ETL shape every event pipeline runs: file stream →
    watermarked tumbling-window aggregate → APPEND-mode parquet sink.
    Append emits a window only once its watermark closes it, so with
    availableNow over a finite input the sink must hold every window
    except (at most) the ones the final watermark left open — and each
    emitted row must match the batch recomputation exactly. This
    closes the gap between the memory-sink parity tests and what a
    user actually deploys (files in, files out, restartable)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="fsk_setl_")
    try:
        stream = _events_stream(spark, SF_SMOKE, maxFilesPerTrigger="1")
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.col("w.start").alias("win_start"), "n_events", "sum_value")
        )
        run_available_now(
            agg.writeStream.format("parquet")
            .option("path", d + "/out")
            .outputMode("append"),
            "etl_parquet_sink",
            spark,
        )
        got = {
            r.win_start: (r.n_events, round(r.sum_value, 4))
            for r in spark.read.parquet(d + "/out").collect()
        }
        from flink_streaming_kmeans_spark.sources.loader import load_table

        ev = load_table(spark, SF_SMOKE, "events")
        want = {
            r.win_start: (r.n_events, round(r.sum_value, 4))
            for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.col("w.start").alias("win_start"), "n_events", "sum_value")
            .collect()
        }
        assert len(got) >= len(want) - 2  # ≤ the final open window(s) missing
        for k, v in got.items():
            assert want[k] == v, k  # every emitted window is batch-exact
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_kmeans_reassignment_mass_conservation(spark, tmp_path):
    """Reference co-operator semantics (r4-verdict gap): a re-arriving
    point that the MOVED centroids place in a different cluster is
    subtracted from its old cluster as it is added to the new one —
    mass is conserved (Σn == #distinct points) and every centroid is
    the exact mean of its current members. All coordinates are
    float32-exact so the arithmetic is bit-checkable."""
    import numpy as np

    from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

    def batch(rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        )

    root = str(tmp_path)
    state = root + "/state.npz"
    assign_dir = root + "/assign"
    skm = StreamingKMeans(
        [[1.0, 0.0], [0.0, 1.0]], [0, 1],
        state_path=state, track_assignments=True, assign_dir=assign_dir,
    )

    # Batch 1: p(100)=[.75,.75] ties → c0; q(101)=[1,0] → c0;
    # s(102)=[.5,.875] → c1.
    skm.foreach_batch()(batch(
        [(100, [0.75, 0.75]), (101, [1.0, 0.0]), (102, [0.5, 0.875])]
    ), 0)
    assert skm.assignments(spark) == {100: 0, 101: 0, 102: 1}
    assert skm.n.tolist() == [2, 1]
    np.testing.assert_array_equal(skm.C[0], [0.875, 0.375])
    np.testing.assert_array_equal(skm.C[1], [0.5, 0.875])

    # Batch 2: p re-arrives (same vector). Against the moved centroids
    # dot(c0)=0.9375 < dot(c1)=1.03125 → p FLIPS to c1 and must be
    # removed from c0; t(103)=[0,1] → c1.
    skm.foreach_batch()(batch([(100, [0.75, 0.75]), (103, [0.0, 1.0])]), 1)
    assert skm.assignments(spark) == {100: 1, 101: 0, 102: 1, 103: 1}
    # Mass conserved: 4 distinct points, counted exactly once each.
    assert int(skm.n.sum()) == 4
    assert skm.n.tolist() == [1, 3]
    # c0 lost p's contribution exactly: back to mean([q]) == [1, 0].
    np.testing.assert_array_equal(skm.C[0], [1.0, 0.0])
    # c1 is the exact mean of its current members {p, s, t}.
    expected_c1 = np.array(
        [[0.75, 0.75], [0.5, 0.875], [0.0, 1.0]], dtype="float64"
    ).sum(axis=0) / 3.0
    np.testing.assert_array_equal(skm.C[1], expected_c1)

    # Re-delivered batch id is a no-op (state unchanged).
    n_before = skm.n.copy()
    skm.foreach_batch()(batch([(100, [0.75, 0.75])]), 1)
    assert skm.n.tolist() == n_before.tolist()

    # Restart from durable state: assignment memory survives (the
    # parquet generations are already durable; meta pins the live one).
    skm2 = StreamingKMeans(
        [[1.0, 0.0], [0.0, 1.0]], [0, 1],
        state_path=state, track_assignments=True, assign_dir=assign_dir,
    )
    assert skm2.assignments(spark) == skm.assignments(spark)
    assert skm2.n.tolist() == skm.n.tolist()
    np.testing.assert_array_equal(skm2.C, skm.C)
    np.testing.assert_array_equal(skm2.S, skm.S)


def test_streaming_kmeans_state_hygiene(spark, tmp_path):
    """Two round-6 pins on the parquet assignment store: (a) a
    within-batch duplicate vec_id commits ONE state row (per-arrival
    emission would fan the next batch's join out 2x and corrupt
    mass); (b) on-disk state is bounded at <= 2 generations (live +
    crash-recovery fallback)."""
    from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

    def batch(rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        )

    adir = str(tmp_path / "assign")
    skm = StreamingKMeans(
        [[1.0, 0.0], [0.0, 1.0]], [0, 1],
        track_assignments=True, assign_dir=adir,
    )
    # (a) vec_id 100 arrives twice in one batch (identical vector).
    skm.foreach_batch()(batch(
        [(100, [1.0, 0.0]), (100, [1.0, 0.0]), (101, [0.0, 1.0])]
    ), 0)
    amap = skm.assignments(spark)
    assert amap == {100: 0, 101: 1}
    assert skm.assign_df(spark).count() == 2  # no duplicate state rows
    # NOTE the duplicate arrival still adds twice to the delta (both
    # copies processed; second subtracts the overlay's first) — net
    # mass is one contribution per distinct point:
    assert skm.n.tolist() == [1, 1]

    # (b) after 4 applied batches, at most 2 generation dirs remain.
    import os

    for bid in range(1, 4):
        skm.foreach_batch()(batch([(100 + bid, [1.0, 0.0])]), bid)
    gens = [d for d in os.listdir(adir) if d.startswith("state-v")]
    assert len(gens) <= 2, gens
    assert f"state-v{skm._assign_gen}" in gens


def test_streaming_kmeans_reassignment_property(spark, tmp_path):
    """Property: under arbitrary re-delivery patterns, reassignment
    tracking keeps (a) Σn == #distinct points, (b) per-cluster n equal
    to the assignment-map occupancy, and (c) every centroid equal to
    the exact mean of the vectors currently assigned to it (up to
    float addition/removal order, ~1e-9)."""
    import numpy as np

    from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

    for seed in range(5):
        rng = np.random.RandomState(seed)
        n_pts, dim, k = 20, 3, 3
        X = rng.randn(n_pts, dim)
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        init = rng.randn(k, dim)
        init = init / np.linalg.norm(init, axis=1, keepdims=True)
        skm = StreamingKMeans(init.tolist(), list(range(k)),
                              track_assignments=True,
                              assign_dir=str(tmp_path / f"assign-{seed}"))

        delivered: set = set()
        for bid in range(4):
            ids = rng.choice(n_pts, size=rng.randint(3, n_pts), replace=False)
            delivered.update(int(i) for i in ids)
            batch = spark.createDataFrame(
                [(int(i), [float(v) for v in X[i]]) for i in ids],
                "vec_id bigint, embedding array<float>",
            )
            skm.foreach_batch()(batch, bid)

        amap = skm.assignments(spark)
        assert set(amap) == delivered
        assert int(skm.n.sum()) == len(delivered)
        # Per-cluster occupancy matches the assignment table.
        Xf = X.astype(np.float32).astype(np.float64)  # array<float> round-trip
        for j, cid in enumerate(skm.cids):
            members = [v for v, c in amap.items() if c == int(cid)]
            assert int(skm.n[j]) == len(members)
            if members:
                expected = Xf[sorted(members)].mean(axis=0)
                np.testing.assert_allclose(skm.C[j], expected, rtol=1e-9,
                                           atol=1e-12)


def test_stream_cep_counts_pattern_straddling_batch_boundary(spark, registry, tmp_path):
    """The point of keeping NFA state across micro-batches: a
    view,click | … | purchase pattern whose pieces arrive in
    DIFFERENT batches must still count. Six events split 2/2/2 by the
    contiguous-time replay put user 1's 'v','c' in batch 0 and its
    'p' in batch 2 — a two-boundary straddle."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 1), 10, "view", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 2), 10, "click", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 0, 0, 3), 20, "view", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 0, 0, 4), 20, "error", 1.0, "{}"),
        (5, dt.datetime(2024, 1, 1, 0, 0, 5), 10, "purchase", 1.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 0, 0, 6), 20, "signup", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "cep_sf")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    queries, _ = registry
    got = {
        r.user_id: (r.n_events, r.n_funnels, r.converted)
        for r in queries["q_stream_cep"](spark, sf).collect()
    }
    assert got == {10: (3, 1, 1), 20: (3, 0, 0)}


def test_stream_slide_window_straddling_batch_boundary(spark, registry, tmp_path):
    """q_stream_slide's evidence claim: a sliding window whose events
    arrive in DIFFERENT micro-batches accumulates across triggers and
    emits exactly once. Six events over minutes 0-6 split 3/3 by the
    contiguous-time replay; the [00:00, 00:10) window holds all six —
    three from each batch — and the 5-minute-offset windows overlap
    both halves. Streamed output must equal the batch q_win_slide
    answer row-for-row (incl. the decimal sum)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, "view", float(i) + 0.25, "{}")
        for i in range(7)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "slide_sf")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    queries, _ = registry
    batch = {
        r.win_start: (r.n_events, r.sum_value)
        for r in queries["q_win_slide"](spark, sf).collect()
    }
    streamed = {
        r.win_start: (r.n_events, r.sum_value)
        for r in queries["q_stream_slide"](spark, sf).collect()
    }
    assert streamed == batch
    # And the straddling window really is in the output with all rows.
    assert streamed[base][0] == 7


def test_streaming_drives_survive_tiny_tables(spark, registry, tmp_path):
    """ADVICE r5: ntile(n) on a table with fewer rows than batches
    leaves empty batch files the replay prep rejects. The clamped
    drives (q_stream_quantile, q_stream_topk over documents;
    q_stream_slide over events) must run on 1-row and 2-row tables
    and still match their batch twins' semantics."""
    import datetime as dt

    queries, _ = registry

    for n in (1, 2):
        sf = str(tmp_path / f"tiny{n}")
        docs = spark.createDataFrame(
            [(i, f"alpha beta w{i}", 40 + i) for i in range(n)],
            "doc_id bigint, text string, n_chars int",
        )
        docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
        ev = spark.createDataFrame(
            [
                (
                    i,
                    dt.datetime(2024, 1, 1, 0, i, 0),
                    5,
                    "view",
                    1.5,
                    "{}",
                )
                for i in range(n)
            ],
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double, props string",
        )
        ev.coalesce(1).write.parquet(f"{sf}/events.parquet")

        qrows = queries["q_stream_quantile"](spark, sf).collect()
        assert {r.p for r in qrows} == {50, 90, 95, 99}
        toks = {r.tok: r.n for r in queries["q_stream_topk"](spark, sf).collect()}
        assert toks["alpha"] == n and toks["beta"] == n
        slide = {
            r.win_start: r.n_events
            for r in queries["q_stream_slide"](spark, sf).collect()
        }
        # every event lands in exactly 2 sliding windows
        assert sum(slide.values()) == 2 * n
        # events-driven drives with the same clamp (review r6):
        sess = queries["q_stream_session"](spark, sf).collect()
        assert sum(r.n_events for r in sess) == n
        jl = queries["q_stream_join_left"](spark, sf).collect()
        assert jl == []  # no purchases in the tiny corpus


def test_complete_mode_agg_recovers_from_checkpoint(spark, tmp_path):
    """Exactly-once resume of streaming aggregate state: run a
    complete-mode count aggregate over 2 of 3 batch files, let the
    query terminate, append the 3rd file, and restart from the SAME
    checkpoint — the engine must recover the counter state and
    process ONLY the new file, landing on exactly the batch answer
    (a re-read of old files would double-count; lost state would
    under-count)."""
    import os

    from flink_streaming_kmeans_spark.sources.loader import load_table
    from flink_streaming_kmeans_spark.sources.replay import (
        append_batch,
        batch_input_dir,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "event_type")
    d = str(tmp_path / "resume")
    os.makedirs(d)
    thirds = ev.withColumn(
        "bno", F.pmod(F.crc32(F.col("user_id").cast("string")), F.lit(3)).cast("int")
    )
    in_dir = batch_input_dir(thirds, d, range(2))  # only batches 0,1
    ckpt = os.path.join(d, "ckpt")

    def agg_of(stream_df):
        return stream_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )

    def run(qname):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        run_available_now(
            agg_of(stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname),
            qname,
            spark,
            checkpoint=ckpt,
        )

    run("resume_pass1")
    partial = {r.event_type: r.n for r in spark.table("resume_pass1").collect()}

    third = thirds.where(F.col("bno") == 2).drop("bno")
    append_batch(third, in_dir, 2)
    run("resume_pass2")
    final = {r.event_type: r.n for r in spark.table("resume_pass2").collect()}

    batch = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert final == batch, (final, batch)
    # and pass 1 was genuinely partial (state had something to resume)
    assert sum(partial.values()) < sum(batch.values())


def test_filesink_checkpoint_resume_equals_single_run(spark, tmp_path):
    """Checkpoint-resume invariance for the PRODUCTION sink path:
    append-mode watermarked window aggregate writing a parquet FILE
    sink (whose exactly-once story is the _spark_metadata transaction
    log, not an idempotent in-memory table — the surface
    test_complete_mode_agg_recovers_from_checkpoint doesn't touch).

    The same 3-batch event-time-ordered input is delivered (a) in one
    availableNow run and (b) as batch 0 alone, query terminates, then
    batches 1-2 appended and a SECOND availableNow run restarted from
    the same checkpoint + sink. Both runs see the identical trigger
    sequence (maxFilesPerTrigger=1, monotone mtimes), so the
    watermark trajectory, the state-store recovery, and the sink log
    must land on bitwise-equal sink contents — the nightly
    incremental-restart contract every availableNow production job
    relies on at 100 TB."""
    import os

    from flink_streaming_kmeans_spark.functions.vector import ts_valid
    from flink_streaming_kmeans_spark.sources.loader import load_table
    from flink_streaming_kmeans_spark.sources.replay import (
        batch_input_dir,
        time_batch_col,
    )

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .where(ts_valid("ts"))
        .select("event_id", "ts", "value")
    )

    def drive(tag, stages):
        """stages: list of batch-count prefixes to deliver per run
        (e.g. [3] = single shot; [1, 3] = deliver 1, run, top up to
        3, run again on the same checkpoint)."""
        d = str(tmp_path / tag)
        os.makedirs(d)
        full = batch_input_dir(
            time_batch_col(ev, 3), d, range(3)
        )  # batch-0000{0,1,2}.parquet, monotone mtimes
        held = {}
        for f in sorted(os.listdir(full)):
            held[f] = os.path.join(full, f)
        sink = os.path.join(d, "sink")
        ckpt = os.path.join(d, "ckpt")
        delivered = 0
        for upto in stages:
            # hide the not-yet-delivered files, preserving mtimes
            for i, f in enumerate(sorted(held)):
                p = held[f]
                hidden = p + ".hold"
                if i >= upto and os.path.exists(p):
                    os.rename(p, hidden)
                elif i < upto and os.path.exists(hidden):
                    os.rename(hidden, p)
            agg = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(full)
                .withWatermark("ts", "2 hours")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select(
                    F.col("w.start").cast("timestamp_ntz").alias("win_start"),
                    "n_events",
                )
            )
            run_available_now(
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink),
                f"{tag}_upto{upto}",
                spark,
                checkpoint=ckpt,
            )
            delivered = upto
        assert delivered == 3
        return sorted(
            (r.win_start, r.n_events)
            for r in spark.read.parquet(sink).collect()
        )

    single = drive("single", [3])
    resumed = drive("resumed", [1, 3])
    assert resumed == single, (len(resumed), len(single))
    # and the windows the single run emitted are genuinely non-empty
    # (an all-withheld-by-watermark run would make the equality vacuous)
    assert len(single) > 0


def test_shared_checkpoint_under_filesystem_manager(spark, tmp_path):
    """What two writers sharing one local checkpoint get now that
    run_available_now sends its logs through Spark's FileSystem-based
    checkpoint manager instead of FileContext.

    (a) The drive runs under that manager; the conf is scoped to it.
    (b) Two drives started together from two threads on one checkpoint
    serialize on the drive lock: the first applies every batch once,
    the second resumes from its commits and applies none, and each log
    holds every batch id once, with no temp file left.
    (c) At the log-file level the manager still refuses a second
    writer of an existing batch file and keeps the first writer's
    bytes. The refusal is an exists check before the rename, not
    FileContext's atomic no-overwrite rename: writers in two processes
    racing between check and rename would keep the later file. In one
    process (b) keeps them apart."""
    import threading

    from py4j.protocol import Py4JJavaError

    from flink_streaming_kmeans_spark.sources.replay import (
        _LOCAL_CKPT_MANAGER,
        batch_input_dir,
        replay_stream,
    )

    key = "spark.sql.streaming.checkpointFileManagerClass"
    base = spark.conf.get(key, None)
    df = spark.range(30).selectExpr("id", "cast(id % 3 as int) AS bno")
    in_dir = batch_input_dir(df, str(tmp_path / "replay"), range(3))
    ckpt = str(tmp_path / "ckpt")
    applied = {0: [], 1: []}
    managers = set()

    def drive(w):
        def apply(batch_df, batch_id):
            managers.add(spark.conf.get(key, None))
            applied[w].append((int(batch_id), batch_df.count()))

        writer = replay_stream(spark, in_dir, "id bigint").writeStream
        run_available_now(
            writer.foreachBatch(apply), f"shared_ckpt_{w}", spark, checkpoint=ckpt
        )

    threads = [threading.Thread(target=drive, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert managers == {_LOCAL_CKPT_MANAGER}  # (a)
    assert spark.conf.get(key, None) == base
    # (b) one writer applied batches 0-2, the other nothing.
    assert sorted(applied[0] + applied[1]) == [(0, 10), (1, 10), (2, 10)]
    assert [] in applied.values(), applied
    for log in ("offsets", "commits"):
        names = sorted(os.listdir(os.path.join(ckpt, log)))
        assert [n for n in names if not n.endswith(".crc")] == ["0", "1", "2"], names
        assert not [n for n in names if ".tmp" in n], names

    # (c) the manager refuses to replace a committed log file.
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    hconf.set(key, _LOCAL_CKPT_MANAGER)
    log = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "log"))
    managers_pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    fm = managers_pkg.CheckpointFileManager.create(log, hconf)
    assert fm.getClass().getName() == _LOCAL_CKPT_MANAGER
    first, second = (
        fm.createAtomic(jvm.org.apache.hadoop.fs.Path(log, "0"), False)
        for _ in range(2)
    )
    first.write(bytearray(b"first"))
    second.write(bytearray(b"second"))
    first.close()
    with pytest.raises(Py4JJavaError, match="FAILED_RENAME_PATH"):
        second.close()
    with open(tmp_path / "log" / "0", "rb") as f:
        assert f.read() == b"first"


def test_checkpoint_scheme_follows_default_fs(spark, tmp_path):
    """run_available_now picks the checkpoint manager by the filesystem
    Hadoop resolves the path to. A path with no scheme follows
    fs.defaultFS, so it is local only while that is; an explicit
    ``file:`` path is local under any default."""
    from flink_streaming_kmeans_spark.session import scoped_confs
    from flink_streaming_kmeans_spark.sources.replay import _filesystem_scheme

    path = str(tmp_path / "ckpt")
    assert _filesystem_scheme(spark, path) == "file"
    assert _filesystem_scheme(spark, "file:" + path) == "file"
    # Hadoop's HTTP filesystem stands in for a cluster's HDFS: creating
    # it opens no connection.
    with scoped_confs(spark, {"fs.defaultFS": "http://localhost:1/"}):
        assert _filesystem_scheme(spark, path) == "http"
        assert _filesystem_scheme(spark, "file:" + path) == "file"
    assert _filesystem_scheme(spark, path) == "file"


def test_stream_cep_nfa_equals_replace_count_on_random_sequences(
    spark, registry, tmp_path
):
    """The risky equivalence under q_stream_cep: its per-user KMP
    automaton and the batch oracle's replace-trick are DIFFERENT
    algorithms claiming the same answer. Random per-user sequences
    (including 'vvcpc'-style prefixes-around-matches) replayed
    through the streaming NFA must equal Python's non-overlapping
    str.count and a relaxed-subsequence check — with the 3-batch
    split landing mid-pattern for many users."""
    import datetime as dt
    import random
    import re

    rng = random.Random(23)
    types = {"v": "view", "c": "click", "p": "purchase",
             "e": "error", "s": "signup"}
    seqs = {}
    rows = []
    eid = 0
    for uid in range(1, 41):
        s = "".join(rng.choice("vcpes") for _ in range(rng.randint(0, 30)))
        # plant the adversarial shapes explicitly in a few users
        if uid == 1:
            s = "vvcpc"
        elif uid == 2:
            s = "vcvcp" * 3
        elif uid == 3:
            s = "vcpvcpvcp"
        seqs[uid] = s
        for ch in s:
            rows.append(
                (eid, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=eid),
                 uid, types[ch], 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "cep_rand")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    queries, _ = registry
    got = {
        r.user_id: (r.n_events, r.n_funnels, r.converted)
        for r in queries["q_stream_cep"](spark, sf).collect()
    }
    want = {
        uid: (len(s), s.count("vcp"), 1 if re.search("v.*c.*p", s) else 0)
        for uid, s in seqs.items()
        if s  # users with zero events never enter the stream
    }
    assert got == want


def test_session_gap_boundary_semantics(spark, registry, tmp_path):
    """Review-r6 CONFIRMED find: Spark's session_window MERGES an
    event arriving at exactly prev + gap into the open session (the
    first-draft oracle's >= flag split it — masked because fixture
    timestamps never land exactly on the 30-minute boundary). Pin the
    boundary on synthetic data through BOTH the batch query and the
    streaming drive: exact-gap events are one session; gap + 1s
    events split."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: three events exactly 30:00 apart -> ONE session
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=30), 1, "view", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=60), 1, "view", 1.0, "{}"),
        # user 2: gap of 30:00 + 1s -> TWO sessions
        (4, base, 2, "view", 1.0, "{}"),
        (5, base + dt.timedelta(minutes=30, seconds=1), 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    sf = str(tmp_path / "gap_sf")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")

    queries, _ = registry
    for name in ("q_win_session", "q_stream_session"):
        got = {
            (r.user_id, r.session_start): r.n_events
            for r in queries[name](spark, sf).collect()
        }
        assert got == {
            (1, base): 3,
            (2, base): 1,
            (2, base + dt.timedelta(minutes=30, seconds=1)): 1,
        }, (name, got)


def test_streaming_kmeans_duplicate_across_partitions(spark, tmp_path):
    """A within-batch duplicate vec_id whose copies land in DIFFERENT
    scan partitions must still commit exactly one state row and
    subtract its old cluster exactly once (review r6: the broadcast
    state join preserved the batch's partitioning, so each partition
    ran the overlay independently — double-subtraction and a fanned-out
    next-batch join)."""
    import numpy as np

    from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

    root = str(tmp_path)
    skm = StreamingKMeans(
        [[1.0, 0.0], [0.0, 1.0]], [0, 1],
        state_path=root + "/state.npz",
        track_assignments=True, assign_dir=root + "/assign",
    )

    def batch(rows, nparts):
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).repartition(nparts)

    # Batch 1 (the mass-conservation test's geometry): p,q -> c0;
    # s -> c1; the moved c0 then loses the tie for p in batch 2.
    skm.foreach_batch()(
        batch([(100, [0.75, 0.75]), (101, [1.0, 0.0]),
               (102, [0.5, 0.875])], 2),
        0,
    )
    assert skm.assignments(spark) == {100: 0, 101: 0, 102: 1}
    assert skm.n.tolist() == [2, 1]

    # Batch 2: p re-arrives TWICE, copies forced across 4 partitions.
    # Against the moved centroids p flips to c1; the flip must be
    # subtracted from c0 exactly once, and the state must hold ONE row.
    skm.foreach_batch()(
        batch([(100, [0.75, 0.75]), (100, [0.75, 0.75]),
               (103, [0.0, 1.0])], 4),
        1,
    )
    a = skm.assignments(spark)
    assert a == {100: 1, 101: 0, 102: 1, 103: 1}
    # One state row per distinct vec_id (the join must not fan out).
    state_rows = skm._assign_state(spark).groupBy("vec_id").count()
    assert state_rows.where("count > 1").count() == 0
    # Mass conserved: 4 distinct points; the duplicate arrival of p
    # nets one re-add/remove pair, not a double subtraction.
    assert int(skm.n.sum()) == 4
    assert (skm.n >= 0).all()
    assert skm.n.tolist() == [1, 3]


def test_stream_sentinel_and_identity_laws(spark, registry, tmp_path):
    """r8 streaming-fuzz pins, two classes one fixture:

    1. Sentinel exclusion is STRUCTURAL (by time), not by user value:
       a real user at -2^63 and a real user -1 (the old in-band
       sentinel value) both keep their sessions / join rows — the
       `user_id >= 0` filter that swallowed every negative user is
       gone from q_stream_session and q_stream_join_left.
    2. Law 49 — identity participation: rows with NULL event_id have
       no identity and BYPASS identity-keyed dedup (multiplicity
       preserved), so two distinct unknown-identity events both
       survive q_stream_dedup, matching the oracle.
    """
    import duckdb
    from datetime import datetime

    from oracle import check_parity, copy_sf_tables, make_duckdb

    queries, oracles = registry
    t0 = datetime(2024, 1, 15, 12, 0, 0)
    rows = [
        # negative-user session (old filter swallowed it)
        (911001, t0, -(2**63), "view", 1.0, None),
        # real user -1: a purchase with a click 10 min earlier -> one
        # join_left row AND one session of 2 events
        (911002, datetime(2024, 1, 15, 12, 5), -1, "click", 2.0, None),
        (911003, datetime(2024, 1, 15, 12, 15), -1, "purchase", 3.0, None),
        # two identity-less rows, distinct payloads (law 49)
        (None, t0, 7, "view", 4.0, None),
        (None, t0, 8, "view", 5.0, None),
    ]
    sf = copy_sf_tables(SF_SMOKE, str(tmp_path / "pin"))
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.execute(
        "CREATE TEMP TABLE fz AS SELECT * FROM read_parquet(?) LIMIT 0",
        [f"{sf}/events.parquet"],
    )
    con.executemany(
        "INSERT INTO fz (event_id, ts, user_id, event_type, value, props)"
        " VALUES (?,?,?,?,?,?)",
        rows,
    )
    con.sql(
        f"COPY (SELECT * FROM read_parquet('{sf}/events.parquet')"
        f" UNION ALL BY NAME SELECT * FROM fz)"
        f" TO '{sf}/_e.parquet' (FORMAT PARQUET)"
    )
    con.close()
    os.replace(f"{sf}/_e.parquet", f"{sf}/events.parquet")

    oc = make_duckdb(sf)
    for q in ("q_stream_session", "q_stream_join_left", "q_stream_dedup"):
        r = check_parity(spark, oc, q, queries[q], oracles[q], sf)
        assert r.ok, f"{q}: {r.detail}"
    oc.close()

    # non-vacuity: the planted rows actually reach the outputs
    sess = queries["q_stream_session"](spark, sf)
    users = {r.user_id for r in sess.select("user_id").distinct().collect()}
    assert -(2**63) in users and -1 in users
    jl = queries["q_stream_join_left"](spark, sf)
    assert jl.where(F.col("user_id") == -1).count() >= 1
    dd = queries["q_stream_dedup"](spark, sf)
    assert dd.where(F.col("event_id").isNull()).count() == 2


def test_stream_dedup_single_streaming_scan(spark, monkeypatch):
    """r8/r9 verdict task 4: the law-49 NULL-identity handling must not
    pay a second streaming scan. The old shape unioned two branches of
    the readStream (dedup(not-null) + passthrough(null)) — two
    FileStreamSources, +1.4 s at sf0.1; the surrogate-key shape routes
    both classes through ONE source and ONE dedup state store. Pinned
    at BOTH layers: StreamingRelation count in the started query's
    logical plan (the shape about to execute) AND the terminated
    query's own progress events (the shape that DID execute — every
    progress row lists one ``sources`` entry per physical streaming
    source scanned that trigger, and their summed numInputRows must
    equal the replayed input including the injected duplicates, so the
    metric cannot be a vacuous empty-run artifact)."""
    from flink_streaming_kmeans_spark.plans import streams as S

    seen = {}
    real = S.run_available_now

    def spy(writer, name, spark=None, **kw):
        plan = writer._df._jdf.queryExecution().logical().toString()
        q = real(writer, name, spark, **kw)
        seen[name] = {
            "logical_sources": plan.count("StreamingRelation"),
            "executed_sources": {
                len(p["sources"]) for p in q.recentProgress
            },
            "input_rows": sum(
                src["numInputRows"]
                for p in q.recentProgress
                for src in p["sources"]
            ),
        }
        return q

    monkeypatch.setattr(S, "run_available_now", spy)
    df = S.q_stream_dedup(spark, SF_SMOKE)
    out_rows = df.count()
    assert out_rows > 0
    got = seen.get("q_stream_dedup")
    assert got and got["logical_sources"] == 1, (
        f"q_stream_dedup plans {got} streaming scans; the single-scan "
        f"surrogate-key shape scans once"
    )
    # Executed evidence: every trigger that ran read from exactly ONE
    # streaming source (a second readStream branch would list two
    # sources per progress event), and the run consumed more rows than
    # it emitted (the injected event_id%7 duplicates were real input).
    assert got["executed_sources"] == {1}, (
        f"executed progress shows source counts {got['executed_sources']}"
    )
    assert got["input_rows"] > out_rows, (
        f"run consumed {got['input_rows']} rows vs {out_rows} emitted — "
        f"the duplicate-injection drive should consume strictly more"
    )


def test_ensure_eviction_probe_soundness_and_guard(spark, tmp_path):
    """r13 flake hardening (replay.run_available_now ensure_eviction):
    (a) on a normal watermarked append drive the probe must observe
    the final zero-input eviction batch (numInputRows == 0 in the
    last progress entry) and therefore NOT restart — the terminated
    query's batchId count equals data batches + 1; (b) combining
    ensure_eviction with final_no_data_batch=False is a contract
    error and must raise before starting anything."""
    import datetime as dt
    import os

    import pytest
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.sources.loader import local_df
    from flink_streaming_kmeans_spark.sources.replay import stage_time_batches

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, i, 0), float(i)) for i in range(20)
    ]
    ev = local_df(spark, rows, "event_id bigint, ts timestamp, value double")
    d = str(tmp_path / "evict")
    in_dir, n = stage_time_batches(ev, d, 2)
    assert n == 2

    agg = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", os.path.join(d, "sink"))
        .outputMode("append")
    )
    q = run_available_now(writer, "evict_probe", spark, ensure_eviction=True)
    progress = q.recentProgress
    # the eviction batch ran and is observable exactly as the probe
    # expects: last entry, zero input rows — so no restart happened
    # (batchIds are 0..n inclusive of the one no-data batch)
    assert progress and int(progress[-1]["numInputRows"]) == 0
    assert int(progress[-1]["batchId"]) == n  # n data batches + 1

    with pytest.raises(ValueError, match="ensure_eviction"):
        run_available_now(
            writer,
            "evict_guard",
            spark,
            final_no_data_batch=False,
            ensure_eviction=True,
        )


def test_concurrent_drives_leave_session_confs_restored(spark, registry):
    """r13 close regression: two conf-scoped drives on ONE session
    from two threads raced the save/restore of session-global confs
    (noDataMicroBatches, shuffle partitions) — T2 could save T1's
    scoped value as its baseline and restore it last, leaving e.g.
    noDataMicroBatches=false stuck session-wide, which silently drops
    every later append-finalization drive's tail (session 943/946 —
    the exact r13 full-suite cascade). run_available_now now
    serializes the conf-scoped region under a module lock; this pins
    the invariant the multi-tenant contract relies on: after ANY
    concurrent drive pair, the session confs are back to baseline and
    an eviction-dependent drive still matches its batch answer. The
    same holds for stage_time_batches' outputTimestampType flip, which
    each q_stream_tumble drive makes."""
    import threading

    queries, _ = registry
    base_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    base_ts = spark.conf.get("spark.sql.parquet.outputTimestampType")

    for _ in range(3):  # three interleavings of the racy self-pair
        ts = [
            threading.Thread(
                target=lambda: queries["q_stream_tumble"](
                    spark, SF_SMOKE
                ).collect()
            )
            for _ in range(2)
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert (
            spark.conf.get(
                "spark.sql.streaming.noDataMicroBatches.enabled", "true"
            )
            == base_ndb
        ), "noDataMicroBatches leaked past the drive scope"
        assert (
            spark.conf.get("spark.sql.shuffle.partitions") == base_parts
        ), "shuffle partitions leaked past the drive scope"
        assert (
            spark.conf.get("spark.sql.parquet.outputTimestampType") == base_ts
        ), "parquet timestamp type leaked past the staging write"

    # and an eviction-dependent drive still emits its full tail —
    # exact: the streaming sessionization must equal its batch twin's
    # row count (a leaked noDataMicroBatches=false loses exactly the
    # tail sessions, 943 vs 946 at sf0.001)
    n_stream = queries["q_stream_session"](spark, SF_SMOKE).count()
    n_batch = queries["q_win_session"](spark, SF_SMOKE).count()
    assert n_stream == n_batch, (n_stream, n_batch)


def test_streaming_kmeans_tracking_requires_assign_dir():
    """Tracked state lives only where the caller says: no default
    home, no sweep of other runs' state."""
    from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

    with pytest.raises(ValueError, match="assign_dir"):
        StreamingKMeans([[1.0, 0.0]], [0], track_assignments=True)


def test_streaming_registry_queries_pin_their_values(spark, registry):
    """The two streaming registry queries are rows-only in preflight,
    so their values are pinned here. ``q_kmeans_stream`` equals a numpy
    MacQueen run over the same first-k init and the same five
    ``vec_id mod 5`` batches: cluster ids and counts exactly, each
    centroid norm to the query's ``mround`` precision (half a unit of
    its 4th decimal, plus float slack for the fold order). Every row of
    ``q_kmeans_stream_reassign`` counts one distinct point once, so its
    Σ n_points is the distinct vec_id count."""
    import numpy as np

    from flink_streaming_kmeans_spark.functions.vector import emb_finite
    from flink_streaming_kmeans_spark.sources.loader import load_table

    queries, _ = registry
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .where(F.col("vec_id").isNotNull() & emb_finite("embedding"))
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    k = 10
    C, cids = X[:k].copy(), ids[:k]
    S, n = np.zeros_like(C), np.zeros(k, dtype="int64")
    for b in range(5):
        Xb = X[ids % 5 == b]
        best = np.argmax(Xb @ C.T, axis=1)
        for j in range(k):
            S[j] += Xb[best == j].sum(axis=0)
            n[j] += int((best == j).sum())
        nz = n > 0
        C[nz] = S[nz] / n[nz, None]

    got = queries["q_kmeans_stream"](spark, SF_SMOKE).collect()
    assert [r.cluster_id for r in got] == sorted(cids.tolist())
    by = dict(zip(cids.tolist(), zip(n.tolist(), np.linalg.norm(C, axis=1))))
    for r in got:
        want_n, want_norm = by[r.cluster_id]
        assert r.n_points == want_n, r
        assert abs(r.centroid_norm - want_norm) <= 0.5e-4 + 1e-9, (r, want_norm)

    reassign = queries["q_kmeans_stream_reassign"](spark, SF_SMOKE).collect()
    assert sum(r.n_points for r in reassign) == len(set(ids.tolist()))
