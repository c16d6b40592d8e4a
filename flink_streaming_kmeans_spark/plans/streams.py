"""Round-5 streaming-evidence queries — the reference's continuous
behaviors driven through REAL Structured Streaming queries and
recorded by the driver, not just test-tier.

Reference analog: the Flink demo is a streaming engine end-to-end
(SURVEY.md §1.1 [PK]; checkout was empty) — its pipeline is a
continuous source → stateful operators → continuous sink. The batch
registry proves operator SEMANTICS; this module proves the streaming
EXECUTION of ten of them equals those semantics, each with the
strongest oracle tier its state shape admits:

- q_stream_dedup    (hash): stateful dropDuplicatesWithinWatermark
- q_stream_join     (hash): stream-stream event-time interval join
- q_stream_upsert   (hash): foreachBatch CDC merge into the lakehouse
- q_stream_session  (hash): session-window sessionization, append mode
- q_stream_cep      (hash): keyed CEP NFA state advanced per batch
- q_stream_hll      (hash): HLL registers as a complete-mode
  stateful streaming aggregate (engine-managed <=256-key state)
- q_stream_join_left (hash): LEFT OUTER interval join — unmatched
  rows emit on watermark-driven state eviction (sentinel-flushed)
- q_stream_quantile (hash): the 128-bin histogram as a
  complete-mode streaming aggregate + batch quantile finisher
- q_stream_topk    (hash): heavy-hitter counters as a complete-mode
  streaming aggregate + exact top-20 finisher
- q_kmeans_stream_reassign (rows): online k-means under RE-DELIVERY,
  exercising the per-point remove/add arithmetic of the reference
  co-operator (streaming/kmeans.py track_assignments)

WINDOW NOTE: this module's registration position rotates each round;
plans/registry.py ``_MODULES`` is the canonical plan (it registers
second in the round-14 window). Do NOT add queries to this module
while it is in the window prefix (round-6 additions went to
plans/streaming_ext.py).

The event-time drives replay their tables as CONTIGUOUS TIME-RANGE
micro-batch files (sources/replay.py; monotone mtimes pin
FileStreamSource order) so watermarks advance monotonically and never
late-drop — the q_stream_tumble lesson (r4 ADVICE).
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import client_ntz, emb_finite, mround, sql_dsumr, sql_mround, sql_ts_valid, ts_valid
from ..session import scratch_path
from ..sources.loader import load_table, local_df
from ..sources.replay import (
    append_batch,
    batch_input_dir,
    memory_sink_name,
    replay_stream,
    run_available_now,
    stage_time_batches,
    staged_bounds,
)
from .registry import register


@register(
    "q_stream_dedup",
    oracle=f"""
    SELECT event_id, date_trunc('second', ts) AS ts_s,
           {sql_mround('value')} AS value
    FROM events WHERE {sql_ts_valid('ts')}
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Stateful streaming deduplication: the events table is replayed
    as 3 contiguous-time micro-batches with EXACT duplicate rows
    injected (every event_id % 7 == 0 row appears twice in its batch);
    ``dropDuplicatesWithinWatermark(["event_id"])`` under a 2-hour
    watermark emits each event exactly once, so the parquet-sink
    stream output equals the plain events table — the batch semantics the
    hash oracle states. Duplicates are bit-exact copies, so whichever
    copy survives carries identical values (no arrival-order surface).

    Scale: dedup state is one entry per event_id inside the watermark
    horizon; the watermark evicts state continuously — the standard
    exactly-once ingestion shape for at-least-once sources at 100 TB.
    The law-49 NULL-identity handling is a SURROGATE KEY inside the
    single stateful operator (r8 verdict task 4 — this replaced the
    two-branch readStream union that paid a second streaming scan,
    +1.4 s at sf0.1): non-NULL ids dedupe on the id itself; a NULL-id
    row gets a per-row ``uuid()`` key, so it flows through the same
    dedup state untouched and multiplicity is preserved — two
    bit-identical unknown-identity events both survive, matching the
    oracle. The uuid is non-deterministic but OUTPUT-INVISIBLE: it is
    unique per row by construction (never matches any state entry,
    including under task retry — the parquet sink commits files
    atomically per batch, so a retried batch replaces, not appends),
    and it is dropped before the sink. One scan, one state store;
    NULL-trickle state entries evict at the same watermark horizon as
    real ids.
    """
    # ts_valid: event-time domain gate (r6 extreme-timestamp sweep)
    ev = load_table(spark, sf_dir, "events").where(ts_valid("ts")).select(
        "event_id", "ts", "value"
    )
    # Empty-source guard + ntile clamp via the staging write itself
    # (r13, guide §1.5 — the separate limit-count probe job is gone):
    # stage_time_batches returns how many contiguous batch files the
    # ntile split actually produced; zero means an empty stream, the
    # r8 empty-sweep path unchanged. Output is batch-count-invariant
    # (module contract), so clamping on the union's row count rather
    # than the pre-union probe count is observationally identical.
    dups = ev.where(F.col("event_id") % 7 == 0)
    d = scratch_path("stream_dedup")
    in_dir, cnt = stage_time_batches(ev.unionAll(dups), d, 3)
    if cnt == 0:
        # timestamp_ntz, matching the client_ntz non-empty path (law 47
        # + r8 ADVICE: the empty and non-empty paths must agree).
        return spark.createDataFrame(
            [], "event_id bigint, ts_s timestamp_ntz, value double"
        )

    # Identity participation (law 49, r8 streaming fuzz arm): a row
    # with NULL event_id has no identity and cannot participate in
    # identity-keyed deduplication — dropDuplicates treats NULL keys
    # as EQUAL, so two distinct unknown-identity events collapsed to
    # one on Spark while the oracle (rightly) kept both. NULL-id rows
    # pass through the shared dedup state under a unique surrogate key
    # with multiplicity preserved (docstring above), the same
    # participation shape as law 45's NULL histogram bins and the
    # NULL-entity-id dedup contract. Non-NULL event_id remains the
    # source PRIMARY KEY: the drive's injected duplicates are
    # bit-exact copies, and an id-collision with DISTINCT payloads is
    # upstream corruption whose surviving copy is arrival-order/
    # watermark-dependent — outside the hash domain.
    stream = replay_stream(spark, in_dir, ev.schema).withWatermark(
        "ts", "2 hours"
    )
    deduped = (
        stream.withColumn(
            "dedup_key",
            F.when(F.col("event_id").isNull(), F.expr("uuid()")).otherwise(
                F.col("event_id").cast("string")
            ),
        )
        .dropDuplicatesWithinWatermark(["dedup_key"])
        .drop("dedup_key")
    )
    # Engine-side sink (r5 verdict task 2): append-mode parquet file
    # sink — the driver holds nothing data-proportional. The file sink
    # preserves MULTIPLICITY: if the stateful dedup ever emitted both
    # copies of a duplicate, the extra row lands in the sink and fails
    # the row-count/hash compare (a keyed driver dict would mask it).
    sink_dir = os.path.join(d, "sink")
    # final_no_data_batch=False (r13, guide §1.2): dedup emits each
    # event at FIRST sight, eagerly on its data batch; the final
    # no-data micro-batch only evicts state that the availableNow
    # query is about to discard anyway — a full trigger (~0.4 s) for
    # zero output rows. Output identical (3-SF oracle-verified).
    run_available_now(
        deduped.writeStream.format("parquet")
        .option("path", sink_dir),
        "q_stream_dedup",
        spark,
        # partitions=2 (r13): per-trigger state commit was 165-428 ms
        # of a 270-880 ms addBatch at parts=4; the interleaved A/B has
        # 2 parts + the no-data skip at 2.59 → 2.24 s warm-min.
        partitions=2,
        final_no_data_batch=False,
    )

    # Explicit sink schema (guide §6; r12): the file sink wrote
    # exactly the stream frame's schema — skip the footer-inference
    # pass on read-back (one driver-side job per drive).
    return client_ntz(
        spark.read.schema(deduped.schema).parquet(sink_dir).select(
            "event_id",
            F.date_trunc("second", "ts").alias("ts_s"),
            mround("value").alias("value"),
        )
    )


@register(
    "q_stream_join",
    oracle=f"""
    SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    WHERE {sql_ts_valid('p.ts')} AND {sql_ts_valid('c.ts')}
    """,
)
def q_stream_join(spark, sf_dir):
    """Stream-stream INNER join with an event-time interval condition
    (each purchase joined to the same user's clicks in the preceding
    hour), both sides watermarked — the canonical enrichment join of a
    continuous pipeline. Inner-join results emit eagerly on match;
    the 2-hour watermark (> the 1-hour join window) only bounds state,
    so with contiguous-time batches the append-mode output equals the
    batch interval join exactly — the hash oracle. Output is integer
    triples (user_id, p_id, c_id): no float surface at all.

    Scale: join state is each side's rows inside watermark+interval;
    eviction is continuous. The equivalent batch plan at 100 TB is the
    binned range join (q_join_range_binned); this is its streaming
    face. Hot-entity caveat (r9 skew rung): OUTPUT grows quadratically
    in a single key's per-interval event density — one bot user with
    30% of a 1M-event stream emits millions of pairs, and that is the
    CORRECT answer (the batch oracle explodes identically), not an
    engine defect: state stays watermark-bounded and throughput per
    output row is flat (tools/skew_probe.py normalizes by output
    volume). The production mitigation is semantic, upstream — per-key
    rate capping or pre-aggregation before the join — not an engine
    knob."""
    # ts_valid: event-time domain gate (r6 extreme-timestamp sweep)
    ev = load_table(spark, sf_dir, "events").where(ts_valid("ts")).select(
        "event_id", "user_id", "event_type", "ts"
    )
    # Empty-source guard + ntile clamp via the staging write (r13 —
    # see q_stream_dedup): zero joined pairs is the oracle's answer.
    d = scratch_path("stream_join")
    in_dir, cnt = stage_time_batches(ev, d, 3)
    if cnt == 0:
        return spark.createDataFrame(
            [], "user_id bigint, p_id bigint, c_id bigint"
        )

    p = (
        replay_stream(spark, in_dir, ev.schema)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        replay_stream(spark, in_dir, ev.schema)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        F.expr(
            "user_id = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
    ).select("user_id", "p_id", "c_id")

    # Engine-side sink (r5 verdict task 2): append-mode parquet file
    # sink; every joined pair lands in the sink, nothing
    # data-proportional crosses the driver.
    sink_dir = os.path.join(d, "sink")
    # final_no_data_batch=False (r13, guide §1.2): INNER interval-join
    # matches emit eagerly on the data batch that completes them (the
    # docstring's own semantics); the final no-data micro-batch only
    # runs watermark eviction of state the terminating query discards
    # — measured 0.7 s/trigger of pure state-commit + offset-log cost
    # for zero output rows. The LEFT join twin keeps the default: its
    # unmatched rows emit exactly there. Output identical
    # (3-SF oracle-verified).
    run_available_now(
        joined.writeStream.format("parquet")
        .option("path", sink_dir)
        .outputMode("append"),
        "q_stream_join",
        spark,
        # partitions=2 (r13): this drive's triggers are state-commit-
        # dominated — symmetricHashJoin keeps 4 stores per partition,
        # and the decomposition measured 620-1200 ms commit inside a
        # 600-770 ms addBatch at parts=4; the interleaved A/B has
        # 2 parts + the no-data skip at 4.58 → 3.53 s warm-min.
        partitions=2,
        final_no_data_batch=False,
    )
    # Explicit sink schema (guide §6; r12): skip the read-back
    # footer-inference pass.
    return spark.read.schema(joined.schema).parquet(sink_dir)


@register(
    "q_stream_upsert",
    # Oracle: identical to q_merge_cow's — incremental disjoint-key
    # merges compose to the single logical MERGE (kept inline so this
    # module's oracles read standalone; lockstep with plans/lakehouse).
    oracle=f"""
    WITH src AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN -o_custkey
                    ELSE o_custkey END AS custkey,
               c_mktsegment AS segment,
               {sql_dsumr('o_totalprice')}
                   AS spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        GROUP BY 1, 2
    ),
    merged AS (
        -- presence markers, not value-null-ness; merge branch SCOPED
        -- to the touched partitions with verbatim passthrough of the
        -- rest — partition-scoped copy-on-write semantics (lockstep
        -- with lakehouse._merge_fn / _SQL_SRC, see the rationale
        -- there).
        SELECT CASE WHEN t.in_t THEN t.c_custkey ELSE s.custkey END AS custkey,
               CASE WHEN t.in_t THEN t.c_name ELSE 'NEW' END AS name,
               CASE WHEN s.in_s THEN s.spend
                    ELSE CAST(t.c_acctbal AS DOUBLE) END AS acctbal,
               CASE WHEN t.in_t THEN t.c_mktsegment ELSE s.segment END AS segment
        FROM (SELECT *, TRUE AS in_t FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')) t
        FULL OUTER JOIN (SELECT *, TRUE AS in_s FROM src) s
          ON t.c_custkey = s.custkey
        UNION ALL
        -- law 50: lake write boundary normalizes '' partition keys
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE),
               NULLIF(c_mktsegment, '')
        FROM customer
        WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
           OR c_mktsegment IS NULL
    )
    SELECT custkey, name,
           (CASE WHEN (acctbal) IS NULL OR isnan(acctbal)
                      OR abs(acctbal) > 1e12 THEN (acctbal)
                 ELSE floor((acctbal) * 10000 + 0.5) / 10000 END) AS acctbal,
           segment
    FROM merged
    """,
)
def q_stream_upsert(spark, sf_dir):
    """Streaming CDC upsert sink: the merge source replayed as 3
    micro-batches of DISJOINT custkey ranges, each foreachBatch
    committing one copy-on-write MERGE snapshot on the manifest
    lakehouse (operators/lakehouse.merge_cow — Delta's streaming MERGE
    pattern on our format). Because the key sets are disjoint, the
    composition of incremental merges equals the single logical MERGE,
    so the final snapshot read carries q_merge_cow's FULL-VALUE hash
    oracle — driver-recorded proof that continuous ingestion converges
    to batch semantics, with per-batch snapshots time-travelable.

    Scale: each micro-batch commit rewrites only its touched
    partitions (O(churn)); commit is an atomic pointer swap; readers
    prune files from the manifest. This is the standard continuous
    lake-ingestion shape at 100 TB."""
    # Lazy import: plans modules must not import each other at module
    # scope (registration-order discipline, registry.py).
    from .lakehouse import _merge_fn, _merge_source, _seed_table

    root = _seed_table(spark, sf_dir)
    src = _merge_source(spark, sf_dir)

    from ..operators.lakehouse import merge_cow, read_table

    d = scratch_path("stream_upsert")
    # Batches of DISJOINT, contiguous custkey ranges (ntile on the
    # ordered key — insert keys are negated custkeys, so range-split
    # keeps every batch non-empty where a mod split would not).
    # Empty-source guard + ntile clamp via the staging write (r13 —
    # see q_stream_dedup); the probe this replaces was the round's
    # most expensive one, a limit-count that partially evaluated the
    # whole merge-source join+aggregate. A merge of nothing IS the
    # seed snapshot — return it directly (the seed's empty-table read
    # works via the manifest-recorded schema).
    in_dir, cnt = stage_time_batches(src, d, 3, order_cols=("custkey",))
    if cnt == 0:
        t = read_table(spark, root)
        return t.select(
            "custkey", "name", mround("acctbal").alias("acctbal"), "segment"
        )

    def fb(batch_df, _bid):
        # isEmpty short-circuits at the first row; a count() here
        # would run a full aggregation job per trigger.
        if not batch_df.isEmpty():
            merge_cow(spark, root, batch_df, _merge_fn)

    run_available_now(
        replay_stream(spark, in_dir, src.schema)
        .writeStream.foreachBatch(fb),
        "q_stream_upsert",
        spark,
    )

    t = read_table(spark, root)
    return t.select(
        "custkey", "name", mround("acctbal").alias("acctbal"), "segment"
    )


@register("q_kmeans_stream_reassign")  # rows-only: streaming state
def q_kmeans_stream_reassign(spark, sf_dir):
    """The reference co-operator's FULL semantics driver-recorded:
    online k-means where re-arriving points are REASSIGNED — removed
    from their old cluster, added to the new one (Feature add/subtract
    arithmetic, streaming/kmeans.py ``track_assignments``). The
    embeddings table arrives as 3 vec_id-mod micro-batches, then
    batches 0-1's vectors are RE-DELIVERED as batches 4-5; by then the
    centroids have moved, so a fraction of the re-seen points flip
    clusters and their old contributions are subtracted. Output: one
    row per centroid (cluster_id, n_points, centroid_norm) + a
    mass-conservation proof column — Σ n_points equals the DISTINCT
    point count (500 at sf0.01) although ~5/3 of the table's rows
    were delivered, which is exactly the invariant plain MacQueen
    cannot produce.

    Rows-tier: iterative streaming state is outside DuckDB's model
    (SURVEY §2 rows-tier rule); Lloyd parity, flip arithmetic, and
    restart are asserted in tests/test_streaming.py."""
    import numpy as np

    from ..operators.kmeans import first_k_init
    from ..streaming.kmeans import StreamingKMeans

    e = (
        load_table(spark, sf_dir, "embeddings")
        # isNotNull: the assignment state is KEYED on vec_id — a NULL
        # entity id cannot be tracked (r7 probe); emb_finite: r6.
        .where(F.col("vec_id").isNotNull() & emb_finite("embedding"))
        .select("vec_id", "embedding")
    )
    d = scratch_path("kstream_reassign")
    skm = StreamingKMeans(
        *first_k_init(e), track_assignments=True,
        assign_dir=os.path.join(d, "assign"),
    )
    # 3 primary batches (vec_id mod 3) + re-delivery of batches 0-1:
    # 5 triggers. The evidence needs (a) multi-batch arrival so the
    # centroids move between deliveries and (b) re-delivered batches
    # whose flipped points exercise the subtract path — both are
    # batch-count-invariant (7 triggers measured the same laws for
    # 2 extra per-batch state commits of wall time).
    in_dir = batch_input_dir(
        e.withColumn("bno", F.pmod("vec_id", F.lit(3))),
        d,
        [0, 1, 2, 0, 1],
    )

    # partitions=2: the per-batch state join shuffles ~5000 tiny rows,
    # so 2 reducers beat 4 on pure task overhead (7 batches x join +
    # state write each); the conf is load-sized, not code-sized — see
    # the partition-count comment in replay.run_available_now.
    run_available_now(
        replay_stream(spark, in_dir, e.schema)
        .writeStream.foreachBatch(skm.foreach_batch()),
        "q_kmeans_stream_reassign",
        spark,
        partitions=2,
    )

    n_distinct = skm.assign_count(spark)
    rows = [
        (int(c), int(n), float(np.linalg.norm(C_row)), int(n_distinct))
        for c, n, C_row in zip(skm.cids, skm.n, skm.C)
    ]
    out = local_df(
        spark,
        rows,
        "cluster_id int, n_points bigint, centroid_norm double,"
        " n_distinct_seen bigint",
    )
    return out.select(
        "cluster_id",
        "n_points",
        mround("centroid_norm").alias("centroid_norm"),
        "n_distinct_seen",
    ).orderBy("cluster_id")


@register(
    "q_stream_session",
    # Oracle: identical to q_win_session's (plans/events.py) — the
    # batch gaps-and-islands sessionization the streaming state must
    # converge to.
    oracle=f"""
    WITH marked AS (
        -- ts IS NOT NULL: session_window drops NULL event times
        -- structurally (lockstep with q_win_session's oracle;
        -- NULL-events sweep, r6)
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE ts IS NOT NULL AND {sql_ts_valid('ts')}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, date_trunc('second', MIN(ts)) AS session_start,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def q_stream_session(spark, sf_dir):
    """Stateful streaming SESSIONIZATION: the events table replayed as
    3 contiguous-time micro-batches through a session_window (30 min
    gap) aggregation in APPEND mode (Spark rejects update mode for
    session windows); each session emits exactly once when the
    watermark passes its end — so the append-mode sink output per
    (user, session_start) equals the batch gaps-and-islands
    sessionization, q_win_session's FULL-VALUE hash oracle.

    Flushing the tail: in append mode the LAST session of every user
    would sit unfinalized at stream end (its end + gap is beyond the
    final watermark). One sentinel batch for a sentinel user
    (user_id −1, far in the future) advances the watermark past every
    real session; the availableNow trigger's final no-data micro-batch
    (on by default) then evicts and emits the finalized state. The
    sentinel's own (never-finalized) session is excluded by the sink
    filter. With contiguous time-range batches sessions only extend
    forward, so every real session emits exactly once — asserted
    in-engine over the sink. Two real batches keep the mid-stream
    boundary the evidence needs (sessions straddle it and mid-stream
    emissions fire in batch 1); five batches measured 3x the wall
    time for identical output (r5 verdict task 3).

    Scale: session state is per (user, open session); the watermark
    evicts closed sessions continuously — the standard continuous
    sessionization shape. The batch twin q_win_session proves the
    semantics; this drive proves the streaming EXECUTION matches it.
    """
    from datetime import timedelta

    # ts_valid: event-time domain gate (r6 extreme-timestamp sweep);
    # also what makes the sentinel arithmetic (max + 3d) safe
    ev = load_table(spark, sf_dir, "events").where(ts_valid("ts")).select(
        "user_id", "ts", "event_id"
    )
    d = scratch_path("stream_session")
    # Staging-derived clamp + empty guard (r13 — see q_stream_dedup).
    in_dir, n_batches = stage_time_batches(ev, d, 2)
    if n_batches == 0:
        # Empty events: zero sessions (the oracle's answer); the
        # sentinel arithmetic would choke.
        # timestamp_ntz matches the client_ntz non-empty path (law 47
        # + r8 ADVICE: empty and non-empty schemas must agree).
        return spark.createDataFrame(
            [], "user_id bigint, session_start timestamp_ntz, n_events bigint"
        )
    # Sentinel bound from the staged files' parquet footers, no Spark
    # job (r13, guide §6). ts is NULL-free here (ts_valid gate), so
    # footer max == agg max.
    _, top = staged_bounds(ev, in_dir, "ts")
    # Python timedelta == SQL INTERVAL here: both are fixed 72h
    # offsets on a UTC timestamp. local_df keeps the 1-row sentinel
    # write off the Python-RDD path (sources/loader.local_df).
    t3 = top + timedelta(days=3)
    sent1 = local_df(spark, [(-1, t3, -1)], ev.schema)
    # appended file, not a union — see sources/replay.append_batch
    append_batch(sent1, in_dir, n_batches)

    agg = (
        replay_stream(spark, in_dir, ev.schema)
        .withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    # Engine-side sink (r5 verdict task 2): append-mode parquet file
    # sink; the sentinel filter and the exactly-once assertion run in
    # Spark over the sink — the driver sees only one boolean.
    sink_dir = os.path.join(d, "sink")
    run_available_now(
        agg.writeStream.format("parquet")
        .option("path", sink_dir)
        .outputMode("append"),
        "q_stream_session",
        spark,
        # append-mode tail sessions emit ONLY in the final eviction
        # batch — verify it ran, restart once from the checkpoint if
        # the engine concluded early (r13 flake; see run_available_now)
        ensure_eviction=True,
    )

    # Exclude the SENTINEL'S SESSION structurally, by time, not by
    # user value: every real session starts at a real event ts <= the
    # source max, while the sentinel's (never-finalized, but belt-and-
    # braces) session starts at top+3d. The old `user_id >= 0` filter
    # excluded EVERY negative user, not just the -1 sentinel — a
    # planted user_id of -2^63 lost its session against a clean
    # oracle (r8 streaming fuzz arm, seed 7297), and a real user -1
    # was an in-band collision by construction. The bound is an
    # IN-PLAN broadcast of max(ts), not the collected `top` literal:
    # a Python-datetime literal would round-trip through driver
    # memory and shift on a non-UTC host (law 47).
    m = ev.agg(F.max("ts").alias("m_ts"))
    res = (
        # Explicit sink schema (guide §6; r12): skip the read-back
        # footer-inference pass.
        spark.read.schema(agg.schema).parquet(sink_dir)
        .crossJoin(F.broadcast(m))
        .where(F.col("session_start") <= F.col("m_ts"))
        .drop("m_ts")
    )
    # Append mode emits each finalized session exactly once; a
    # re-emission would surface as a duplicate (user, session_start)
    # key in the sink. Bounded check: one empty/non-empty probe.
    dups = (
        res.groupBy("user_id", "session_start")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    assert dups.isEmpty(), "session re-emitted"
    return client_ntz(res.select(
        "user_id",
        # registry rule 2 + lockstep with q_win_session (review r6)
        F.date_trunc("second", "session_start").alias("session_start"),
        "n_events",
    ))


@register(
    "q_stream_cep",
    # Oracle: identical to q_evt_cep's batch semantics (kept inline so
    # this module's oracles read standalone; lockstep with
    # plans/coverage.q_evt_cep).
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               -- COALESCE: string_agg over ONLY-NULL chars is NULL
               -- where Spark's array_join of the skipped list is ''
               -- (law 16; r7 composed superset — an all-NULL-type
               -- user made n_funnels NULL on one engine only)
               COALESCE(string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id), '') AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST((length(seq) - length(replace(seq, 'vcp', ''))) // 3
                AS BIGINT) AS n_funnels,
           CAST(CASE WHEN seq LIKE '%v%c%p%' THEN 1 ELSE 0 END AS INT)
               AS converted
    FROM seqs
    """,
)
def q_stream_cep(spark, sf_dir):
    """STREAMING complex-event-processing — the Flink CEP analog run
    as a real stateful stream, not a batch re-aggregation: the events
    table replays as 3 contiguous-time micro-batches; each
    foreachBatch advances a per-user NFA held in a parquet state
    store via a COGROUPED applyInPandas (state ⟂ batch on user_id),
    so a pattern that STRADDLES a micro-batch boundary (…v,c | p,…)
    is matched exactly like Flink CEP's keyed NFA state would — the
    per-user state is 4 integers (event count, strict-NFA state ∈
    {start, saw-v, saw-vc}, relaxed progress ∈ 0..3, match count),
    NOT the event history. The strict automaton is the KMP acceptor
    of 'vcp' (restart-on-v fallback), which counts exactly the
    leftmost non-overlapping occurrences — i.e. the batch oracle's
    replace-trick — and the contiguous-time replay makes
    concatenation of batch-local (ts, event_id) orders equal the
    global order, so the final state provably equals q_evt_cep's
    batch answer, which is the hash oracle recorded here.

    Scale: state is O(4 ints) per user (watermark-evictable in a
    production keyed-state backend); each micro-batch's work is one
    JVM-side per-user sequence aggregate (the q_evt_cep codegen
    shape) followed by one cogrouped shuffle of
    |batch users|+|state users| ONE-ROW-PER-USER rows. The cogroup
    is keyed on a 64-way user-hash BUCKET, not on user_id: an
    applyInPandas group costs a pandas DataFrame construction, so
    10k single-user groups per batch was pure overhead (measured
    25 s at sf0.1) — bucketing gives 64 Arrow-sized groups and the
    per-user NFA loop runs inside them (25.3 s -> 9.7 s, same
    result; the residual is trigger/state-commit overhead shared by
    every streaming drive; exactly how a production state backend
    shards keys). The state
    round-trips through parquet per batch — the checkpointed
    state-store analog this container admits
    (transformWithStateInPandas blocked by protobuf,
    streaming/stateful.py)."""
    import pandas as pd

    _N_BUCKETS = 64

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("i")
    )
    # Empty-source guard + ntile clamp via the staging write (r13 —
    # see q_stream_dedup): no events, no NFAs.
    d = scratch_path("stream_cep")
    in_dir, cnt = stage_time_batches(ev, d, 3)
    if cnt == 0:
        return spark.createDataFrame(
            [], "user_id bigint, n_events bigint, n_funnels bigint, converted int"
        )

    state_schema = (
        "user_id bigint, n_events bigint, nfa int, rel int, n_funnels bigint"
    )
    state = {"df": spark.createDataFrame([], state_schema)}

    def fold_bucket(key, state_pdf, batch_pdf):
        # NULL user_id arrives as NaN in the Arrow→pandas frame;
        # int(NaN) raised before this key helper existed (NULL-events
        # sweep, r6). None is a perfectly good dict key and writes
        # back as a NULL bigint, so the NULL user gets its own NFA —
        # matching the oracle's GROUP BY user_id NULL group.
        def ukey(v):
            return None if pd.isna(v) else int(v)

        st = {
            ukey(r.user_id): [int(r.n_events), int(r.nfa), int(r.rel), int(r.n_funnels)]
            for r in state_pdf.itertuples()
        }
        for r in batch_pdf.itertuples():
            n_ev, nfa, rel, nf = st.get(ukey(r.user_id), (0, 0, 0, 0))
            # Event count from the batch COUNT, not len(bseq):
            # array_join SKIPS a NULL sequence char (NULL event_type),
            # but the event still happened — the oracle's COUNT(*)
            # counts it (NULL-events sweep, r6).
            n_ev += int(r.bn)
            for ch in r.bseq:
                if nfa == 0:
                    nfa = 1 if ch == "v" else 0
                elif nfa == 1:
                    nfa = 2 if ch == "c" else (1 if ch == "v" else 0)
                else:  # saw 'vc'
                    if ch == "p":
                        nf += 1
                        nfa = 0
                    else:
                        nfa = 1 if ch == "v" else 0
                if rel == 0 and ch == "v":
                    rel = 1
                elif rel == 1 and ch == "c":
                    rel = 2
                elif rel == 2 and ch == "p":
                    rel = 3
            st[ukey(r.user_id)] = [n_ev, nfa, rel, nf]
        return pd.DataFrame(
            [[u, *v] for u, v in st.items()],
            columns=["user_id", "n_events", "nfa", "rel", "n_funnels"],
        )

    def advance(batch_df, bid):
        # Per-user batch-local sequence: whole-stage-codegen aggregate
        # (array_sort pins the (ts, event_id) total order) — Python
        # sees one short string per (user, batch), never per event.
        # The leading ts-IS-NULL flag pins NULLS LAST inside the batch
        # (array_sort alone orders a NULL struct field FIRST), so the
        # concatenated batch-local orders equal the oracle's global
        # ORDER BY ts, event_id — time_batch_col already routes NULL-ts
        # rows to the LAST batch for the same reason (r7 composed
        # sweep; lockstep with q_evt_cep's batch construction).
        bseq = batch_df.groupBy("user_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts").isNull().alias("z"),
                                F.col("ts"),
                                F.col("event_id"),
                                F.col("i"),
                            )
                        )
                    ),
                    lambda s: s["i"],
                ),
                "",
            ).alias("bseq"),
            F.count(F.lit(1)).alias("bn"),
        )
        bucket = F.pmod("user_id", F.lit(_N_BUCKETS))
        new = (
            state["df"]
            .groupby(bucket.alias("b"))
            .cogroup(bseq.groupby(bucket.alias("b")))
            .applyInPandas(fold_bucket, state_schema)
        )
        # Materialize each generation to its own path: the state-store
        # commit (and it breaks the per-batch lineage chain).
        path = os.path.join(d, f"state-v{bid}")
        new.write.mode("overwrite").parquet(path)
        # Explicit schema (guide §6; r12): the state layout is fixed
        # by state_schema — per-generation footer inference was one
        # driver-side pass per micro-batch.
        state["df"] = spark.read.schema(state_schema).parquet(path)

    stream = replay_stream(spark, in_dir, ev.schema)
    # partitions stays 4 (r13 probe): this drive has NO state store
    # (foreachBatch; the parquet generations are the state) and its
    # triggers carry real per-batch compute — the cogrouped pandas NFA
    # fold. parts=2 measured WORSE interleaved (warm-min 4.13/4.20 at
    # 4 parts vs 5.48/4.73 at 2): halving the cogroup task parallelism
    # costs more than the saved task overhead, same shape as the
    # q_stream_session parts probe (replay.run_available_now).
    run_available_now(
        stream.writeStream.foreachBatch(advance), "q_stream_cep", spark
    )
    return state["df"].select(
        "user_id",
        "n_events",
        "n_funnels",
        (F.col("rel") == 3).cast("int").alias("converted"),
    )


@register(
    "q_stream_hll",
    # Oracle: identical to q_sketch_hll's batch registers (inline so
    # this module's oracles read standalone; lockstep with
    # plans/sketches.q_sketch_hll).
    oracle="""
    WITH h AS (
        SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)
            AS hv
        FROM events
    ), br AS (
        SELECT CAST(hv % 256 AS INT) AS bucket,
               hv // 256 AS v
        FROM h
    )
    SELECT bucket,
           CAST(MAX(CASE WHEN v = 0 THEN 53
                         ELSE 53 - length(bin(v)) END) AS INT) AS max_rank
    FROM br GROUP BY bucket
    """,
)
def q_stream_hll(spark, sf_dir):
    """STREAMING cardinality sketch: the HLL register file maintained
    by Spark's OWN stateful streaming aggregation — the events table
    replays as 3 micro-batches; ``groupBy(bucket).max(rank)`` runs as
    a streaming aggregate in COMPLETE mode (state = the 256 registers
    in the state store, max-merged per batch by the engine, no custom
    state code), and the final complete-mode table hash-equals the
    batch q_sketch_hll registers — driver-recorded proof that the
    sketch's max-merge is ORDER- AND PARTITION-INDEPENDENT, which is
    the algebraic property that lets HLL state merge across 1000
    executors or across micro-batches interchangeably at 100 TB.

    Streaming aggregation state here is bounded by construction
    (<=256 keys), so no watermark is needed — the canonical
    'small-keyspace running aggregate' streaming shape."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    # Empty-source guard + ntile clamp via the staging write (r13 —
    # see q_stream_dedup): an empty stream has empty registers.
    d = scratch_path("stream_hll")
    in_dir, cnt = stage_time_batches(ev, d, 3)
    if cnt == 0:
        return spark.createDataFrame([], "bucket int, max_rank int")

    stream = replay_stream(spark, in_dir, ev.schema)
    br = stream.select(
        F.expr(
            "CAST(conv(substr(md5(cast(user_id as string)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("hv")
    ).select(
        (F.col("hv") % 256).cast("int").alias("bucket"),
        F.expr("hv div 256").alias("v"),
    )
    rank = F.when(F.col("v") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.expr("bin(v)"))
    )
    agg = br.groupBy("bucket").agg(F.max(rank).cast("int").alias("max_rank"))

    qn = memory_sink_name("hll_regs_", d)
    run_available_now(
        agg.writeStream.outputMode("complete").format("memory").queryName(qn),
        "q_stream_hll",
        spark,
    )
    return spark.table(qn)


@register(
    "q_stream_join_left",
    oracle=f"""
    SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id
    FROM (SELECT * FROM events WHERE {sql_ts_valid('ts')}) p
    LEFT JOIN (SELECT * FROM events WHERE {sql_ts_valid('ts')}) c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    WHERE p.event_type = 'purchase'
    """,
)
def q_stream_join_left(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the semantics
    q_stream_join (inner) cannot show: an unmatched left row emits
    with NULLs only when the WATERMARK proves no match can still
    arrive (inner results emit eagerly; outer results are
    watermark-driven state evictions). Purchases left-join the same
    user's clicks in the preceding hour; two sentinel batches with
    far-future rows on BOTH filtered sides push the watermark past
    the data span after the real batches, flushing every unmatched
    purchase — so the append-mode sink output equals the batch LEFT
    interval join exactly (the hash oracle). Sentinels must survive
    each side's event_type filter (they sit BEFORE the watermark
    operator, which only sees rows that reach it), so they carry the
    filtered types with user_id = -1 and are filtered out of the
    sink read-back. One sentinel batch suffices: the availableNow
    trigger's final no-data micro-batch (on by default) runs the
    watermark-driven eviction that emits the NULL rows (r5 verdict
    task 3 — the second sentinel batch bought nothing).

    Scale: identical state shape to the inner join (each side's rows
    inside watermark+interval, continuously evicted); the outer
    variant adds only the eviction-time NULL emission. This is the
    streaming face of enrichment joins that must NOT drop unmatched
    facts at 100 TB (e.g. orphan purchases feeding a quality
    monitor)."""
    from datetime import timedelta

    # ts_valid: event-time domain gate (r6 extreme-timestamp sweep);
    # also what makes the sentinel arithmetic (max + 3d) safe
    ev = load_table(spark, sf_dir, "events").where(ts_valid("ts")).select(
        "event_id", "user_id", "event_type", "ts"
    )
    # 2 real batches + 1 sentinel batch (appended as its own file —
    # sources/replay.append_batch — NOT unioned into the main write,
    # which was measured 8x slower): the outer semantics need only
    # (a) a batch boundary inside the data for mid-stream evictions
    # and (b) the sentinel to flush the tail via the final no-data
    # batch. Staging-derived clamp + empty guard (r13 — see
    # q_stream_dedup).
    d = scratch_path("stream_join_left")
    in_dir, n_batches = stage_time_batches(ev, d, 2)
    if n_batches == 0:
        # Empty events: the LEFT join over an empty probe side is
        # empty (the oracle's answer).
        return spark.createDataFrame(
            [], "user_id bigint, p_id bigint, c_id bigint"
        )
    # Sentinel bound from the staged footers (see q_stream_session).
    _, top = staged_bounds(ev, in_dir, "ts")
    # Python timedelta == SQL INTERVAL on a UTC timestamp; local_df
    # keeps the 2-row sentinel write off the Python-RDD path.
    t3 = top + timedelta(days=3)
    s1 = local_df(
        spark,
        [(-1, -1, "purchase", t3), (-2, -1, "click", t3)],
        ev.schema,
    )
    append_batch(s1, in_dir, n_batches)

    p = (
        replay_stream(spark, in_dir, ev.schema)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        replay_stream(spark, in_dir, ev.schema)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    # p_ts rides along to the sink solely so the sentinel exclusion
    # below can be structural (by time) — it is dropped on read-back.
    joined = p.join(
        c,
        F.expr(
            "user_id = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
        "leftOuter",
    ).select("user_id", "p_id", "c_id", "p_ts")

    # Engine-side sink (r5 verdict task 2): append-mode parquet file
    # sink; the sentinel filter runs in Spark over the sink read-back,
    # and nothing data-proportional crosses the driver.
    sink_dir = os.path.join(d, "sink")
    run_available_now(
        joined.writeStream.format("parquet")
        .option("path", sink_dir)
        .outputMode("append"),
        "q_stream_join_left",
        spark,
        partitions=2,
        # unmatched-left NULL rows emit only in the final eviction
        # batch (r13 flake hardening; see run_available_now)
        ensure_eviction=True,
    )
    # Exclude the SENTINEL'S ROWS structurally, by time: real
    # purchases have p_ts <= the source max; the sentinel purchase
    # sits at top+3d. The old `user_id >= 0` filter excluded every
    # negative user (not just the -1 sentinel) and collided with a
    # real user -1 (r8 streaming fuzz arm — same class as the
    # q_stream_session fix; the r6/r7 NULL-user lessons carry over
    # unchanged, NULL-user purchases stay). In-plan broadcast bound,
    # not the collected `top` literal (law 47).
    m = ev.agg(F.max("ts").alias("m_ts"))
    return (
        # Explicit sink schema (guide §6; r12): skip the read-back
        # footer-inference pass.
        spark.read.schema(joined.schema).parquet(sink_dir)
        .crossJoin(F.broadcast(m))
        .where(F.col("p_ts") <= F.col("m_ts"))
        .drop("p_ts", "m_ts")
    )


@register(
    "q_stream_quantile",
    # Oracle: identical to q_sketch_quantile's batch answer (inline;
    # lockstep with plans/sketches.q_sketch_quantile).
    oracle="""
    WITH stats AS (
        SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents
    ), b AS (
        SELECT ((n_chars - mn) * 128) // (mx - mn + 1) AS bin
        FROM documents, stats
        WHERE n_chars IS NOT NULL
    ), h AS (
        SELECT bin, COUNT(*) AS n FROM b GROUP BY bin
    ), c AS (
        SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum,
               SUM(n) OVER () AS total
        FROM h
    ), probes AS (
        SELECT CAST(p AS INT) AS p
        FROM unnest([50, 90, 95, 99]) t(p)
    ), hit AS (
        SELECT probes.p, MIN(c.bin) AS bin
        FROM probes JOIN c ON 100 * c.cum >= probes.p * c.total
        GROUP BY probes.p
    )
    SELECT p, bin,
           mn + (bin * (mx - mn + 1) + 127) // 128 AS lo,
           mn + ((bin + 1) * (mx - mn + 1) + 127) // 128 - 1 AS hi
    FROM hit, stats
    """,
)
def q_stream_quantile(spark, sf_dir):
    """STREAMING quantile sketch: the 128-bin histogram maintained by
    Spark's own stateful streaming aggregation (complete mode,
    engine-managed <=128-key counter state — the linear-sketch twin
    of q_stream_hll's max-merge registers: counters SUM across
    micro-batches exactly as they sum across executors), then the
    quantile probe runs as a batch finisher over the final 128-row
    register table. Hash-equals q_sketch_quantile's batch answer —
    driver-recorded proof the histogram is a mergeable linear sketch
    under micro-batch arrival.

    The bin domain (min/max) is computed on the bounded table before
    the drive — in production the codebook comes from a prior pass
    or a fixed domain, same as q_emb_quantize's codebook; the
    streaming part is the counter state, which is the part that must
    merge. Documents replay as 3 batches split by doc_id ranges
    (ANY split works — sums are order-independent; no event-time
    column exists on documents, and none is needed: no watermark,
    bounded keyspace)."""
    from .sketches import histogram_quantiles  # lazy: registration-order rule

    # Participation contract (law 45 — see q_sketch_quantile): NULL
    # n_chars cannot occupy a bin; filtered on BOTH engines.
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .where(F.col("n_chars").isNotNull())
    )
    dd = scratch_path("stream_quantile")
    # Staging-derived clamp + empty guard (r13 — see q_stream_dedup).
    in_dir, nb = stage_time_batches(d, dd, 3, ("doc_id",))
    if nb == 0:
        # Empty table: the batch twin's oracle yields zero rows, and
        # interpolating None into SQL would be invalid anyway.
        return spark.createDataFrame(
            [], "p int, bin bigint, lo bigint, hi bigint"
        )
    # Bin domain from the staged files' parquet footers, no Spark job
    # (r13, guide §6). Integer footer stats are EXACT and exclude
    # NULLs, and n_chars is NULL-free here (isNotNull gate), so footer
    # min/max == agg min/max — the binning codebook is bit-identical.
    mn, mx = staged_bounds(d, in_dir, "n_chars")
    width = mx - mn + 1

    stream = replay_stream(spark, in_dir, d.schema)
    hist = (
        stream.select(
            F.expr(f"((n_chars - {mn}) * 128) div {width}").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qn = memory_sink_name("qhist_", dd)
    run_available_now(
        hist.writeStream.outputMode("complete").format("memory").queryName(qn),
        "q_stream_quantile",
        spark,
    )
    return histogram_quantiles(spark, spark.table(qn), mn, width)


@register(
    "q_stream_topk",
    # Oracle: identical to q_text_heavy_hitters' batch answer
    # (inline; lockstep with plans/corpus.q_text_heavy_hitters).
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), c AS (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    )
    SELECT tok, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS INT) AS rank
    FROM c ORDER BY n DESC, tok LIMIT 20
    """,
)
def q_stream_topk(spark, sf_dir):
    """STREAMING heavy hitters: the per-token counters maintained by
    a complete-mode stateful streaming aggregate over a replayed
    document stream (tokens explode INSIDE the stream — a stateless
    narrow op before the stateful count), with the exact top-20+rank
    finisher running as a batch query over the final counter table.
    Hash-equals q_text_heavy_hitters' batch answer — the counter
    state sums across micro-batches exactly as across executors
    (same linear-sketch algebra as q_stream_quantile's histogram;
    the vocabulary IS the keyspace, which this corpus bounds at ~31 —
    at 100 TB you'd cap state with the CMS (q_sketch_cms) and keep
    exact counters only for its candidate heavy hitters, the
    standard two-tier topology).

    Documents replay as 3 doc_id-split batches: no event-time column
    exists and none is needed (sums are order-independent — the
    split-invariance law asserted in tests/test_sketches.py)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dd = scratch_path("stream_topk")
    # Empty-source guard + ntile clamp via the staging write (r13 —
    # see q_stream_dedup).
    in_dir, n_batches = stage_time_batches(d, dd, 3, ("doc_id",))
    if n_batches == 0:
        return spark.createDataFrame([], "tok string, n bigint, rank int")

    stream = replay_stream(spark, in_dir, d.schema)
    counts = (
        stream.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qn = memory_sink_name("topk_", dd)
    run_available_now(
        counts.writeStream.outputMode("complete").format("memory").queryName(qn),
        "q_stream_topk",
        spark,
    )
    top = spark.table(qn).orderBy(F.desc("n"), "tok").limit(20)
    return top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("n"), "tok")).cast("int")
    )
