"""§2.12 round-4 extensions — training-data pipeline operators.

Reference analog: none directly (the Flink demo stops at clustering —
SURVEY.md §1.1 [PK]; checkout was empty); these are the north-star
brief's "operations a large-scale training-data pipeline would need":
deterministic sharding, curriculum ordering WITHOUT a global sort,
second-moment (Gram) statistics over the embedding corpus, cohort
retention analytics, and a value histogram — plus the streaming twin
of the tumbling-window aggregate promoted to a driver-recorded query.

Registration order is governed by registry._MODULES — the CANONICAL
rotation plan lives there, next to the list (this module was appended
last in round 4; the rotation has moved it since, and the round-8 plan
fronts it inside the window — do not trust module-local framing over
registry.py). Every hash query here follows the repo determinism
discipline
(registry.py:10-14): integer bucketing, decimal sums, matched rounds,
md5-based hashing shared with textops.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import DUCK_H60, SPARK_H60
from ..functions.vector import client_ntz, davg, dsum, dsumr, emb_finite, fin, isum64, mround, sql_davg, sql_dsum, sql_emb_finite, sql_fin, sql_mround, sql_ts_valid, ts_valid
from ..sources.loader import _tmp_out, fan_out, load_table, local_df
from ..sources.replay import replay_stream, run_available_now, stage_time_batches
from .registry import register

# 60-bit md5 prefix as BIGINT — canonical copies in
# functions/hashing.py (non-registering — review r6 hoist).
_SPARK_H60, _DUCK_H60 = SPARK_H60, DUCK_H60


@register(
    "q_shard_assign",
    oracle=f"""
    WITH sharded AS (
        SELECT doc_id, n_chars, source,
               CAST({_DUCK_H60.format(x='CAST(doc_id AS VARCHAR)')} % 16
                    AS INT) AS shard
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM sharded
    GROUP BY shard
    """,
)
def q_shard_assign(spark, sf_dir):
    """Deterministic hash sharding: every doc lands in md5(doc_id)%16,
    independent of partitioning, ordering, cluster size, or reruns —
    the shard-assignment step every training run needs to be auditable
    and resumable. Output: per-shard occupancy (count, bytes, source
    spread) — the skew report that validates hash uniformity.

    Scale: per-row hash + one 16-group hash-agg with map-side combine;
    the shard column is also exactly what a DataFrameWriter
    .partitionBy/.bucketBy would consume, making the write
    embarrassingly parallel at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    h = _SPARK_H60.format(x="CAST(doc_id AS STRING)")
    sharded = d.select(
        "n_chars", "source", F.expr(f"CAST({h} % 16 AS INT)").alias("shard")
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # law 48: raw-column bigint sum through decimal(38,0) so a
        # corrupt extreme n_chars fails identically on both engines
        isum64("n_chars", "total_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "q_curriculum_order",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               CAST(LEAST(n_chars // 40, 9) AS INT) AS band,
               {_DUCK_H60.format(x='text')} AS h
        FROM documents
    ), r AS (
        SELECT doc_id, band,
               ROW_NUMBER() OVER (PARTITION BY band
                                  ORDER BY h NULLS LAST, doc_id NULLS LAST) AS rn
        FROM b
    ), o AS (
        SELECT band, COUNT(*) AS c FROM b GROUP BY band
    ), oo AS (
        SELECT band,
               COALESCE(SUM(c) OVER (ORDER BY band NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS off
        FROM o
    )
    SELECT r.doc_id, r.band, CAST(oo.off + r.rn AS BIGINT) AS global_pos
    FROM r JOIN oo USING (band)
    """,
)
def q_curriculum_order(spark, sf_dir):
    """Curriculum ordering (short docs first, hash-shuffled within a
    band) producing a GLOBAL position WITHOUT a global sort: rank
    within each length band in parallel, then add broadcast per-band
    offsets (cumulative counts of earlier bands). A single
    ``ORDER BY`` over 100 TB funnels the world through one task chain;
    this construction keeps every shuffle band-parallel and the only
    serial state is the 10-row offset table.

    Determinism: bands are integer division of n_chars, intra-band
    order is (md5(text), doc_id) — rerun- and partitioning-stable.
    NULL ordering is pinned NULLS LAST on both engines (review r6:
    Spark defaults ASC NULLS FIRST, DuckDB NULLS LAST — a NULL
    n_chars/text row would shift EVERY band offset or intra-band rank
    without the pin; NULL-band rows themselves drop at the equi-join
    identically on both engines)."""
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.expr("CAST(LEAST(n_chars div 40, 9) AS INT)").alias("band"),
        F.expr(_SPARK_H60.format(x="text")).alias("h"),
    )
    r = b.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("band").orderBy(
                # both keys nulls-last (law 40, r8 fuzz sweep)
                F.asc_nulls_last("h"), F.asc_nulls_last("doc_id")
            )
        ),
    )
    o = b.groupBy("band").agg(F.count(F.lit(1)).alias("c"))
    oo = o.withColumn(
        "off",
        F.coalesce(
            F.sum("c").over(
                W.orderBy(F.asc_nulls_last("band")).rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("band", "off")
    return r.join(F.broadcast(oo), "band").select(
        "doc_id",
        "band",
        (F.col("off") + F.col("rn")).cast("bigint").alias("global_pos"),
    )


@register(
    "q_emb_gram",
    oracle=f"""
    SELECT CAST(r1.range AS INT) AS i, CAST(r2.range AS INT) AS j,
           {sql_davg(
               'embedding[CAST(r1.range AS INT) + 1]::DOUBLE'
               ' * embedding[CAST(r2.range AS INT) + 1]::DOUBLE',
               'm_ij',
           )}
    FROM (SELECT embedding FROM embeddings
          WHERE {sql_emb_finite('embedding')}) e
    CROSS JOIN range(64) r1 CROSS JOIN range(64) r2
    WHERE r1.range <= r2.range
    GROUP BY r1.range, r2.range
    """,
)
def q_emb_gram(spark, sf_dir):
    """Second-moment (Gram / uncentered covariance) matrix of the
    embedding corpus — the statistic behind PCA whitening, IVF/OPQ
    codebook training, and drift monitoring: m_ij = mean(e_i * e_j)
    over all vectors, upper triangle (2,080 of 64×64 entries).

    Scale shape: each row flat-maps to its 2,080 upper-triangle
    products (a per-row transform, no join — the self-join-on-vec_id
    formulation would shuffle the corpus TWICE), and the d²-group
    hash-agg combines map-side, so the shuffle carries 2,080 partial
    rows per partition regardless of corpus size. Exact decimal
    summation keeps the mean order-independent; products of the same
    two floats are bit-identical on both engines.

    Hot path: TWO chained posexplodes (the second over slice(emb,
    i+1, 64), so only the upper triangle is ever generated) — Generate
    runs inside whole-stage codegen, unlike the round-4
    flatten(transform(…transform(…struct…))) formulation whose nested
    interpreted higher-order functions allocated 2,080 structs per row
    in the interpreter (the exact pattern this repo measured 24× slow
    on shingles and banned, plans/llm.py) and made this the suite's
    slowest query (9.0 s; r4 verdict task 4). Same rows, same
    arithmetic, same oracle — only the generation strategy changed.
    fan_out restores parallelism over the single-file local scan (the
    2,080-products-per-row compute is exactly its use case); decimal
    summation keeps the result partition-count-independent."""
    e = fan_out(
        load_table(spark, sf_dir, "embeddings").where(
            emb_finite("embedding")  # vector-op contract (r6 sweeps)
        )
    )
    x = e.select(
        F.posexplode("embedding").alias("i0", "vi"), "embedding"
    ).select(
        "i0",
        "vi",
        F.expr("posexplode(slice(embedding, i0 + 1, 64))").alias("j0", "vj"),
    )
    p = (
        F.col("vi").cast("double") * F.col("vj").cast("double")
    ).alias("p")
    z = x.select(
        F.col("i0").cast("int").alias("i"),
        (F.col("i0") + F.col("j0")).cast("int").alias("j"),
        p,
    )
    return z.groupBy("i", "j").agg(davg("p", "m_ij"))


@register(
    "q_evt_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ), acts AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS act_day FROM events
    )
    SELECT f.cohort_day, a.act_day,
           CAST(date_diff('day', f.cohort_day, a.act_day) AS INT) AS day_n,
           COUNT(*) AS n_users
    FROM firsts f JOIN acts a USING (user_id)
    GROUP BY 1, 2, 3
    """,
)
def q_evt_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-seen day, counted on
    each later active day — the (cohort × day-N) matrix every product
    analytics stack computes.

    Scale: one user-keyed agg (first-seen), one (user, day) distinct,
    then a join co-partitioned on user_id (both sides already shuffled
    by user) and a tiny final agg — two data-sized shuffles total, no
    broadcast needed but AQE can pick one if the cohort side shrinks."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    acts = ev.select("user_id", day.alias("act_day")).distinct()
    j = acts.join(firsts, "user_id")
    return (
        j.groupBy("cohort_day", "act_day")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            "cohort_day",
            "act_day",
            F.datediff("act_day", "cohort_day").cast("int").alias("day_n"),
            "n_users",
        )
    )


@register(
    "q_evt_histogram",
    oracle=f"""
    WITH b AS (
        -- finite values only: a NaN/±inf measure has no bin (floor of
        -- it overflows the INT cast on one engine and not the other —
        -- r6 NaN/Inf sweep); lockstep with the Spark side's fin gate
        SELECT CAST(FLOOR(value / 5.0) AS INT) AS bucket, value
        FROM events
        WHERE {sql_fin('value')} IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n,
           {sql_dsum('value', 'sum_value')},
           {sql_mround('MIN(value)')} AS min_value,
           {sql_mround('MAX(value)')} AS max_value
    FROM b
    GROUP BY bucket
    """,
)
def q_evt_histogram(spark, sf_dir):
    """Fixed-width value histogram (bucket = floor(value/5)) with
    per-bucket count/sum/min/max — the profiling pass that sizes skew
    salts and chooses range-join bins. Bucketing is one IEEE division
    + floor of identical doubles (deterministic cross-engine); MIN/MAX
    select existing values, so only the matched round touches them.

    Scale: per-row map + low-cardinality hash-agg with map-side
    combine — the cheapest possible full-scan statistic."""
    ev = load_table(spark, sf_dir, "events").where(fin("value").isNotNull())
    b = ev.select(
        F.floor(F.col("value") / 5.0).cast("int").alias("bucket"), "value"
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "sum_value"),
        mround(F.min("value")).alias("min_value"),
        mround(F.max("value")).alias("max_value"),
    )


@register(
    "q_stream_tumble",
    oracle=f"""
    -- ts IS NOT NULL: F.window drops NULL event times structurally
    -- (lockstep with q_win_tumble's oracle; NULL-events sweep, r6)
    SELECT date_trunc('hour', ts) AS win_start,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events WHERE ts IS NOT NULL AND {sql_ts_valid('ts')}
    GROUP BY date_trunc('hour', ts)
    """,
)
def q_stream_tumble(spark, sf_dir):
    """The streaming twin of q_win_tumble run through a REAL stateful
    Structured Streaming aggregation: events replayed as 3 fixed file
    micro-batches into ``groupBy(window(ts, '1 hour'))`` with a 2-hour
    watermark, foreachBatch keeping the latest update-mode emission per
    window; the final state (one row per hour window) is returned.

    Batches are CONTIGUOUS TIME RANGES (ntile(3) over ts order), so the
    watermark — which advances to max(ts)-2h only between batches —
    never drops a row: batch b's earliest ts is >= batch b-1's latest.
    (The round-4 event_id-mod-3 split made every batch span the full
    30-day range, so after batch 0 the watermark sat near max(ts) and
    late-dropped nearly all later rows — the r4 ADVICE catch.) With no
    late drops the streaming state is exactly the batch aggregate: the
    state accumulates the same order-independent DECIMAL(30,6) sum the
    batch twin computes, so this query now carries q_win_tumble's
    FULL-VALUE hash oracle — driver-recorded proof that the streaming
    path equals batch semantics, upgraded from the rows-tier claim.

    Scale: the streaming agg keeps one state row per open window in
    the state store; the watermark bounds state growth — the standard
    production shape for continuous rollups. (The ntile split is
    drive-side scaffolding, not the operator.)"""
    # event-time domain gate (r6 extreme-timestamp sweep): the
    # streaming machinery has real time boundaries — see ts_valid
    ev = load_table(spark, sf_dir, "events").where(ts_valid("ts")).select(
        "event_id", "ts", "value"
    )
    # Empty-source guard + ntile clamp via the staging write (r13,
    # guide §1.5 — see q_stream_dedup; the separate bounded probe job
    # is gone): zero staged batches means an empty stream, and zero
    # windows is the oracle's answer.
    d = _tmp_out("stream_tumble", sf_dir)
    in_dir, n_batches = stage_time_batches(ev, d, 3)
    if n_batches == 0:
        return spark.createDataFrame(
            [], "win_start timestamp_ntz, n_events bigint, sum_value double"
        )

    # Update-mode sink: keep the latest emitted row per window; the
    # final dict IS the aggregate state at stream end.
    state: dict = {}

    def sink(batch_df, _batch_id):
        for r in batch_df.collect():
            # sum_value is NULL for a window whose every event carries
            # a NULL value (SUM ignores NULLs, empty set -> NULL on
            # both engines); float(None) crashed the foreachBatch
            # Python fn Spark-side against a clean oracle (r8 grand
            # fuzz arm) — NULL must survive the round trip.
            s = r.sum_value
            state[r.win_start] = (r.n_events, None if s is None else float(s))

    agg = (
        replay_stream(spark, in_dir, ev.schema)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsumr("value").alias("sum_value"),
        )
        # timestamp_ntz BEFORE the foreachBatch collect: this query
        # round-trips win_start through Python driver memory, and the
        # instant-typed collect boundary materializes PROCESS-LOCAL
        # wall time (law 47) — the final client_ntz cast could not
        # undo a shift baked in here (caught by the tz_tokyo gate in
        # tests/test_env_layout_invariance.py).
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )
    # final_no_data_batch=False (r13, guide §1.2): update mode emits
    # every window the moment its state changes, i.e. on its data
    # batch; the final no-data micro-batch advances the watermark and
    # evicts finalized windows WITHOUT emitting (eviction is not a
    # change) — a full trigger of state-commit + offset-log cost for a
    # guaranteed-empty foreachBatch call. Output identical
    # (3-SF oracle-verified).
    run_available_now(
        agg.writeStream.foreachBatch(sink).outputMode("update"),
        "q_stream_tumble",
        spark,
        # partitions=2 (r13): per-trigger state commit was 170-210 ms
        # of a 300-600 ms addBatch at parts=4; the interleaved A/B has
        # 2 parts + the no-data skip at 2.54 → 2.34 s warm-min.
        partitions=2,
        final_no_data_batch=False,
    )

    rows = [
        (w, int(n), None if s is None else float(s))
        for w, (n, s) in sorted(state.items())
    ]
    out = local_df(
        spark, rows, "win_start timestamp_ntz, n_events bigint, sum_value double"
    )
    return client_ntz(out.select(
        "win_start", "n_events", mround("sum_value").alias("sum_value")
    ).orderBy("win_start"))
