"""Round-6 streaming-evidence additions.

Registered AFTER the round-6 correctness window (registry.py
``_MODULES`` — this module exists so new queries never shift the
window prefix mid-round; see the rotation plan there).

- q_stream_slide (hash): the sliding-window aggregation driven as a
  real Structured Streaming query in APPEND mode — completing the
  tumble (q_stream_tumble) / session (q_stream_session) / slide
  window matrix the r5 verdict asked for (task 6).

Same scaffolding as plans/streams.py: contiguous-time replay batches
read through sources/replay.replay_stream, one sentinel batch to push
the watermark past the data span, availableNow's final no-data
micro-batch running the tail eviction, engine-side parquet file sink.
"""

from __future__ import annotations

import os
from datetime import timedelta

from pyspark.sql import functions as F

from ..functions.vector import client_ntz, dsum, sql_dsum, sql_ts_valid, ts_valid
from ..session import scratch_path
from ..sources.loader import load_table, local_df
from ..sources.replay import (
    append_batch,
    replay_stream,
    run_available_now,
    stage_time_batches,
    staged_bounds,
)
from .registry import register


@register(
    "q_stream_slide",
    # Oracle: q_win_slide's slide enumeration (plans/events.py) with
    # the explicit ts IS NOT NULL both now carry (review r6, then the
    # NULL-events sweep): an event without an event time cannot be
    # windowed — Spark's F.window drops it structurally in batch AND
    # streaming, so the oracle states that contract instead of
    # silently relying on fixture data never carrying NULL ts.
    oracle=f"""
    WITH buckets AS (
        SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS b5, value
        FROM events WHERE ts IS NOT NULL AND {sql_ts_valid('ts')}
    ), slides AS (
        SELECT b5 AS win_start, value FROM buckets
        UNION ALL
        SELECT b5 - INTERVAL 5 MINUTE AS win_start, value FROM buckets
    )
    SELECT win_start, COUNT(*) AS n_events, {sql_dsum('value', 'sum_value')}
    FROM slides
    GROUP BY win_start
    """,
)
def q_stream_slide(spark, sf_dir):
    """STREAMING sliding-window aggregation: the events table replayed
    as 2 contiguous-time micro-batches + 1 sentinel through
    ``window("ts", "10 minutes", "5 minutes")`` in APPEND mode under a
    2-hour watermark — each of the two overlapping windows an event
    belongs to emits exactly once when the watermark passes its end,
    so the parquet-sink output equals the batch q_win_slide answer
    (its FULL-VALUE hash oracle). Windows that STRADDLE the
    micro-batch boundary are the point: their state accumulates
    across triggers before the single append emission (overlap law
    asserted in tests/test_streaming.py on a synthetic
    boundary-straddling table).

    The far-future sentinel row pushes the final watermark past every
    real window; its own two windows never finalize (the watermark
    stops 2 h short of them) and the sink read-back filters beyond
    the data span anyway — belt and braces.

    Scale: state is one (window, count, decimal sum) triple per open
    window — 2 windows per 5-minute slide inside the watermark
    horizon, evicted continuously; the standard overlapping-window
    monitoring shape. The decimal(30,6) sum keeps the emitted double
    bit-identical to the batch twin regardless of arrival order."""
    ev = (
        load_table(spark, sf_dir, "events")
        # event-time domain gate (r6 extreme-timestamp sweep): the
        # sentinel needs calendar headroom past max(ts), and the
        # watermark/pandas machinery has real boundaries — see
        # functions/vector.ts_valid
        .where(ts_valid("ts"))
        .select("event_id", "ts", "value")
    )
    d = scratch_path("stream_slide")
    # Staging-derived clamp + empty guard (r13 — see plans/streams.py
    # q_stream_dedup).
    in_dir, n_batches = stage_time_batches(ev, d, 2)
    if n_batches == 0:
        # timestamp_ntz matches the client_ntz non-empty path (law 47
        # + r8 ADVICE: empty and non-empty schemas must agree).
        return spark.createDataFrame(
            [], "win_start timestamp_ntz, n_events bigint, sum_value double"
        )
    # Sentinel bound from the staged footers (see q_stream_session).
    _, top = staged_bounds(ev, in_dir, "ts")
    t3 = top + timedelta(days=3)
    sent = local_df(spark, [(-1, t3, 0.0)], ev.schema)
    append_batch(sent, in_dir, n_batches)

    agg = (
        replay_stream(spark, in_dir, ev.schema)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("win_start"), "n_events", "sum_value")
    )
    sink_dir = os.path.join(d, "sink")
    run_available_now(
        agg.writeStream.format("parquet")
        .option("path", sink_dir)
        .outputMode("append"),
        "q_stream_slide",
        spark,
        # partitions stays 4 (r13 probe): parts=2 measured WORSE
        # interleaved (warm-min 3.80/3.88 at 4 parts vs 4.67/3.92 at
        # 2) — the per-batch window aggregation over 50k rows loses
        # more to halved task parallelism than the ~160 ms/trigger
        # state commit saves, same shape as the q_stream_session
        # parts probe (replay.run_available_now).
        # append-mode windows straddling the data span emit in the
        # final eviction batch (r13 flake hardening; see
        # run_available_now's ensure_eviction).
        ensure_eviction=True,
    )
    # Drop any sentinel-era window (win_start > max real ts); the
    # sentinel's count-1 windows never emit under the final watermark,
    # but the filter makes the exclusion structural, not
    # timing-dependent. The bound is an IN-PLAN broadcast of max(ts),
    # not the collected `top` literal — a Python-datetime literal
    # round-trips through driver memory and a DST-fold-ambiguous
    # local datetime can shift on a non-UTC host (law 47; same idiom
    # as q_stream_session / q_stream_join_left).
    m = ev.agg(F.max("ts").alias("m_ts"))
    return client_ntz(
        # Explicit sink schema (guide §6; r12): skip the read-back
        # footer-inference pass.
        spark.read.schema(agg.schema).parquet(sink_dir)
        .crossJoin(F.broadcast(m))
        .where(F.col("win_start") <= F.col("m_ts"))
        .drop("m_ts")
    )
