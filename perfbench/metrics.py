"""Names and units of every metric the benchmark reports.

This module imports nothing from Spark, so the supervisor (run.py) and
the tests can read the catalogue cheaply. BENCHMARK.json lists the same
names; tests/test_perfbench.py keeps the two in step.
"""

from __future__ import annotations

import math

WORKLOAD_NAMES = ("online_kmeans", "online_reassign", "batch_lloyd", "query_mix")

# End-to-end metrics, reported by every workload with tracing off. An
# "op" is one closed-loop operation of the workload: one streaming
# trigger (online_*), one init + Lloyd fit (batch_lloyd), one warm pass
# over the query mix (query_mix). An "item" is a point (online_*), a
# point-iteration (batch_lloyd) or a query (query_mix).
END_TO_END = {
    "setup_s": "s",  # process start to the first timed operation
    "op_p50_s": "s",  # median op duration
    # CPU time of the whole process tree (driver, JVM, Python workers)
    # over the measured stretch, per item: the work a change saves or
    # adds, including work off the critical path that op_p50_s hides.
    "cpu_ms_per_item": "ms",
}

# The query_mix workload: one oracle-checked query per plans module
# family. q_stream_join and q_lake_compact are left out: their passes
# are mostly fixed file-commit cost (about half of an eight-query pass)
# and would roughly double the pass time; the streaming engine is
# measured by online_kmeans instead.
QUERIES = (
    "q_agg_q1",
    "q_tpch_q18",
    "q_dedup_lsh",
    "q_sim_ann",
    "q_join_asof",
    "q_win_range_frame",
)

# Per-layer metrics, reported by every workload in the traced run; a
# layer the workload never enters reports 0. Prefixes are the layers:
# session, replay, stream, skm, kmeans, plans, spark (engine counters
# per op), op (op tail and sample count), proc (memory) and trace
# (tracing overhead).
PER_LAYER = {
    "session.get_spark_s": "s",
    "replay.stage_s": "s",
    "replay.run_available_now_s": "s",
    "replay.self_s": "s",
    "stream.trigger_s": "s",
    "stream.engine_overhead_s": "s",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.self_s": "s",
    "skm.update_s": "s",
    "skm.update_tail_s": "s",
    "skm.jobs_per_batch": "count",
    # The stateful (track_assignments) path; online_kmeans measures it
    # in one extra drive of its traced run.
    "skm.tracked_update_s": "s",
    "skm.state_rows": "count",
    "skm.state_bytes": "bytes",
    "skm.state_write_amplification": "ratio",
    "skm.single_thread_points_per_s": "1/s",
    "skm.self_s": "s",
    "kmeans.parallel_init_s": "s",
    "kmeans.lloyd_iterate_s": "s",
    "kmeans.iteration_s": "s",
    "kmeans.self_s": "s",
    # The query mix; batch_lloyd measures it in one extra pass of its
    # traced run.
    **{f"plans.{q}.{part}_s": "s" for q in QUERIES for part in ("build", "exec")},
    "plans.self_s": "s",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes/op",
    "spark.shuffle_read_bytes": "bytes/op",
    "spark.input_bytes": "bytes/op",
    "spark.spill_bytes": "bytes/op",
    "spark.task_skew": "ratio",
    "op.samples": "count",
    "op.items_per_s": "1/s",  # items over the time spent completing them
    "op.tail_s": "s",  # see tail_percentile()
    "op.tail_percentile": "%",
    "proc.peak_rss_mb": "MB",  # benchmark process tree, sampled from /proc
    "trace.overhead_ratio": "ratio",
}


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def tail_percentile(xs) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``xs`` that still
    has at least ten samples above it. With ten samples or fewer no
    percentile qualifies, and the maximum (100th) is reported."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= 10:
        return 100.0, xs[-1]
    idx = n - 11  # ten samples sit above xs[idx]
    return 100.0 * (idx + 1) / n, xs[idx]


def metric(name: str, value: float) -> dict:
    """A result entry: the value with the unit the catalogue gives it."""
    v = float(value)
    if not math.isfinite(v):
        raise ValueError(f"{name}: non-finite value {value!r}")
    return {"value": v, "unit": {**END_TO_END, **PER_LAYER}[name]}
