"""Adversarial-skew probe (r8 verdict task 5): same data VOLUME, one
hot key — what does skew alone cost?

    python tools/make_scaled_dir.py /root/testdata/sf0.1 /tmp/fsk_u10 10
    python tools/make_skewed_dir.py /root/testdata/sf0.1 /tmp/fsk_k10 10
    python tools/skew_probe.py /tmp/fsk_u10 /tmp/fsk_k10

Both dirs hold the SAME K-fold row counts; the skewed one reassigns
~30% of events/orders/lineitem rows to a single head key
(make_skewed_dir). For each shuffle-heavy query the probe reports
skewed/uniform wall-time (min of 2, as in scale_probe) and asserts
the plan-audit flag set is identical (a broadcast→shuffle flip or a
new quadratic join under skewed statistics fails the probe). A ratio
near 1 means the plan's cost is volume-bound, not key-bound — the
property that survives a 1000-executor cluster where one straggler
partition would otherwise gate the stage.

Second check: AQE's OptimizeSkewedJoin actually FIRES on the skewed
dir's orders⋈lineitem equi-join once the broadcast path is demoted
and the split thresholds are scoped to local data sizes (the
defaults are sized for 256 MB cluster partitions) — executed-plan
`skew=true`, the same evidence class as
tests/test_plans.py::test_aqe_splits_skewed_join_partitions but on
the REAL skewed fixture rather than a synthetic frame.

Exit 1 on any plan-shape change or if the skew join never splits.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_streaming_kmeans_spark.plans.registry import collect  # noqa: E402
from flink_streaming_kmeans_spark.session import SHUFFLE_PARTITIONS, get_spark, scoped_confs  # noqa: E402
from flink_streaming_kmeans_spark.sources.loader import load_table  # noqa: E402
import plan_audit  # noqa: E402

# The shuffle-heavy shapes the r8 verdict names: sessionization (one
# giant-session user), the time-range window frame, the TPC-H
# customer/order join trees (hot customer + hot order key), the dedup
# banding joins (content-hash buckets — included to show content
# shuffles are INSENSITIVE to entity skew), the salting showcase, and
# the BINNED range join — the batch twin of the stream-stream
# interval join, included precisely because the streaming twin is the
# probe's headline FINDING rather than a row in this table:
#
# STREAM-STREAM INTERVAL JOINS ARE EXCLUDED, MEASURED, NOT FORGOTTEN.
# Structured Streaming's symmetric stateful join probes EVERY state
# row of the matching key per input row, single-threaded per key. On
# this fixture's head user (30% of 1M events: ~9e4 purchases x ~1.5e5
# clicks in one key) that is ~1.3e10 in-key pair checks on one core —
# the drive exceeded a 300 s kill and was still in its first stage at
# 15 minutes, while DuckDB's parallel binned range join emits the
# SAME 5.03M pairs in 1.8 s. The 100 TB lesson is recorded in
# SCALE.md and q_stream_join's docstring: per-key stream-join work is
# quadratic in hot-key density and un-parallelizable (AQE is disabled
# in stateful workloads); mitigate SEMANTICALLY (per-key rate caps /
# pre-aggregation upstream) or run reconciliations through the binned
# batch twin below, which splits the hot key across time buckets.
PROBES = [
    "q_stream_session",
    "q_win_time_range",
    "q_tpch_q10",
    "q_tpch_q18",
    "q_dedup_lsh",
    "q_dedup_near",
    "q_join_salted",
    "q_join_range_binned",
]


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_min2(queries, spark, name: str, sf_dir: str):
    ts, df = [], None
    for _ in range(2):
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        run_noop(df)
        ts.append(time.perf_counter() - t0)
    return min(ts), df


def binned_interval_join(spark, sf_dir: str):
    """The 100 TB formulation of q_stream_join's semantics as a BATCH
    plan: purchase x click per user within the preceding hour,
    expressed as an EQUI-join on (user_id, hour_bin) with the click
    side exploded into the <=2 bins a 1-hour lookback can reach, exact
    interval post-filtered — q_join_range_binned's rewrite applied to
    a PER-KEY interval join. The hot user's pairs spread across its
    time bins, so per-task work is (purchases-per-bin x
    clicks-per-adjacent-bin), linear in emitted pairs — this is the
    plan that replaces the per-key-quadratic streaming join for
    backfills/reconciliation over hot entities."""
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.functions.vector import ts_valid

    ev = load_table(spark, sf_dir, "events").where(ts_valid("ts")).select(
        "event_id", "user_id", "event_type", "ts"
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.date_trunc("hour", "ts").alias("bin"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
        # a click reaches purchases in its own hour and the next one
        F.explode(
            F.array(
                F.date_trunc("hour", "ts"),
                F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bin"),
    )
    return (
        p.join(c, (p.user_id == c.c_user) & (p.bin == c.bin))
        .where(
            (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts"))
        )
        .select("user_id", "p_id", "c_id")
    )


def bucketed_time_range(spark, sf_dir: str):
    """The two-phase rewrite of q_win_time_range for hot-key regimes
    (SCALE.md round-9 finding 2): a window PARTITION is a semantic
    unit no optimizer may split, so one bot user = one core owning 30%
    of the table. A time-BOUNDED frame doesn't need the whole user in
    one partition: a trailing 10-minute frame at time t only sees rows
    in t's own 10-minute bin and the previous one, so each row is
    duplicated once as next-bin CONTEXT, the window runs within
    (user_id, bin) — the hot user now spreads across its time bins —
    and only own-bin rows are kept. <=2x row work, fully parallel,
    result-identical (asserted in main() on both dirs and pinned in
    tests/test_skew.py). This is the documented mitigation, measured,
    not just described; the registry keeps the standard single-window
    form as the correct default below bot-grade skew."""
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.functions.vector import dsumw, ts_valid

    from pyspark.sql.window import Window

    from flink_streaming_kmeans_spark.functions.vector import client_ntz

    ev = load_table(spark, sf_dir, "events").where(ts_valid("ts")).select(
        "event_id", "user_id", "ts", "value"
    )
    # Exact integer microseconds for binning AND the frame's ordering
    # key — a float epoch-seconds key can round a row exactly on the
    # 10-minute boundary to the wrong side of the INTERVAL arithmetic.
    us = F.unix_micros(F.col("ts"))
    binned = ev.withColumn("bin", F.floor(us / F.lit(600_000_000)))
    own = binned.withColumn("is_own", F.lit(True))
    ctx = binned.withColumn("bin", F.col("bin") + 1).withColumn(
        "is_own", F.lit(False)
    )
    w = (
        Window.partitionBy("user_id", "bin")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-600_000_000, 0)
    )
    u = own.unionByName(ctx)
    return client_ntz(
        u.withColumn("n_prev_10m", F.count(F.lit(1)).over(w))
        .withColumn("sum_value_10m", dsumw("value", w))
        .where(F.col("is_own"))
        .select(
            "event_id",
            "user_id",
            F.date_trunc("second", "ts").alias("ts_s"),
            F.col("n_prev_10m").cast("bigint").alias("n_prev_10m"),
            "sum_value_10m",
        )
    )


def _shuffle_stages(adaptive) -> list[tuple[int, int]]:
    """``(map tasks, shuffle partitions)`` of every shuffle stage in a
    materialized adaptive plan, walked through its query stages."""
    out, todo = [], [adaptive.executedPlan()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            if node.nodeName() == "ShuffleQueryStage":
                s = node.shuffle()
                out.append((s.numMappers(), s.numPartitions()))
            todo.append(node.plan())
            continue
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def aqe_skew_split_fires(spark, skewed_dir: str) -> tuple[bool, list]:
    """orders⋈lineitem on the planted hot l_orderkey: demote broadcast
    and scope the split thresholds to local sizes, then look for
    skew=true in the FINAL adaptive plan. Returns that flag and the
    final plan's shuffle stages as ``(map tasks, shuffle partitions)``,
    the two counts the split geometry depends on.

    maxPartitionBytes is scoped down too, and that one is a finding,
    not a convenience: OptimizeSkewedJoin splits a skewed reduce
    partition along MAP-TASK boundaries, so its granularity equals the
    mapper count — a single-file local scan yields 1-2 map tasks and
    the hot partition is UNSPLITTABLE no matter the thresholds
    (measured: the same join fires skew=true from a 32-file source
    and never from a 1-file source). On a 1000-executor 100 TB scan
    there are thousands of mappers and the split always has
    granularity; locally we scope the split geometry to match. The
    deployment rule this encodes: compaction must not produce files
    so large that maxPartitionBytes yields fewer map tasks than the
    skew split needs.

    The shuffle-partition count is pinned for the reduce side of the
    same geometry: OptimizeSkewedJoin needs a partition larger than
    skewedPartitionFactor (2) times the median, and at 2 partitions the
    median is the mean of the two, which neither can exceed twice. A
    count left low by an earlier caller on the session therefore hides
    the split (measured on the x3 test fixture: skew=true at 32 and 4
    partitions, not at 2)."""
    tuned = {
        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.files.maxPartitionBytes": "262144",
    }
    with scoped_confs(spark, tuned):
        from pyspark.sql import functions as F

        o = load_table(spark, skewed_dir, "orders")
        li = load_table(spark, skewed_dir, "lineitem")
        # The aggregate reads real payload columns on purpose: a
        # count()-only rollup lets column pruning strip the fact side
        # to the bare join key, and a partition of one repeated bigint
        # compresses to almost nothing — under ANY byte threshold, the
        # hot partition then looks small to AQE (shuffle sizes are
        # compressed sizes). Payload columns make the hot partition's
        # bytes proportional to its rows, which is what a real revenue
        # rollup shuffles.
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.sum("l_quantity"),
                F.avg("l_tax"),
                F.count(F.lit(1)),
            )
        )
        j.collect()  # materialize → final adaptive plan
        adaptive = j._jdf.queryExecution().executedPlan()
        return "skew=true" in adaptive.toString(), _shuffle_stages(adaptive)


def q18_skew_curve(spark, uniform: str, skewed: str) -> dict:
    """r9 verdict task 3: the q18 hot-orderkey threshold/benefit curve.

    Three measured configurations of the SAME q18 semantics on the
    x100 rung, executed via the DataFrame's OWN queryExecution
    (toRdd().count() — a noop write would execute a separate plan and
    read `isFinalPlan=false`, the trap this comment exists for):

    1. `default`   — the registered query, stock config.
    2. `scoped`    — the registered query + locally-scoped skew/advisory
       thresholds. FINDING (structural, not a threshold problem):
       OptimizeSkewedJoin can NEVER fire on the registered shape at any
       threshold, because it pattern-matches SMJ(shuffle-stage,
       shuffle-stage) and q18 CHAINS same-key joins — the hot o⋈li
       SMJ's left input is the semi join's output (Catalyst reuses the
       o_orderkey partitioning; normally a free-shuffle win). The
       scoped ADVISORY size still caps the ratio: the 70% non-hot
       volume coalesces into many more reduce partitions that overlap
       the hot key's single task.
    3. `bcast_semi` — the semi side broadcast (the plan AQE's runtime
       stats produce at real scale, where the qualifying tail is tiny
       relative to memory; locally AQE sees the semi build's
       PRE-aggregation map output and keeps it SMJ). Breaking the
       chain makes both SMJ inputs fresh shuffle stages and
       OptimizeSkewedJoin FIRES (`skew=true` asserted) — the direct
       evidence for the registered docstring's 100 TB claim.

    The residual skewed/uniform wall ratio is normalized by JOIN
    OUTPUT volume (the hot order QUALIFIES, so the skewed dir pushes
    genuinely more rows through the join+partial-agg — that part is
    work, not straggle). Pass criteria: bcast_semi fires skew=true on
    the skewed dir, and the best config's volume-normalized ratio is
    <= ~2."""
    import time as _t

    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.functions.vector import dsum, dsumr
    from flink_streaming_kmeans_spark.plans.registry import QUERIES

    def q18_bcast_semi(spark, sf_dir):
        c = load_table(spark, sf_dir, "customer")
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        big = (
            li.groupBy("l_orderkey")
            .agg(dsumr("l_quantity").alias("q"))
            .where(F.col("q") > 180)
            .select(F.col("l_orderkey").alias("o_orderkey"))
        )
        j = (
            o.join(F.broadcast(big), "o_orderkey", "semi")
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("c_custkey") == F.col("o_custkey"))
        )
        return j.groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
        ).agg(dsum(F.col("l_quantity"), "total_qty"))

    def join_volume(d):
        o = load_table(spark, d, "orders")
        li = load_table(spark, d, "lineitem")
        big = (
            li.groupBy("l_orderkey")
            .agg(dsumr("l_quantity").alias("q"))
            .where(F.col("q") > 180)
            .select(F.col("l_orderkey").alias("o_orderkey"))
        )
        return (
            o.join(big, "o_orderkey", "semi")
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .count()
        )

    def timed(fn, d, reps=2):
        best, plan = float("inf"), ""
        for _ in range(reps):
            t0 = _t.perf_counter()
            df = fn(spark, d)
            df._jdf.queryExecution().toRdd().count()
            dt = _t.perf_counter() - t0
            if dt < best:
                best = dt
                plan = df._jdf.queryExecution().executedPlan().toString()
        return best, plan.count("skew=true")

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    reg = QUERIES["q_tpch_q18"]
    out = {"join_rows": {}, "configs": {}}
    for tag, d in (("uniform", uniform), ("skewed", skewed)):
        out["join_rows"][tag] = join_volume(d)
    vol = out["join_rows"]["skewed"] / max(out["join_rows"]["uniform"], 1)

    def measure(cfg, fn):
        t_u, _ = timed(fn, uniform)
        t_s, skew_nodes = timed(fn, skewed)
        raw = t_s / max(t_u, 1e-9)
        out["configs"][cfg] = {
            "uniform_s": round(t_u, 1),
            "skewed_s": round(t_s, 1),
            "ratio": round(raw, 2),
            "ratio_per_join_row": round(raw / vol, 2),
            "skew_split_fired": skew_nodes > 0,
        }
        print(
            f"q18[{cfg:10s}] uniform {t_u:6.1f}s -> skewed {t_s:6.1f}s "
            f"x{raw:.2f} (per-join-row x{raw / vol:.2f}) "
            f"skew_split={skew_nodes > 0}",
            flush=True,
        )

    measure("default", reg)
    with scoped_confs(spark, tuned):
        measure("scoped", reg)
        measure("bcast_semi", q18_bcast_semi)
    out["volume_ratio"] = round(vol, 2)
    out["ok"] = (
        out["configs"]["bcast_semi"]["skew_split_fired"]
        and min(c["ratio_per_join_row"] for c in out["configs"].values()) <= 2.0
    )
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    uniform = args[0] if args else "/tmp/fsk_u10"
    skewed = args[1] if len(args) > 1 else "/tmp/fsk_k10"
    queries, _ = collect()
    if "--q18" in sys.argv:
        # Just the q18 threshold/benefit curve (r9 verdict task 3) —
        # meant for the x100 dirs, where the chained-vs-broadcast-semi
        # split behavior is visible.
        spark = get_spark("skew_probe_q18")
        curve = q18_skew_curve(spark, uniform, skewed)
        print(json.dumps({"q18_skew_curve": curve}))
        return 0 if curve["ok"] else 1
    unknown = [q for q in PROBES if q not in queries]
    if unknown:
        print(f"unknown probe queries: {unknown}", file=sys.stderr)
        return 1
    spark = get_spark("skew_probe")
    run_noop(queries["q_scan_parquet"](spark, uniform))  # warmup

    # Hot-key interval joins emit quadratically many pairs in per-key
    # density — CORRECT semantics (the oracle's answer explodes
    # identically), so their extra wall time is genuine output volume,
    # not engine skew-sensitivity. Each row therefore records output
    # rows on both dirs and a volume-NORMALIZED ratio
    # (time-ratio / output-ratio): that is the number that must stay
    # ~1 under skew. The raw ratio is printed alongside so the
    # explosion itself is visible, not hidden.
    os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT", "1800")

    rows, flags_changed = [], []
    for name in PROBES:
        t_u, df_u = timed_min2(queries, spark, name, uniform)
        n_u = df_u.count()
        t_s, df_s = timed_min2(queries, spark, name, skewed)
        n_s = df_s.count()
        f_u = plan_audit.audit_one(name, df_u)
        f_s = plan_audit.audit_one(name, df_s)
        same = set(f_u["flags"]) == set(f_s["flags"])
        if not same:
            flags_changed.append((name, f_u["flags"], f_s["flags"]))
        raw = t_s / max(t_u, 1e-9)
        vol = max(n_s, 1) / max(n_u, 1)
        r = {
            "query": name,
            "uniform_s": round(t_u, 2),
            "skewed_s": round(t_s, 2),
            "rows_uniform": n_u,
            "rows_skewed": n_s,
            "ratio": round(raw, 2),
            "ratio_per_output_row": round(raw / vol, 2),
            "plan_flags_same": same,
        }
        rows.append(r)
        print(
            f"{name:24s} uniform {r['uniform_s']:7.2f}s -> skewed "
            f"{r['skewed_s']:7.2f}s  x{r['ratio']:<6} "
            f"out x{round(vol, 2):<8} norm x{r['ratio_per_output_row']:<5} "
            f"flags_same={same}",
            flush=True,
        )

    # Headline finding demo: the per-user interval join that the
    # STREAMING engine cannot finish on the hot key (quadratic in-key,
    # single-threaded) runs in seconds as the time-binned batch plan —
    # linear in emitted pairs. Measured on both dirs.
    t0 = time.perf_counter()
    n_pairs_u = binned_interval_join(spark, uniform).count()
    t_ij_u = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs_s = binned_interval_join(spark, skewed).count()
    t_ij_s = time.perf_counter() - t0
    interval = {
        "uniform_s": round(t_ij_u, 2),
        "skewed_s": round(t_ij_s, 2),
        "pairs_uniform": n_pairs_u,
        "pairs_skewed": n_pairs_s,
        "s_per_mpair_uniform": round(t_ij_u / max(n_pairs_u / 1e6, 1e-9), 2),
        "s_per_mpair_skewed": round(t_ij_s / max(n_pairs_s / 1e6, 1e-9), 2),
    }
    print(
        f"binned_interval_join     uniform {t_ij_u:7.2f}s "
        f"({n_pairs_u} pairs) -> skewed {t_ij_s:7.2f}s ({n_pairs_s} pairs)"
    )

    # Finding-2 demo: the two-phase bucketed rewrite of the RANGE
    # window (result-identical — asserted here on the skewed dir with
    # a both-ways exceptAll — and parallel across the hot user's time
    # bins where the single-window form serializes on one core).
    base_q = queries["q_win_time_range"]
    a, b = base_q(spark, skewed), bucketed_time_range(spark, skewed)
    mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
    if mismatch:
        print(f"bucketed_time_range NOT identical: {mismatch} rows",
              file=sys.stderr)
        return 1
    t_w = {}
    for tag, d in (("uniform", uniform), ("skewed", skewed)):
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            run_noop(bucketed_time_range(spark, d))
            ts.append(time.perf_counter() - t0)
        t_w[tag] = round(min(ts), 2)
    base_row = next(r for r in rows if r["query"] == "q_win_time_range")
    print(
        f"bucketed_time_range      uniform {t_w['uniform']:7.2f}s -> skewed "
        f"{t_w['skewed']:7.2f}s (single-window skewed: "
        f"{base_row['skewed_s']}s) — identical output"
    )

    fires, stages = aqe_skew_split_fires(spark, skewed)
    print(f"aqe_skew_split_fires={fires} shuffle_stages={stages}")
    print(json.dumps({
        "rows": rows,
        "binned_interval_join": interval,
        "bucketed_time_range": t_w,
        "aqe_skew_split_fires": fires,
    }))
    if flags_changed:
        print(f"PLAN SHAPE CHANGED UNDER SKEW: {flags_changed}", file=sys.stderr)
        return 1
    if not fires:
        print("AQE skew split never fired on the skewed join", file=sys.stderr)
        return 1
    worst = max(r["ratio_per_output_row"] for r in rows)
    print(
        f"worst volume-normalized skew ratio: x{worst} (same input volume)",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
