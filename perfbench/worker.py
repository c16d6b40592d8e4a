"""One benchmark run of one workload, in a fresh process (started by
run.py, which pins the environment and owns the run root).

Phases: start the Spark session, set the workload up (inputs, staging,
untimed checked warm-up steps), then measure closed-loop operations for
``--seconds`` and at least the workload's ``MIN_STEPS``. With
``--trace 1`` a second stretch of the same length runs with spans and
engine counters on; its per-layer numbers are the result, and its
slow-down against the first stretch is the tracing overhead.
online_kmeans then adds one drive of the tracked path for the state
metrics, and batch_lloyd one checked pass of the query mix for the
plans metrics. The result goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
for p in (HERE, CHECKOUT):
    if p not in sys.path:
        sys.path.insert(0, p)

from metrics import PER_LAYER, median, metric, tail_percentile  # noqa: E402
from proctree import tree_cpu_s  # noqa: E402
from tracing import EngineCounters, Tracer  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    Ctx,
    OnlineReassign,
    QueryMix,
    Segment,
    layer_summary,
)


def measure(ctx: Ctx, wl, seconds: float, min_steps: int) -> Segment:
    """Run closed-loop steps until ``seconds`` have passed and at least
    ``min_steps`` ran. A step that raises counts as failed."""
    seg = Segment()
    cpu = tree_cpu_s(os.getpid())
    start = time.perf_counter()
    steps = 0
    while True:
        try:
            wl.step(ctx, seg)
        except Exception:
            traceback.print_exc()
            seg.attempted += 1
            seg.failed += 1
        steps += 1
        if steps >= min_steps and time.perf_counter() - start >= seconds:
            break
    seg.wall_s = time.perf_counter() - start
    seg.cpu_s = tree_cpu_s(os.getpid()) - cpu
    return seg


def end_to_end(seg: Segment, setup_s: float) -> dict:
    pct, tail = tail_percentile(seg.op_s)
    print(
        f"perfbench: {len(seg.op_s)} ops in {seg.wall_s:.2f} s, p50 {median(seg.op_s):.4f} s,"
        f" tail p{pct:.1f} {tail:.4f} s, cpu {1e3 * seg.cpu_s / seg.items:.5f} ms/item",
        file=sys.stderr,
        flush=True,
    )
    values = {
        "setup_s": setup_s,
        "op_p50_s": median(seg.op_s),
        "cpu_ms_per_item": 1e3 * seg.cpu_s / seg.items,
    }
    return {k: metric(k, v) for k, v in values.items()}


def per_layer(ctx: Ctx, seg: Segment, base: Segment, tracer: Tracer, mark: int) -> dict:
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(ctx.setup_samples)
    values.update(layer_summary(seg))
    values.update(
        ctx.counters.per_op(len(seg.op_s), seg.wall_s, ctx.cpus)
    )
    n_ops = max(1, len(seg.op_s))
    for layer, s in tracer.self_times(tracer.spans[mark:]).items():
        key = f"{layer}.self_s"
        if key in values:
            values[key] = s / n_ops
    pct, tail = tail_percentile(seg.op_s)
    values["op.samples"] = len(seg.op_s)
    values["op.items_per_s"] = seg.items / seg.item_s
    values["op.tail_s"] = tail
    values["op.tail_percentile"] = pct
    values["trace.overhead_ratio"] = median(seg.op_s) / median(base.op_s) - 1.0
    return {k: metric(k, v) for k, v in values.items() if k in PER_LAYER}


STATE_METRICS = (
    "skm.tracked_update_s",
    "skm.state_rows",
    "skm.state_bytes",
    "skm.state_write_amplification",
)


def state_path(ctx: Ctx) -> dict:
    """One traced, checked drive of the tracked (add/remove) path in the
    same, already warm session: the state metrics the untracked
    online_kmeans drive never produces."""
    wl = OnlineReassign()
    wl.setup(ctx, warm=False)
    seg = measure(ctx, wl, 0.0, min_steps=1)
    ctx.warmup.attempted += seg.attempted
    ctx.warmup.failed += seg.failed
    values = layer_summary(seg)
    return {k: metric(k, values.get(k, 0.0)) for k in STATE_METRICS}


def plans_pass(ctx: Ctx) -> dict:
    """The query mix's oracle-checked set-up and one traced pass in the
    same, already warm session: the plans layer, which batch_lloyd
    never enters."""
    wl = QueryMix()
    wl.setup(ctx, warm=False)
    mark = len(ctx.tracer.spans)
    seg = measure(ctx, wl, 0.0, min_steps=1)
    ctx.warmup.attempted += seg.attempted
    ctx.warmup.failed += seg.failed
    values = layer_summary(seg)
    values["plans.self_s"] = ctx.tracer.self_times(ctx.tracer.spans[mark:]).get("plans", 0.0)
    return {k: metric(k, v) for k, v in values.items() if k.startswith("plans.")}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--size", default="full")
    p.add_argument("--run-root", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--baseline", action="store_true")
    args = p.parse_args(argv)

    from flink_streaming_kmeans_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    t = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    tracer.sc = spark.sparkContext
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    ctx = Ctx(spark, args.seed, args.size, args.run_root, cpus, tracer)
    ctx.setup_samples["session.get_spark_s"] = get_spark_s
    wl = WORKLOADS[args.workload]()
    try:
        wl.setup(ctx)
        setup_s = time.time() - args.t0
        print(
            f"perfbench: session {get_spark_s:.2f} s, set-up {setup_s:.2f} s",
            file=sys.stderr,
            flush=True,
        )
        if args.baseline:
            seg = measure(ctx, wl, 0.0, min_steps=1)
            result = {
                "correct": seg.failed == 0,
                "attempted": seg.attempted,
                "failed": seg.failed,
                "metrics": {
                    "skm.single_thread_points_per_s": metric(
                        "skm.single_thread_points_per_s", seg.items / seg.item_s
                    )
                },
            }
        else:
            tracer.enabled = False
            seg = measure(ctx, wl, args.seconds, wl.MIN_STEPS)
            metrics = end_to_end(seg, setup_s)
            if args.trace:
                base = seg
                tracer.enabled = True
                ctx.counters = EngineCounters(spark.sparkContext)
                mark = len(tracer.spans)
                seg = measure(ctx, wl, args.seconds, wl.MIN_STEPS)
                metrics = per_layer(ctx, seg, base, tracer, mark)
                if args.workload == "online_kmeans":
                    metrics.update(state_path(ctx))
                elif args.workload == "batch_lloyd":
                    metrics.update(plans_pass(ctx))
                trace_dir = os.path.join(CHECKOUT, ".perfbench", "traces")
                os.makedirs(trace_dir, exist_ok=True)
                path = os.path.join(
                    trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
                )
                tracer.dump(path, {"workload": args.workload, "metrics": metrics})
                print(f"perfbench: spans written to {path}", file=sys.stderr)
            attempted = ctx.warmup.attempted + seg.attempted
            failed = ctx.warmup.failed + seg.failed
            result = {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
