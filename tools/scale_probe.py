"""Empirical scale probe (r7 verdict task 5): measure the
shape-representative queries at a base SF dir and at a make_scaled_dir
multiple of it, assert the physical plan shape is unchanged (same
plan_audit flag set — any NEW quadratic-join / row-Python flag at
scale fails the probe), and report the runtime growth ratio.

    python tools/make_scaled_dir.py /root/testdata/sf0.1 /tmp/fsk_sf1x10 10
    python tools/scale_probe.py /root/testdata/sf0.1 /tmp/fsk_sf1x10 10

Interpretation: with K-fold data on the same 32 local cores, a
shuffle/scan-bound linear plan grows <= ~K in wall time (often less —
fixed per-query trigger/plan overhead amortizes); super-linear growth
flags a plan whose work grows faster than its input, which at 1000
executors and 100 TB becomes the bottleneck. Results are recorded in
SCALE.md with the run's environment noted.

Each query is measured twice per dir with the noop sink and the min
kept: a query's first run in a session pays its own codegen and JIT
warm-up, which a warm-up of some other query does not remove.

--law53 mode (r11 verdict task 5): make the law-53 guard-amortization
claim a REPEATABLE gate instead of a one-off session measurement.

    python tools/scale_probe.py --law53 [base] [scaled] [k]

Two checks, both aimed at the measured failure modes of the
q_json_extract strict-JSON guards (plans/events.py docstring:
30x = whole projection falls out of codegen; 4x = one CodegenFallback
HOF knocks the stage to interpreted dispatch):

1. LANE CONTRACT on the AQE-final physical plan — the frame must stay
   physically split with the machine-written flat-doc hot path inside
   whole-stage codegen (every flat-lane node starred ``*(N)``) and the
   per-char depth fold (``aggregate(``, CodegenFallback) confined to
   unstarred nodes on the nested-doc lane; both lane scans must carry
   the pushed guard predicate. Any plan drift that silently re-enables
   the interpreted lane on the hot path fails here, structurally.
2. OVERHEAD RATIO guarded/unguarded at base and at K-fold data —
   the unguarded twin is the same extract+aggregate minus the guards.
   Gate: overhead <= 3.0 at base, <= 2.0 at K-fold (r11 measured
   ~1.9 -> ~1.20; the 4x interpreted-dispatch regression blows both).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_streaming_kmeans_spark.plans.registry import collect  # noqa: E402
from flink_streaming_kmeans_spark.session import get_spark  # noqa: E402
import plan_audit  # noqa: E402

# The shape representatives the r7 verdict names: as-of union+window,
# LSH banding join, prefix-filter join, stream-stream interval join,
# iterative k-means, iterative pagerank, time-range window frame,
# TPC-H join tree, plus the scan-heavy decimal aggregate and the
# broadcast-total text pipeline.
PROBES = [
    "q_agg_q1",
    "q_join_asof",
    "q_dedup_lsh",
    "q_dedup_prefix",
    "q_stream_join",
    "q_ml_kmeans_iter",
    "q_graph_pagerank",
    "q_win_time_range",
    "q_tpch_q10",
    "q_text_tfidf",
]


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _final_plan(df) -> str:
    """AQE-final physical plan string (with ``*(N)`` codegen stars).

    The noop writer plans its OWN QueryExecution, so the df's plan
    never finalizes through it; executing the physical plan's RDD
    directly finalizes AQE in place (isFinalPlan=true) and is the only
    local-mode way to read the codegen stage assignment post-AQE.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    plan = qe.executedPlan().toString()
    # toString prints "== Final Plan ==" then "== Initial Plan ==";
    # only the final section carries the real codegen stage stars.
    return plan.split("== Initial Plan ==")[0]


def _json_extract_unguarded(spark, sf_dir):
    """q_json_extract minus the law-53 validity guards — the overhead
    denominator. Kept structurally parallel to plans/events.py's
    registered query (single projected extract, same isum64 aggregate)
    so the ratio isolates the GUARD cost, not plan-shape noise."""
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.functions.vector import isum64
    from flink_streaming_kmeans_spark.sources.loader import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.get_json_object("props", "$.k").alias("_t")
    )
    t = F.col("_t")
    k = F.when(t.try_cast("long").cast("string") == t, t.try_cast("long"))
    return ev.groupBy("event_type").agg(
        isum64(k, "sum_k"), F.count(F.lit(1)).alias("n_events")
    )


def law53_lane_contract(plan: str) -> list[str]:
    """Check the law-53 physical-lane contract; return violations.

    Node attribution: the flat lane is the FIRST Union child
    (flat_lane.unionByName(deep_lane) in plans/events.py), which
    toString prefixes with the ':' branch rail on every line; the
    deep lane follows rail-free. The fold expression is matched as
    ``aggregate(split(`` — the exact HOF the events.py docstring
    documents as CodegenFallback.
    """
    problems = []
    lines = plan.splitlines()
    rail_nodes, free_nodes = [], []
    in_union = False
    for ln in lines:
        if " Union" in ln or ln.strip().startswith("Union"):
            in_union = True
            continue
        if not in_union:
            continue
        node = ln.lstrip(" :+-")
        if not node:
            continue
        # First union child (flat lane) carries the ':' branch rail
        # as the first non-space char on every one of its lines.
        if ln.lstrip().startswith(":"):
            rail_nodes.append(node)
        else:
            free_nodes.append(node)

    scans = [n for n in rail_nodes + free_nodes if n.startswith("FileScan")]
    if len(scans) != 2:
        problems.append(
            f"expected 2 lane scans under Union, saw {len(scans)} "
            "(physical lane split gone?)"
        )
    flat = [n for n in rail_nodes if not n.startswith("FileScan")]
    if not flat:
        problems.append("no flat-lane (rail) nodes found under Union")
    for n in flat:
        if not n.startswith("*(") and not n.startswith("FileScan"):
            problems.append(f"flat-lane node NOT codegen: {n[:90]}")
        if "aggregate(split(" in n:
            problems.append(f"depth fold leaked onto the flat lane: {n[:90]}")
    if not any("get_json_object" in n and n.startswith("*(") for n in rail_nodes):
        problems.append("hot-path get_json_object not in a starred flat-lane node")
    if not any("aggregate(split(" in n for n in free_nodes):
        problems.append(
            "depth fold not found on the deep lane — guard rewritten? "
            "re-derive the contract if intentional"
        )
    for n in free_nodes:
        if "aggregate(split(" in n and n.startswith("*("):
            problems.append(
                f"fold in a STARRED node — Spark now codegens the HOF? "
                f"re-measure and relax this gate: {n[:90]}"
            )
    for s in scans:
        if "DataFilters: []" in s or "DataFilters" not in s:
            problems.append(f"lane guard predicate not pushed to scan: {s[:90]}")
    return problems


def law53_main(argv: list[str]) -> int:
    base = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    scaled = argv[1] if len(argv) > 1 else "/tmp/fsk_sf1x10"
    k = float(argv[2]) if len(argv) > 2 else 10.0
    if not os.path.isdir(scaled):
        import make_scaled_dir

        print(f"[law53] building {scaled} = {base} x{int(k)}", flush=True)
        make_scaled_dir.build(base, scaled, int(k))

    queries, _ = collect()
    spark = get_spark("law53_probe")
    run_noop(queries["q_scan_parquet"](spark, base))  # warmup

    # 1. lane contract on the AQE-final plan (base dir: cheap).
    plan = _final_plan(queries["q_json_extract"](spark, base))
    problems = law53_lane_contract(plan)
    for p in problems:
        print(f"[law53] LANE CONTRACT: {p}", file=sys.stderr)

    # 2. guarded/unguarded overhead at base and at K-fold.
    def t_min2(fn, sf_dir):
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            run_noop(fn(spark, sf_dir))
            ts.append(time.perf_counter() - t0)
        return min(ts)

    # Warm BOTH query shapes once untimed: the first drive of each
    # shape pays one-time regex/codegen compilation that would land
    # asymmetrically on whichever side runs first (the x1.35-vs-x3.22
    # noise the first draft of this probe measured).
    run_noop(queries["q_json_extract"](spark, base))
    run_noop(_json_extract_unguarded(spark, base))

    rows = {}
    for tag, d in (("base", base), ("scaled", scaled)):
        tg = t_min2(queries["q_json_extract"], d)
        tu = t_min2(_json_extract_unguarded, d)
        rows[tag] = {
            "guarded_s": round(tg, 2),
            "unguarded_s": round(tu, 2),
            "overhead": round(tg / max(tu, 1e-9), 2),
        }
        print(
            f"[law53] {tag:6s} guarded={tg:6.2f}s unguarded={tu:6.2f}s "
            f"overhead=x{rows[tag]['overhead']}",
            flush=True,
        )
    limits = {"base": 3.0, "scaled": 2.0}
    for tag, lim in limits.items():
        if rows[tag]["overhead"] > lim:
            problems.append(
                f"guard overhead at {tag} = x{rows[tag]['overhead']} "
                f"exceeds x{lim} (interpreted-dispatch regression?)"
            )
            print(f"[law53] OVERHEAD: {problems[-1]}", file=sys.stderr)

    print(json.dumps({"law53": rows, "k": k, "problems": problems}))
    return 1 if problems else 0


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scaled = sys.argv[2] if len(sys.argv) > 2 else "/tmp/fsk_sf1x10"
    k = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    queries, _ = collect()
    spark = get_spark("scale_probe")
    run_noop(queries["q_scan_parquet"](spark, base))  # warmup

    def timed_min2(name: str, sf_dir: str):
        """(min seconds, last built DataFrame). The df is returned so
        the plan audit below reuses it — rebuilding via queries[name]
        would re-RUN the whole drive for the streaming/iterative
        probes, whose work happens inside the callable (r8 review
        pass: minutes of redundant wall clock at the x100 rung)."""
        ts, df = [], None
        for _ in range(2):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            run_noop(df)
            ts.append(time.perf_counter() - t0)
        return min(ts), df

    rows = []
    flags_changed = []
    for name in PROBES:
        t_base, df_base = timed_min2(name, base)
        t_scaled, df_scaled = timed_min2(name, scaled)
        f_base = plan_audit.audit_one(name, df_base)
        f_scaled = plan_audit.audit_one(name, df_scaled)
        same = set(f_base["flags"]) == set(f_scaled["flags"])
        if not same:
            flags_changed.append(
                (name, f_base["flags"], f_scaled["flags"])
            )
        r = {
            "query": name,
            "base_s": round(t_base, 2),
            "scaled_s": round(t_scaled, 2),
            "ratio": round(t_scaled / max(t_base, 1e-9), 2),
            "plan_flags_same": same,
        }
        rows.append(r)
        print(
            f"{name:24s} {r['base_s']:7.2f}s -> {r['scaled_s']:7.2f}s  "
            f"x{r['ratio']:<5} flags_same={same}",
            flush=True,
        )

    print(json.dumps({"k": k, "rows": rows}))
    if flags_changed:
        print(f"PLAN SHAPE CHANGED AT SCALE: {flags_changed}", file=sys.stderr)
        return 1
    worst = max(r["ratio"] for r in rows)
    print(f"worst growth ratio: x{worst} (data x{k})", file=sys.stderr)
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--law53":
        raise SystemExit(law53_main(sys.argv[2:]))
    raise SystemExit(main())
