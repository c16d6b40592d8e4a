"""Execution-config invariance sweep: full-registry oracle parity
under perturbed Spark execution configs.

Every prior invariance sweep perturbed the DATA (degenerate regimes,
composed fixtures, fuzz draws) or the REDUCER count (5 vs 32). This
tool perturbs the EXECUTION MACHINERY itself and re-checks every hash
query against the (config-independent) DuckDB oracle:

- ``no_codegen``    — whole-stage codegen off + interpreted expression
                      eval (``factoryMode=NO_CODEGEN``). The same plan
                      runs through a completely different evaluation
                      path; codegen-only/interpreted-only divergence
                      (overflow handling, NaN compares, null-tracking)
                      shows up as a hash diff.
- ``no_aqe``        — adaptive query execution off: static shuffle
                      plans, no runtime coalescing/skew-split/join
                      demotion. Results must not depend on AQE's
                      runtime re-planning.
- ``arrow_tiny``    — ``arrow.maxRecordsPerBatch=7``: every pandas
                      UDF / mapInPandas / applyInPandas sees many tiny
                      Arrow batches instead of a few large ones. Any
                      cross-batch state assumption in a UDF body is a
                      correctness bug this exposes.
- ``splits_tiny``   — ``files.maxPartitionBytes=64k`` + zero open
                      cost: parquet scans split into many input
                      partitions. The r7 reducer sweep perturbed the
                      SHUFFLE side; this perturbs the SCAN side (any
                      one-file-one-partition assumption breaks here).
- ``no_broadcast``  — ``autoBroadcastJoinThreshold=-1``: every
                      planner-chosen broadcast join becomes a shuffle
                      join (explicit ``broadcast()`` hints still win,
                      by design). Join results must not depend on the
                      physical join strategy.
- ``shuffled_hash`` — ``preferSortMergeJoin=false``: equi-joins pick
                      shuffled-hash over sort-merge where legal; the
                      complementary join-strategy axis.
- ``sort_agg``      — ``useObjectHashAggregateExec=false``:
                      collect_list/string_agg-style object aggregates
                      run through SortAggregate instead of
                      ObjectHashAggregate. Any ordering assumption
                      inside an object agg shows up here.

All of these are documented runtime SQLConfs (set per-session; no JVM
restart needed). Each set runs inside one session.scoped_confs scope,
which also overrides session.RUNTIME_CONFS for its keys: AQE lives
there, and every query entry point re-applies it via ensure_confs(), so
a plain spark.conf.set would be silently undone by the first query.

The DuckDB oracle result is config-independent, so each oracle runs
ONCE and its canonical hash is reused across all config sets (the
sweep is ~2x faster than N preflights and the comparison is anchored
to one oracle reading).

Usage: python tools/config_sweep.py [sf_dir] [set ...] [--queries q1,q2]
Defaults: sf_dir=/root/testdata/sf0.001, all config sets, all hash
queries. Exits nonzero on any failure; prints a per-set summary.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from oracle import _canon_rows, make_duckdb  # noqa: E402

from flink_streaming_kmeans_spark.plans.registry import collect  # noqa: E402
from flink_streaming_kmeans_spark.session import get_spark, scoped_confs  # noqa: E402

CONFIG_SETS: dict[str, dict[str, str]] = {
    "no_codegen": {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    },
    "no_aqe": {
        "spark.sql.adaptive.enabled": "false",
    },
    "arrow_tiny": {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    },
    "splits_tiny": {
        "spark.sql.files.maxPartitionBytes": "65536",
        "spark.sql.files.openCostInBytes": "0",
    },
    "no_broadcast": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    },
    "shuffled_hash": {
        "spark.sql.join.preferSortMergeJoin": "false",
    },
    "sort_agg": {
        "spark.sql.execution.useObjectHashAggregateExec": "false",
    },
    # Memory-pressure code paths: tiny in-memory thresholds push
    # window and session-window buffers into their spillable
    # implementations, and a fallbackThreshold of 2 forces
    # ObjectHashAggregate to switch to sort-based aggregation after 2
    # keys MID-STREAM — the exact executor paths a loaded 100 TB
    # cluster takes under pressure. (session.py deliberately RAISES
    # the window spill threshold for throughput — this set proves the
    # spill path is a PERF choice, not a correctness dependency.)
    "spill_paths": {
        "spark.sql.windowExec.buffer.in.memory.threshold": "4",
        "spark.sql.windowExec.buffer.spill.threshold": "64",
        "spark.sql.sessionWindow.buffer.in.memory.threshold": "4",
        "spark.sql.sessionWindow.buffer.spill.threshold": "64",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "2",
    },
}


def oracle_hashes(con, oracles: dict[str, str], todo: list[str]) -> dict[str, tuple]:
    out = {}
    for name in todo:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        n, cols_sorted, h, _ = _canon_rows(cols, res.fetchall())
        out[name] = (n, cols_sorted, h)
    return out


def main() -> int:
    args = sys.argv[1:]
    only: list[str] | None = None
    if "--queries" in args:
        i = args.index("--queries")
        only = args[i + 1].split(",")
        del args[i : i + 2]
    dirs = [a for a in args if os.sep in a or os.path.isdir(a)]
    if len(dirs) > 1:
        print(f"ERROR: multiple sf_dir arguments: {dirs}", file=sys.stderr)
        return 2
    sf_dir = dirs[0] if dirs else "/root/testdata/sf0.001"
    sets = [a for a in args if a not in dirs]
    unknown = set(sets) - set(CONFIG_SETS)
    if unknown:
        print(f"ERROR: unknown config sets: {sorted(unknown)}", file=sys.stderr)
        print(f"  known: {sorted(CONFIG_SETS)}", file=sys.stderr)
        return 2
    sets = sets or list(CONFIG_SETS)

    queries, oracles = collect()
    todo = only or sorted(oracles)  # hash queries only: oracle is the anchor
    bad_names = set(todo) - set(oracles)
    if bad_names:
        print(f"ERROR: not hash-registered: {sorted(bad_names)}", file=sys.stderr)
        return 2

    con = make_duckdb(sf_dir)
    print(f"oracle: hashing {len(todo)} queries once at {sf_dir} ...")
    t0 = time.time()
    expected = oracle_hashes(con, oracles, todo)
    print(f"oracle: done in {time.time()-t0:.0f}s")

    spark = get_spark("config-sweep")
    failed: list[tuple[str, str, str]] = []
    for set_name in sets:
        overrides = CONFIG_SETS[set_name]
        t_set = time.time()
        n_ok = 0
        with scoped_confs(spark, overrides):
            for name in todo:
                try:
                    sdf = queries[name](spark, sf_dir)
                    rows = [tuple(r) for r in sdf.collect()]
                    n, cols, h, _ = _canon_rows(list(sdf.columns), rows)
                except Exception as e:
                    failed.append((set_name, name, f"ERROR {type(e).__name__}: {e}"))
                    print(f"  {set_name}/{name}: ERROR {type(e).__name__}: {e}")
                    continue
                en, ecols, eh = expected[name]
                if (n, cols, h) != (en, ecols, eh):
                    why = (
                        f"rows {n} vs {en}"
                        if n != en
                        else ("schema" if cols != ecols else "hash")
                    )
                    failed.append((set_name, name, why))
                    print(f"  {set_name}/{name}: FAIL ({why})")
                else:
                    n_ok += 1
        print(
            f"{set_name}: {n_ok}/{len(todo)} pass  ({time.time()-t_set:.0f}s)"
        )

    if failed:
        print(f"\nFAILED {len(failed)}:")
        for set_name, name, why in failed:
            print(f"  {set_name}/{name}: {why}")
        return 1
    print(f"\nall {len(sets)} config sets x {len(todo)} queries pass")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
