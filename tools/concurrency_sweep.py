"""Concurrent-execution invariance sweep: the full hash registry run
from multiple driver threads on ONE SparkSession, every result still
matching its UTC-canonical oracle hash.

Production drivers multiplex: a multi-tenant notebook, an Airflow
worker, a serving layer all issue queries against one session from
several threads at once. The hazards are all shared-session state:

- temp-view names (plans/relational registers per-(table, sf) views —
  same name, same definition, so concurrent re-registration must be
  a no-op);
- streaming drives' memory-sink names and sink/checkpoint dirs
  (uuid-unique via loader._tmp_out — by design);
- scoped session confs (session.scoped_confs flips SESSION-GLOBAL
  confs around streaming drives, serialized under one lock);
- Spark's own thread-safety for concurrent job submission.

Two phases:
1. ``spread``: all hash queries partitioned across T worker threads
   (each query once, work-stealing order — so the interleaving varies
   run to run), every result compared to the canonical oracle hash.
2. ``selfpair``: a sample of shared-infra-heavy queries (relational
   temp views, streaming drives, lakehouse builds, UDF showcase) each
   run CONCURRENTLY WITH ITSELF from two threads — both instances
   must hash canonical (a name collision between two instances of the
   same query is the likeliest multi-tenant bug).

Usage: python tools/concurrency_sweep.py [sf_dir] [--threads T]
Defaults: sf_dir=/root/testdata/sf0.001, T=4. Exits nonzero on any
mismatch.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import deque

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from oracle import _canon_rows, make_duckdb  # noqa: E402

from flink_streaming_kmeans_spark.plans.registry import collect  # noqa: E402
from flink_streaming_kmeans_spark.session import get_spark  # noqa: E402

SELF_PAIRS = [
    "q_sub_exists",      # shared temp-view names
    "q_cte_reuse",       # shared temp-view names, sql path
    "q_stream_tumble",   # streaming drive + foreachBatch state
    "q_stream_dedup",    # streaming drive + parquet sink
    "q_lake_compact",    # lakehouse build + manifest
    "q_merge_cow",       # lakehouse copy-on-write build
    "q_udaf_pandas",     # Arrow UDF exchange
    "q_sink_roundtrip",  # write-then-read round trip
]


def run_one(spark, fn, sf_dir):
    sdf = fn(spark, sf_dir)
    return _canon_rows(list(sdf.columns), [tuple(r) for r in sdf.collect()])


def main() -> int:
    args = sys.argv[1:]
    threads = 4
    if "--threads" in args:
        i = args.index("--threads")
        threads = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    queries, oracles = collect()
    todo = sorted(oracles)

    con = make_duckdb(sf_dir)
    canon: dict[str, tuple] = {}
    t0 = time.time()
    for name in todo:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        n, cols_sorted, h, _ = _canon_rows(cols, res.fetchall())
        canon[name] = (n, cols_sorted, h)
    con.close()
    print(f"canonical oracle hashes: {len(canon)} ({time.time()-t0:.1f}s)")

    spark = get_spark("concurrency_sweep")
    failures: list[str] = []
    lock = threading.Lock()

    def check(name, tag):
        try:
            n, cols, h, _ = run_one(spark, queries[name], sf_dir)
            ok = (n, cols, h) == canon[name]
            msg = None if ok else (
                f"{tag}:{name}: rows {n}/{canon[name][0]}"
                f" cols_eq={cols == canon[name][1]} hash_eq={h == canon[name][2]}"
            )
        except Exception as e:
            msg = f"{tag}:{name}: ERROR {type(e).__name__}: {e}"
        if msg:
            with lock:
                failures.append(msg)
                print(msg, flush=True)

    # Phase 1: spread — work-stealing across T threads.
    work = deque(todo)

    def worker(wid):
        while True:
            try:
                name = work.popleft()
            except IndexError:
                return
            check(name, f"spread-w{wid}")

    t0 = time.time()
    ts = [threading.Thread(target=worker, args=(i,)) for i in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    print(
        f"spread: {len(todo)} queries on {threads} threads,"
        f" {len(failures)} failures ({time.time()-t0:.1f}s)"
    )

    # Phase 2: selfpair — each query concurrently with itself.
    before = len(failures)
    t0 = time.time()
    for name in SELF_PAIRS:
        pair = [
            threading.Thread(target=check, args=(name, f"selfpair-{i}"))
            for i in range(2)
        ]
        for t in pair:
            t.start()
        for t in pair:
            t.join()
    print(
        f"selfpair: {len(SELF_PAIRS)} pairs,"
        f" {len(failures)-before} failures ({time.time()-t0:.1f}s)"
    )

    print("CLEAN" if not failures else f"FAILURES: {len(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
