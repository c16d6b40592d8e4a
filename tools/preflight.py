"""Run the oracle-parity preflight over the registry from the CLI.

Usage: python tools/preflight.py [sf_dir] [query ...]
Defaults: sf_dir=/root/testdata/sf0.01, all registered queries.
Prints one line per query; exits nonzero on any failure.
"""

from __future__ import annotations

import os
import sys
import time

# Anchor to the repo root via __file__, not the cwd — the script must
# work from any directory (review r6).
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from oracle import check_parity, make_duckdb  # noqa: E402

from flink_streaming_kmeans_spark.plans.registry import collect  # noqa: E402
from flink_streaming_kmeans_spark.session import get_spark  # noqa: E402


def main() -> int:
    # Arg classification by SHAPE, not position (review r6: the old
    # position-0-with-a-slash rule silently ran `preflight.py q_x
    # /path/to/sf` against the DEFAULT sf dir — a false-green check at
    # the wrong scale factor). A directory path (exists, or contains a
    # separator) is the sf_dir wherever it appears; two dirs is an
    # error; everything else must be a query name.
    args = sys.argv[1:]
    dirs = [a for a in args if os.sep in a or os.path.isdir(a)]
    if len(dirs) > 1:
        print(f"ERROR: multiple sf_dir arguments: {dirs}", file=sys.stderr)
        return 2
    sf_dir = dirs[0] if dirs else "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        print(f"ERROR: sf_dir does not exist: {sf_dir}", file=sys.stderr)
        return 2
    names = [a for a in args if a not in dirs]

    queries, oracles = collect()
    todo = names or sorted(queries)
    spark = get_spark("preflight")
    con = make_duckdb(sf_dir)

    failed = []
    for name in todo:
        if name not in queries:
            print(f"{name}: NOT REGISTERED")
            failed.append(name)
            continue
        t0 = time.time()
        if name not in oracles:
            try:
                n = queries[name](spark, sf_dir).count()
                print(f"{name}: rows-only, {n} rows  ({time.time()-t0:.1f}s)")
            except Exception as e:
                print(f"{name}: ERROR {type(e).__name__}: {e}")
                failed.append(name)
            continue
        try:
            r = check_parity(spark, con, name, queries[name], oracles[name], sf_dir)
        except Exception as e:
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            failed.append(name)
            continue
        status = "PASS" if r.ok else "FAIL"
        print(
            f"{name}: {status} rows={r.rows_match}({r.spark_rows}/{r.duck_rows})"
            f" schema={r.schema_match} hash={r.hash_match}  ({time.time()-t0:.1f}s)"
        )
        if not r.ok:
            print(f"  {r.detail}")
            failed.append(name)

    print(f"\n{len(todo) - len(failed)}/{len(todo)} pass")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
