"""Execution-machinery invariance gates (slow lane).

Two new perturbation axes on top of the data-degeneracy and
reducer-count sweeps, each held here as a sampled regression gate with
the FULL-registry sweep run per-round from the CLI tools:

1. Config invariance (tools/config_sweep.py): the same query must
   hash-match the DuckDB oracle with whole-stage codegen off
   (interpreted eval), AQE off, tiny Arrow batches, tiny scan splits,
   broadcast joins demoted, shuffled-hash joins preferred, and
   object-hash aggregation disabled. Results must be a property of the
   PLAN's semantics, not of which physical machinery executed it.

2. Micro-batch-split invariance (tools/stream_batch_sweep.py): a
   streaming drive's output is a batch-semantics statement — replaying
   the same bounded input as 1 or 5 micro-batches instead of the
   default 2-3 must not change the hash (state must carry across
   boundaries; nothing may depend on a boundary flushing it).

The samples below pick, per config set, the queries whose machinery
that set actually swaps (decimal agg soup for the interpreter, pandas
UDFs for Arrow batching, broadcast-planned joins for the demotion,
object aggs for the sort fallback, ...). The full 163-query-per-set
sweep is the round tool run recorded in SCALE.md.
"""

from __future__ import annotations

import os
import sys

import pytest

pytestmark = pytest.mark.slow  # slow lane — see pytest.ini

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from conftest import SF_SMOKE  # noqa: E402
from flink_streaming_kmeans_spark.session import scoped_confs  # noqa: E402
from oracle import check_parity  # noqa: E402

# (config set, query) — each pair exercises the machinery the set swaps.
CONFIG_CASES = [
    ("no_codegen", "q_agg_q1"),  # decimal-guarded agg soup, interpreted
    ("no_codegen", "q_str_funcs"),  # wide expression projects
    ("no_codegen", "q_win_running"),  # window frames, interpreted eval
    ("no_aqe", "q_join_salted"),  # the skew query, static plan
    ("no_aqe", "q_tpch_q5"),  # multi-join, no runtime reorder
    ("arrow_tiny", "q_udf_pandas"),  # pandas scalar UDF, 7-row batches
    ("arrow_tiny", "q_udaf_pandas"),  # grouped-agg pandas UDF
    ("arrow_tiny", "q_multimodal_join"),  # mapInPandas blob path
    ("splits_tiny", "q_scan_parquet"),  # many scan partitions
    ("splits_tiny", "q_dedup_lsh"),  # banded join over split scans
    ("no_broadcast", "q_join_broadcast"),  # explicit hint must survive
    ("no_broadcast", "q_tpch_q3"),  # planner-chosen broadcasts demoted
    ("shuffled_hash", "q_join_inner"),
    ("shuffled_hash", "q_join_full"),  # full outer: SMJ-only in Spark, must not flip
    ("sort_agg", "q_agg_collect"),  # collect_list via SortAggregate
    ("sort_agg", "q_agg_string_agg"),
    ("sort_agg", "q_agg_mode"),
    ("spill_paths", "q_win_running"),  # window buffer spill impl
    ("spill_paths", "q_win_session"),  # session-window buffer spill
    ("spill_paths", "q_agg_collect"),  # obj-hash agg sort fallback mid-stream
    ("spill_paths", "q_win_range_frame"),  # bounded frames over spilled buffer
]


@pytest.mark.parametrize("set_name,query", CONFIG_CASES)
def test_config_invariance(spark, registry, duck_smoke, set_name, query):
    import config_sweep

    queries, oracles = registry
    with scoped_confs(spark, config_sweep.CONFIG_SETS[set_name]):
        r = check_parity(
            spark, duck_smoke, query, queries[query], oracles[query], SF_SMOKE
        )
    assert r.ok, f"{set_name}/{query}: {r.detail}"


# Streaming drives × batch counts: 1 (no internal boundary) and 5
# (more boundaries than any default). The four here cover the distinct
# state shapes: dropDuplicates state, session windows + sentinel,
# foreachBatch CDC merge, update-mode tumbling aggregate.
BATCH_CASES = [
    (1, "q_stream_dedup"),
    (5, "q_stream_dedup"),
    (1, "q_stream_session"),
    (5, "q_stream_session"),
    (1, "q_stream_upsert"),
    (5, "q_stream_upsert"),
    (5, "q_stream_tumble"),
]


@pytest.mark.parametrize("n,query", BATCH_CASES)
def test_stream_batch_split_invariance(
    spark, registry, duck_smoke, monkeypatch, n, query
):
    queries, oracles = registry
    monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCHES", str(n))
    r = check_parity(
        spark, duck_smoke, query, queries[query], oracles[query], SF_SMOKE
    )
    assert r.ok, f"batches={n}/{query}: {r.detail}"


# CLI arg robustness (the plan_audit typo lesson from the r8 ADVICE:
# a misspelled name must fail loudly, not read as a pass).
def test_config_sweep_rejects_unknown_set():
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [_sys.executable, os.path.join(repo, "tools", "config_sweep.py"),
         "no_codgen"],  # typo
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2
    assert "unknown config sets" in r.stderr


def test_config_sweep_rejects_unknown_query():
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [_sys.executable, os.path.join(repo, "tools", "config_sweep.py"),
         "no_codegen", "--queries", "q_does_not_exist"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2
    assert "not hash-registered" in r.stderr
