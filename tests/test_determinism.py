"""Determinism smoke (SURVEY §5.2.5): run twice → identical canonical
hash. Catches illegal nondeterminism (un-tiebroken limits, float
drift across shuffle orders, Python UDF state) early.

Subset chosen for nondeterminism *potential*: top-k/limits, window
ranks over ties, shingle self-join aggregation, Python paths, k-means.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from conftest import SF_SMOKE
from oracle import _canon_rows
from flink_streaming_kmeans_spark.session import scoped_confs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CANDIDATES = [
    "q_sort_limit",
    "q_topk_group",
    "q_text_tokens",
    "q_sim_knn",
    "q_dedup_near",
    "q_win_rank",
    "q_udaf_pandas",
    "q_ml_kmeans_assign",
    "q_ml_kmeans_iter",
    "q_agg_collect",
    # round-2b additions with nondeterminism potential: driver-loop
    # label propagation, fan_out round-robin repartition feeding
    # all-pairs / LSH banding, stratified top-k, funnel left joins
    "q_dedup_cluster",
    "q_dedup_embed",
    "q_dedup_lsh",
    "q_sim_ivf",
    "q_sample_stratified",
    "q_evt_funnel",
    "q_text_tfidf",
    # round-5 additions with nondeterminism potential: top-k over a
    # tied vocabulary, collect_list ordering (array_sort is the
    # guard), localCheckpointed iteration, anti-join + rank window,
    # a float threshold deciding a filter boundary
    "q_text_heavy_hitters",
    "q_emb_quantize",
    "q_graph_pagerank",
    "q_neg_sample",
    "q_tpch_q3",
    "q_evt_anomaly",
    # sketches: md5-pinned collisions must land identically run-to-run
    "q_sketch_cms",
    "q_sketch_bloom",
    # collect_list order is only pinned by the array_sort total order
    "q_evt_cep",
    # prefix selection depends on the (tf, tok) total order only
    "q_dedup_prefix",
    # deletion-variant buckets + distinct; five-branch union
    "q_vocab_typo",
    "q_dq_expect",
    # candidate union across two LSH tables + re-rank tie-breaks
    "q_sim_ann_multi",
    # round-6: append-mode streaming slide drive (sink file order
    # must not leak into the result) and the integer-exact HLL
    # estimate (register max-merge + LC lookup)
    "q_stream_slide",
    "q_agg_approx_cd",
]


def _hash_of(df):
    rows = [tuple(r) for r in df.collect()]
    # _canon_rows also returns the canonical lines (4th element) since
    # the r6 first-diff unification; the hash triple is what we pin.
    n, cols, h, _lines = _canon_rows(list(df.columns), rows)
    return n, cols, h


@pytest.mark.parametrize("name", CANDIDATES)
def test_run_twice_identical(spark, registry, name):
    queries, _ = registry
    n1, c1, h1 = _hash_of(queries[name](spark, SF_SMOKE))
    n2, c2, h2 = _hash_of(queries[name](spark, SF_SMOKE))
    assert (n1, c1, h1) == (n2, c2, h2)


PARTITION_SENSITIVE = [
    # float aggregation order, window framing, driver loops, Python
    # paths — everything that COULD change with reducer count
    "q_agg_q1",
    "q_agg_corr",
    "q_win_range_frame",
    "q_ml_kmeans_update",
    "q_dedup_lsh",
    "q_text_tfidf",
    "q_udaf_pandas",
    # round-5: decimal rank sums across 2 iterations; threshold filter
    "q_graph_pagerank",
    "q_evt_anomaly",
    # sketch register max-merge must not depend on reducer count
    "q_sketch_hll",
    # histogram partial-agg + cumulative window over sketch-sized data
    "q_sketch_quantile",
    # decimal HAVING threshold must not move with summation order
    "q_tpch_q18",
    # r6: HLL register sum + integral division across reducer counts
    "q_agg_approx_cd",
]


def _check_partition_invariance(spark, queries, name):
    hashes = []
    for n in ("5", "32"):
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": n}):
            hashes.append(_hash_of(queries[name](spark, SF_SMOKE)))
    a, b = hashes
    assert a == b


@pytest.mark.parametrize("name", PARTITION_SENSITIVE)
def test_partition_invariance(spark, registry, name):
    """Same canonical hash at shuffle.partitions=5 and =32: results
    must not depend on reducer count — the property that lets the same
    query run on 8 local threads or 8000 cluster cores. The decimal
    summation discipline is what makes float aggregates pass this."""
    queries, _ = registry
    _check_partition_invariance(spark, queries, name)


def _current_window_names():
    """The driver's CURRENT correctness window = the first 50
    registered hash queries, computed from the live registry so the
    list follows each round's _MODULES rotation automatically (added
    r7, whose window's oldest modules were last driver-checked on
    r2-era testdata and the hand-picked PARTITION_SENSITIVE sample
    didn't cover them all). Rows-tier queries are excluded — their
    FLOAT outputs (k-means centroids) carry no cross-partition hash
    contract (value parity is asserted in their own test modules
    instead)."""
    from flink_streaming_kmeans_spark.plans.registry import collect

    queries, oracles = collect()
    return [n for n in list(queries)[:50] if n in oracles]


def _last_recorded_window_names():
    """The hash queries of the newest committed driver record
    (CORRECTNESS_r*.json): the window the registry rotated away from.
    Keeping them makes each query's check last one round past its
    window, so a rotation adds cases and never drops the ones the
    driver just recorded."""
    from flink_streaming_kmeans_spark.plans.registry import collect

    queries, oracles = collect()
    records = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    last = json.load(open(records[-1])) if records else {}
    return [n for n in last if n in queries and n in oracles]


@pytest.mark.slow
@pytest.mark.parametrize(
    "name",
    sorted(
        (set(_current_window_names()) | set(_last_recorded_window_names()))
        - set(PARTITION_SENSITIVE)
    ),
)
def test_window_partition_invariance(spark, registry, name):
    """Partition-invariance smoke over the FULL current driver window
    and the last recorded one (minus the PARTITION_SENSITIVE names
    already checked above)."""
    queries, _ = registry
    _check_partition_invariance(spark, queries, name)
