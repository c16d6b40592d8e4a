"""Physical-plan audits — the 100 TB scale contract, asserted.

Correctness tests prove the operators compute the right answer at
small SF; these prove the PLANS are the ones that survive a 100×
scale-up: filters reach the parquet scan, small dims broadcast, top-k
never globally sorts, subqueries decorrelate to joins, aggregates
combine map-side, and the near-dup / ANN candidate generation is an
equi-join — never a cartesian product.

A regression here (e.g. a refactor that breaks pushdown or turns the
shingle join into a BNLJ) changes no small-SF result but is exactly
what kills the operator at scale, so it must fail CI.
"""

from __future__ import annotations

import re

import pytest

from conftest import SF_T2
from flink_streaming_kmeans_spark.session import scoped_confs


def plan_of(df, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    return df._sc._jvm.PythonSQLUtils.explainString(jqe, mode)


@pytest.fixture(scope="module")
def plans(spark, registry):
    queries, _ = registry

    def get(name: str, mode: str = "formatted") -> str:
        return plan_of(queries[name](spark, SF_T2), mode)

    return get


def test_scan_pruned_pushes_filter_and_prunes_columns(plans):
    p = plans("q_scan_pruned")
    assert "GreaterThanOrEqual(l_shipdate" in p, "filter not pushed to scan"
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == ["l_orderkey", "l_quantity", "l_shipdate"], cols


def test_broadcast_join_is_broadcast(plans):
    p = plans("q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_sort_limit_is_take_ordered_not_global_sort(plans):
    p = plans("q_sort_limit")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p, "top-k must not shuffle"


def test_topk_group_take_ordered(plans):
    # per-group top-3 via window: one hash-partitioned exchange on the
    # group key, never a global sort/collect
    p = plans("q_topk_group")
    assert "WindowGroupLimit" in p or "Window" in p
    assert "rangepartitioning" not in p.lower() or "TakeOrdered" in p


def test_ntile_scaled_rekeys_past_partition_hazard(plans, spark, registry):
    """q_win_ntile_scaled exists to kill the 5-partition window hazard:
    the window must partition on the COMPOSITE key (both columns in the
    Window partition spec), and the data must fan out past 5 window
    partitions (~125 at any SF) so no single task holds a fifth of the
    table at 100×."""
    p = plans("q_win_ntile_scaled", "extended")
    m = re.search(r"windowspecdefinition\(([^)]*)", p)
    assert m and "c_mktsegment" in m.group(1) and "c_nationkey" in m.group(1), p
    n_parts = (
        spark.read.parquet(f"{SF_T2}/customer.parquet")
        .select("c_mktsegment", "c_nationkey")
        .distinct()
        .count()
    )
    assert n_parts > 5, n_parts


def test_exists_subquery_decorrelates_to_semi_join(plans):
    p = plans("q_sub_exists")
    assert "LeftSemi" in p, "EXISTS did not decorrelate to a semi join"


def test_scalar_subquery_decorrelates_to_aggregate_join(plans):
    p = plans("q_sub_scalar")
    # one grouped aggregate joined back — no per-row subquery execution
    assert "HashAggregate" in p
    assert "LeftOuter" in p or "Inner" in p


def test_agg_q1_partial_final_pairs(plans):
    # "simple" mode prints each node once — countable
    p = plans("q_agg_q1", "simple")
    assert "partial_sum" in p, "no map-side combine"
    assert p.count("HashAggregate") == 2
    # Exactly ONE aggregate shuffle (hashpartitioning on the group
    # keys) plus the r12 fan_out's round-robin repartition, which
    # spreads the one-core single-file scan's decimal partials across
    # the cluster (same contract as test_compute_heavy_scans_fan_out).
    assert p.count("Exchange") == 2, p
    assert "RoundRobinPartitioning" in p, "q_agg_q1 lost its fan_out"
    assert p.count("hashpartitioning") == 1, p


def test_agg_approx_cd_is_two_level_hash_agg_no_python(plans):
    """The portable HLL estimate (r6 hash-tier q_agg_approx_cd) must
    keep the sketch shuffle shape: partial max per (flag, bucket)
    collapses each partition to <=256 rows per group BEFORE the
    exchange (two HashAggregate pairs — register build + register
    sum), and the whole plan stays JVM-side (no Python eval)."""
    p = plans("q_agg_approx_cd", "simple")
    assert "partial_max" in p, "register build has no map-side combine"
    assert p.count("HashAggregate") == 4, p
    assert "Python" not in p and "Arrow" not in p, p


def test_pivot_is_aggregates_only_no_join(plans):
    # Spark pivots via a (status, priority) pre-aggregate + pivotfirst —
    # two agg pairs whose shuffles carry only group rows. No join, no
    # value-discovery scan (explicit value list keeps the plan static).
    p = plans("q_pivot", "simple")
    assert "Join" not in p
    assert "pivotfirst" in p
    assert p.count("Exchange") <= 2


def test_kmeans_assign_broadcasts_centroids(plans):
    p = plans("q_ml_kmeans_assign")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p, "centroid side must broadcast"


def test_dedup_near_is_equi_join_not_cartesian(plans):
    p = plans("q_dedup_near")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (
        "shingle candidate join must be an equi-join"
    )
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_range_binned_is_equi_join(plans):
    p = plans("q_join_range_binned", "simple")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, (
        "binned range join must be an equi-join"
    )
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_sim_ann_candidates_meet_in_buckets(plans):
    p = plans("q_sim_ann")
    assert "CartesianProduct" not in p, (
        "ANN candidates must meet via the bucket equi-join, not all-pairs"
    )


def test_sim_knn_probe_side_broadcasts(plans):
    p = plans("q_sim_knn")
    assert "Broadcast" in p, "probe vectors must broadcast against the corpus scan"


def test_udf_pandas_is_arrow_eval(plans):
    p = plans("q_udf_pandas")
    assert "ArrowEvalPython" in p, "pandas UDF must run on the Arrow path"


def test_udf_python_is_batch_eval(plans):
    p = plans("q_udf_python")
    assert "BatchEvalPython" in p or "ArrowEvalPython" in p


def test_whole_stage_codegen_covers_relational_core(plans):
    # q_project_compute is a pure map over lineitem: the entire plan
    # below the scan must sit inside one WholeStageCodegen span.
    p = plans("q_project_compute", "simple")
    assert "*(1)" in p or "WholeStageCodegen" in p, p
    assert "Exchange" not in p


def test_join_salted_is_shuffled_hash_not_broadcast(plans):
    # The point of the salted join is exercising the shuffle path a hot
    # key would take at scale; if Spark silently broadcasts the
    # replicated build side the demo proves nothing.
    p = plans("q_join_salted")
    assert "ShuffledHashJoin" in p, "salted join must take the shuffle-hash path"


def test_dedup_embed_probe_side_fans_out(plans):
    # All-pairs baseline: build side broadcast, probe side round-robin
    # repartitioned so the pair evaluation parallelizes (one parquet
    # file otherwise scans as ONE partition — measured 12x).
    p = plans("q_dedup_embed")
    assert "BroadcastNestedLoopJoin" in p
    assert "roundrobin" in p.lower() or "RoundRobin" in p, (
        "probe side must fan out across cores"
    )


def test_tfidf_total_docs_broadcasts(plans):
    # The 1-row corpus count must broadcast; term-frequency join stays
    # an equi-join on the term.
    p = plans("q_text_tfidf")
    assert "CartesianProduct" not in p
    assert "Broadcast" in p


def test_dedup_lsh_candidates_meet_in_band_buckets(plans):
    # The whole point of the LSH variant: candidates meet via the
    # (band, band-hash) self-equi-join, never an all-pairs product.
    # (The only permitted nested-loop is the bounded 12-row broadcast
    # of the hash-family parameters.)
    p = plans("q_dedup_lsh")
    assert "CartesianProduct" not in p
    assert (
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    ), "band-bucket candidate join must be an equi-join"


def test_dedup_canonical_top1_is_partial_agg_no_window(plans):
    # r12: the per-cluster keep-richest top-1 is a max(struct(n_chars,
    # -doc_id, doc_id)) aggregate, NOT a row_number window — the
    # partial_max collapses each map partition to one candidate per
    # cluster BEFORE the shuffle (the struct buffer rides Spark's
    # sort-based aggregate path, but the exchange carries aggregated
    # candidates, not rows). A refactor that reintroduces the window
    # changes no small-SF result but ships every scored row at scale.
    p = plans("q_dedup_canonical")
    assert "Window" not in p, "canonical top-1 regressed to a window"
    assert "partial_max(struct(n_chars" in p, (
        "map-side partial argmax missing: " + p
    )


def test_not_in_plans_null_aware_anti_join(plans):
    # NOT IN must exercise Spark's dedicated three-valued-logic path,
    # not decay to a plain LeftAnti (which would be wrong under NULLs).
    p = plans("q_join_not_in")
    assert "NullAwareAntiJoin" in p or "LeftAnti BuildRight" in p, p


def test_multi_distinct_uses_expand(plans):
    # Two COUNT(DISTINCT) over different columns: Spark's Expand-based
    # rewrite (replicate per distinct set) — the plan to watch, since
    # its cost multiplies with each additional distinct aggregate.
    p = plans("q_agg_multi_distinct")
    assert "Expand" in p


def test_aqe_coalesces_shuffle_partitions(spark, registry):
    # Runtime evidence that AQE is live: after execution, the final
    # adaptive plan reads the 32-partition shuffle through an
    # AQEShuffleRead that coalesces tiny map outputs — the mechanism
    # that right-sizes reducer counts at any SF without retuning
    # spark.sql.shuffle.partitions.
    queries, _ = registry
    df = queries["q_agg_q1"](spark, SF_T2)
    df.collect()  # materialize so the adaptive plan is final
    p = plan_of(df)
    assert "AdaptiveSparkPlan" in p
    assert "AQEShuffleRead" in p and "coalesced" in p.lower(), p


def test_aqe_splits_skewed_join_partitions(spark):
    # Runtime evidence for the skew story SCALE.md leans on: a hot key
    # (200k of 300k rows) under a sort-merge join gets split by AQE's
    # OptimizeSkewedJoin — the executed plan shows
    # SortMergeJoin(skew=true) reading 'coalesced and skewed' shuffle
    # partitions. Thresholds are scaled to local data sizes and
    # restored afterwards.
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    with scoped_confs(spark, tuned):
        left = spark.range(300_000).select(
            F.when(F.col("id") < 200_000, F.lit(7))
            .otherwise((F.col("id") % 999) + 10)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(2_000).select(
            (F.col("id") % 1100).alias("k"), F.col("id").alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 589_100
        p = plan_of(j)  # executed → final adaptive plan
        assert "skew=true" in p, p


def test_runtime_bloom_filter_prunes_fact_side(spark):
    # Runtime-filter evidence for the 100 TB story: a selective
    # dimension predicate under a shuffled join makes Spark inject a
    # bloom filter built from the dim side and apply it to the fact
    # scan BEFORE the shuffle (might_contain over xxhash64) — the
    # semi-join reduction that keeps a 100 TB fact shuffle
    # proportional to matching rows, not table size. Thresholds are
    # lowered to local data sizes and restored afterwards.
    from flink_streaming_kmeans_spark.sources.loader import load_table
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    with scoped_confs(spark, tuned):
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        l = load_table(spark, SF_T2, "lineitem")
        o = load_table(spark, SF_T2, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in p, p
        assert "might_contain" in p, p


def test_compute_heavy_scans_fan_out(spark, registry):
    """Single-row-group fixture files scan as ONE partition; the
    compute-heavy queries must restore parallelism via fan_out or the
    per-row work (decimal moments, per-token md5) runs one-core — a
    silent 3-30x local regression if someone drops the repartition."""
    queries, _ = registry
    # q_dedup_simhash uses the KEYED fan_out form (r12 optimization,
    # guide §2.4): hashpartitioning(doc_id) restores the same
    # parallelism AND feeds every downstream doc_id-clustered
    # aggregate exchange-free, so either partitioning satisfies the
    # "not one-core" contract this test pins.
    for name, accept in (
        ("q_agg_corr", ("RoundRobinPartitioning",)),
        ("q_dedup_simhash", ("RoundRobinPartitioning", "hashpartitioning(doc_id")),
        ("q_join_range", ("RoundRobinPartitioning",)),
    ):
        df = queries[name](spark, SF_T2)
        p = plan_of(df, "formatted")
        assert any(a in p for a in accept), f"{name} lost its fan_out"


def test_heavy_hitters_take_ordered_after_partial_agg(plans):
    # corpus top-k: map-side partial vocabulary aggregate, then
    # TakeOrderedAndProject (per-partition heaps) — never a global
    # sort of the vocabulary
    p = plans("q_text_heavy_hitters")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "HashAggregate" in p


def test_emb_quantize_codebook_broadcasts(plans):
    # the 64-row per-dimension min/max codebook must come back as a
    # broadcast, not a shuffled join against the exploded fact side
    p = plans("q_emb_quantize")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_zorder_key_is_codegen_only(plans):
    # the Morton interleave is a per-row integer expression: one scan,
    # no exchange, fully inside whole-stage codegen
    p = plans("q_zorder_cluster")
    assert "Exchange" not in p
    assert "[codegen id :" in p  # starred (whole-stage-compiled) projects


def test_markov_totals_broadcast(plans):
    # the per-prev totals table is |event_type|-sized: must broadcast,
    # and the lag window must partition by user_id (no global window)
    p = plans("q_evt_markov")
    assert "BroadcastHashJoin" in p
    ext = plans("q_evt_markov", "extended")
    m = re.search(r"windowspecdefinition\(([^)]*)", ext)
    assert m and "user_id" in m.group(1), m


def test_pagerank_no_cartesian_constant_shape(plans):
    # each iteration is join + hash-aggregate; never a cartesian
    # product, and degree/contribution joins stay equi-joins
    p = plans("q_graph_pagerank")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "HashAggregate" in p


def test_tpch_q5_dims_broadcast_facts_shuffle(plans):
    # the six-table chain: region/nation/supplier come in as broadcast
    # hash joins; only the two genuinely-big joins may shuffle; and the
    # year predicate must reach the orders scan as a pushed filter
    p = plans("q_tpch_q5")
    assert p.count("BroadcastHashJoin") >= 3, p.count("BroadcastHashJoin")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "o_orderdate" in p.split("PushedFilters")[1][:300] or \
        "PushedFilters: [IsNotNull(o_orderdate)" in p


def test_tpch_q3_predicates_push_to_both_fact_scans(plans):
    p = plans("q_tpch_q3")
    assert "TakeOrderedAndProject" in p
    # both date predicates pushed into their scans
    seg = [s[:400] for s in p.split("PushedFilters")[1:]]
    assert any("o_orderdate" in x for x in seg), seg
    assert any("l_shipdate" in x for x in seg), seg


def test_sketch_bloom_probe_join_broadcasts_bits(plans):
    # the ≤2048-row bit set and member set must come in as broadcast
    # hash joins against the linear probe pass — the semi-join-pushdown
    # shape; a shuffled join on `bit` would defeat the point of a
    # bloom filter at scale
    p = plans("q_sketch_bloom")
    assert p.count("BroadcastHashJoin") >= 2, p.count("BroadcastHashJoin")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_sketch_hll_registers_combine_map_side(plans):
    # partial+final HashAggregate on bucket: every partition reduces to
    # ≤256 register rows before the shuffle — the executor max-merge
    p = plans("q_sketch_hll")
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    assert "Exchange" in p  # exactly the one 256-key shuffle


def test_sketch_cms_collapses_keys_before_sketch(plans):
    # the frequency table (shuffle = distinct keys) is built by a
    # partial+final agg BEFORE the 4-way depth expansion; the depth
    # frame joins broadcast — no shuffle ever carries N rows × depth
    p = plans("q_sketch_cms")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert len(re.findall(r"HashAggregate", p)) >= 2


def test_asof_fwd_single_shuffle_on_key(plans):
    # forward as-of must keep the backward variant's ONE |L|+|R|
    # shuffle on user_id: a union + window, never a per-key join
    p = plans("q_join_asof_fwd")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Union" in p and "Window" in p


def test_dedup_prefix_candidates_meet_in_buckets(plans):
    # prefix filtering's whole point: candidates come from an
    # equi-join on prefix tokens — a cartesian/BNLJ here would be the
    # all-pairs plan the algorithm exists to avoid
    p = plans("q_dedup_prefix")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_asof_tol_single_shuffle_union_window(plans):
    # the tolerance post-filter must not change the asof plan shape
    p = plans("q_join_asof_tol")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "Union" in p and "Window" in p


def test_sketch_quantile_histogram_combines_map_side(plans):
    # the 128-bin histogram must partial-aggregate (each partition
    # reduces to its local counters before the shuffle); stats and
    # probe frames broadcast
    p = plans("q_sketch_quantile")
    assert len(re.findall(r"HashAggregate", p)) >= 2
    assert "CartesianProduct" not in p


def test_tpch_q10_predicates_push_to_both_fact_scans(plans):
    p = plans("q_tpch_q10")
    assert "TakeOrderedAndProject" in p
    seg = [s[:400] for s in p.split("PushedFilters")[1:]]
    assert any("o_orderdate" in x for x in seg), seg
    assert any("l_returnflag" in x for x in seg), seg
    assert "CartesianProduct" not in p


def test_tpch_q18_semi_joins_back_the_qualifying_tail(plans):
    # the HAVING subquery must come back as a semi join (never a full
    # join materializing big-order lineitems twice)
    p = plans("q_tpch_q18")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_dq_expect_planted_violations(spark, registry, tmp_path):
    """The production data is clean for three of the five
    expectations; plant every violation type in a synthetic pair of
    tables and assert the exact counts: 2 duplicate orderkeys, 3
    NULL custkeys, 4 orphan custkeys, prices at 0 / negative /
    >450k, and statuses outside {F, O}."""
    import datetime as dt

    customers = [(i, f"c{i}", 0, 0.0, "BUILDING") for i in range(1, 6)]
    cdf = spark.createDataFrame(
        customers,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    d0 = dt.datetime(2024, 1, 1)
    orders = [
        # (okey, custkey, status, price)
        (1, 1, "F", 100.0),
        (1, 2, "O", 100.0),   # dup okey (2 rows -> 1 violating key)
        (2, 2, "O", 100.0),
        (2, 3, "F", 100.0),   # dup okey
        (3, None, "F", 100.0),
        (4, None, "O", 100.0),
        (5, None, "F", 100.0),  # 3 null custkeys
        (6, 99, "O", 100.0),
        (7, 98, "F", 100.0),
        (8, 97, "O", 100.0),
        (9, 96, "F", 100.0),  # 4 orphans
        (10, 1, "F", 0.0),     # price <= 0
        (11, 2, "O", -5.0),    # price <= 0
        (12, 3, "F", 500000.0),  # price > 450k
        (13, 4, "P", 100.0),   # status out of domain
        (14, 5, "X", 100.0),   # status out of domain
    ]
    odf = spark.createDataFrame(
        [(k, c, s, p, d0, "1-URGENT") for k, c, s, p in orders],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    sf = str(tmp_path / "dq_planted")
    cdf.coalesce(1).write.parquet(f"{sf}/customer.parquet")
    odf.coalesce(1).write.parquet(f"{sf}/orders.parquet")

    queries, _ = registry
    got = {
        r.expectation: r.n_violations
        for r in queries["q_dq_expect"](spark, sf).collect()
    }
    assert got == {
        "orderkey_unique": 2,
        "custkey_not_null": 3,
        "custkey_in_customer": 4,
        "totalprice_under_450k": 3,
        "status_in_F_O": 2,
    }, got
