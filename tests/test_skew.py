"""Adversarial-skew gates (slow lane; r8 verdict task 5).

The x10/x100 scale rungs grow volume uniformly; real 100 TB pain is
key skew. tools/make_skewed_dir.py plants one head key owning ~30% of
events/orders/lineitem rows (hot user, hot customer, hot order key);
these gates pin two properties on that fixture at pytest scale:

1. CORRECTNESS UNDER SKEW — the shuffle-heavy queries stay hash-exact
   against DuckDB on the skewed dir. Skew must cost (bounded) time,
   never answers: a salting bug, a hot-session state bug, or a
   skew-triggered AQE re-plan that changes semantics all land here.
2. AQE SKEW-SPLIT FIRES — OptimizeSkewedJoin actually splits the hot
   orders⋈lineitem partition on this fixture when the byte thresholds
   AND the map-side split geometry are scoped to local sizes
   (skew_probe.aqe_skew_split_fires documents why maxPartitionBytes
   is part of that scoping: split granularity = mapper count).

The perf half of the story (skewed vs uniform wall time at equal
volume, plan-flag equality) is tools/skew_probe.py, run at the x10
rung and logged in SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest
from oracle import check_parity, make_duckdb

from conftest import SF_SMOKE
from flink_streaming_kmeans_spark.session import scoped_confs

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

pytestmark = pytest.mark.slow  # slow lane — see pytest.ini

SKEW_CHECKED = [
    "q_tpch_q10",
    "q_tpch_q18",
    "q_win_time_range",
    "q_dedup_lsh",
    "q_join_salted",
    "q_evt_funnel",
    "q_stream_session",
]


@pytest.fixture(scope="module")
def skewed_sf():
    from make_skewed_dir import skew

    d = tempfile.mkdtemp(prefix="fsk_skew_gate_")
    skew(SF_SMOKE, d, 3)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def skewed_duck(skewed_sf):
    con = make_duckdb(skewed_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", SKEW_CHECKED)
def test_parity_under_skew(spark, registry, skewed_sf, skewed_duck, name):
    queries, oracles = registry
    r = check_parity(
        spark, skewed_duck, name, queries[name], oracles[name], skewed_sf
    )
    assert r.ok, (
        f"{name} diverges on the skewed fixture: rows={r.rows_match} "
        f"schema={r.schema_match} hash={r.hash_match}\n{r.detail}"
    )
    assert r.spark_rows > 0, f"{name}: skew gate is vacuous (0 rows)"


def test_head_key_owns_a_third(spark, skewed_sf):
    # non-vacuity for the whole module: the fixture really is skewed.
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(skewed_sf, "events.parquet"))
    top = (
        ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] / ev.count() > 0.25, top


def test_aqe_skew_split_fires_on_skewed_fixture(spark, skewed_sf):
    from skew_probe import aqe_skew_split_fires

    fires, stages = aqe_skew_split_fires(spark, skewed_sf)
    assert fires, (
        "OptimizeSkewedJoin never split the planted hot join partition; "
        f"final-plan shuffle stages as (map tasks, shuffle partitions): {stages}"
    )


@pytest.fixture(scope="module")
def nullhead_sf():
    """The mass-NULL-key regime: the head 30% of events.user_id /
    orders.o_custkey / lineitem.l_orderkey are NULL (a logging bug at
    volume). NULL is simultaneously a GROUP (window partitions and
    group-bys collect all NULLs into one 30%-of-the-table unit) and a
    NON-KEY (equi-joins drop it, identity-keyed dedup bypasses it) —
    the gate checks the two roles stay exact at volume. The full
    167-query preflight on this fixture was clean at x3 sf0.01
    (SCALE.md round-9); this pins the NULL-sensitive shapes at pytest
    scale."""
    from make_skewed_dir import skew

    d = tempfile.mkdtemp(prefix="fsk_nullhead_gate_")
    skew(SF_SMOKE, d, 3, null_head=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


NULLHEAD_CHECKED = [
    "q_win_time_range",  # 30% NULL window partition (NULL-as-group)
    "q_evt_retention",   # NULL user cohort arithmetic
    "q_join_left",       # NULL FK side preserved, not matched
    "q_tpch_q10",        # NULL o_custkey dropped by the inner join
    "q_stream_session",  # NULL-user sessions + the sentinel bound
    "q_evt_funnel",      # per-user sequence over a NULL mega-user
]


@pytest.mark.parametrize("name", NULLHEAD_CHECKED)
def test_parity_under_mass_null_keys(
    spark, registry, nullhead_sf, name
):
    queries, oracles = registry
    con = make_duckdb(nullhead_sf)
    try:
        r = check_parity(
            spark, con, name, queries[name], oracles[name], nullhead_sf
        )
    finally:
        con.close()
    assert r.ok, (
        f"{name} diverges on the mass-NULL-key fixture: "
        f"rows={r.rows_match} schema={r.schema_match} "
        f"hash={r.hash_match}\n{r.detail}"
    )
    assert r.spark_rows > 0, f"{name}: NULL-head gate is vacuous"


def test_bucketed_time_range_rewrite_is_identical(spark, registry, skewed_sf):
    """Finding-2 mitigation, pinned: the two-phase (user, 10-min bin)
    rewrite of the RANGE window — each row duplicated once as next-bin
    context, window within (user, bin), own rows kept — is
    row-for-row IDENTICAL to the single-window registry form on the
    skewed fixture (exceptAll both ways), while spreading the hot
    user across time bins (measured ~7x at the x10 rung, SCALE.md)."""
    from skew_probe import bucketed_time_range

    queries, _ = registry
    a = queries["q_win_time_range"](spark, skewed_sf)
    b = bucketed_time_range(spark, skewed_sf)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() > 0


def test_chained_same_key_join_blocks_skew_split(spark):
    """The q18 structural finding (SCALE.md r10), pinned at pytest
    scale: OptimizeSkewedJoin pattern-matches
    SMJ(sort(shuffle-stage), sort(shuffle-stage)), so a join whose
    input is ANOTHER join's output on the same key (Catalyst's
    partitioning reuse — one fewer shuffle) is skew-UNSPLITTABLE at
    any threshold; breaking the chain by broadcasting the first join
    restores the pattern and the split fires. Both arms run the same
    data and thresholds — the plan shape is the only variable."""
    from pyspark.sql import functions as F

    from test_plans import plan_of

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }

    def fact_and_dims():
        # hot key 7 owns 200k of 300k fact rows (the synthetic twin of
        # the skewed fixture's 30% head key, scaled for pytest)
        fact = spark.range(300_000).select(
            F.when(F.col("id") < 200_000, F.lit(7))
            .otherwise((F.col("id") % 999) + 10)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(2_000).select(
            (F.col("id") % 1100).alias("k"), F.col("id").alias("w")
        )
        # tiny same-key filter table (q18's `big` analog)
        keep = spark.range(1_200).select(F.col("id").alias("k"))
        return fact, dim, keep

    with scoped_confs(spark, tuned):
        # Arm 1 — CHAINED: dim ⋈semi keep on k, then ⋈ fact on k. The
        # inner join's left side reuses the semi join's partitioning →
        # not a fresh shuffle stage → no split, despite the identical
        # hot key and thresholds.
        # NB: .count() would execute a SEPARATE queryExecution and
        # leave these plans un-finalized (isFinalPlan=false, vacuously
        # skew-free) — execute the df's OWN plan via toRdd().
        fact, dim, keep = fact_and_dims()
        chained = dim.join(keep, "k", "semi").join(fact, "k")
        n1 = chained._jdf.queryExecution().toRdd().count()
        p1 = plan_of(chained)
        assert "isFinalPlan=false" not in p1
        assert "skew=true" not in p1, (
            "chained same-key join unexpectedly split — if Spark "
            "gained this ability, the q18 SCALE.md story needs updating"
        )

        # Arm 2 — UNCHAINED: broadcast the semi, so the fact join's
        # sides are both fresh exchanges → the split fires.
        fact, dim, keep = fact_and_dims()
        unchained = dim.join(F.broadcast(keep), "k", "semi").join(fact, "k")
        n2 = unchained._jdf.queryExecution().toRdd().count()
        p2 = plan_of(unchained)
        assert "isFinalPlan=false" not in p2
        assert "skew=true" in p2, p2
        assert n1 == n2 and n1 > 0
