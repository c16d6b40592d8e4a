"""Registry-wide physical-plan audit as a round-close gate (r7).

tools/plan_audit.py summarizes every registered query's executed plan
and fails on any quadratic join (BroadcastNestedLoopJoin /
CartesianProduct) or row-at-a-time Python node that is not in its
verified documented-exception table — so a non-equi join or slow-path
UDF can't slip into a hot path silently between rounds.

Runs the tool in-process (subprocess would pay a second JVM) against
the sf0.001 smoke dir: plan SHAPES are scale-invariant here — every
flag the audit classifies comes from the logical construction
(crossJoin/broadcast/UDF type), not from row counts. (AQE can pick
broadcast over shuffle joins by size, which is why the audit's
exception classes key on the quadratic/row-python flags only, not on
exchange counts.)
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


def test_no_undocumented_quadratic_or_row_python(spark, registry):
    import plan_audit

    queries, _ = registry
    bad = {}
    for name in sorted(queries):
        r = plan_audit.audit_one(name, queries[name](spark, SF_SMOKE))
        for f in r["flags"]:
            if (name, f) not in plan_audit.DOCUMENTED:
                bad.setdefault(name, []).append(f)
    assert not bad, (
        "undocumented quadratic join / row-Python in hot path — either "
        f"fix the plan or document it in tools/plan_audit.DOCUMENTED: {bad}"
    )


def test_subset_copartition_rule_flags_and_sanctions(spark):
    """r13 (r12 verdict task 5): the subset-co-partition invariant —
    session.py's global requireAllClusterKeysForCoPartition=false is
    only safe because every join that rides subset co-partitioning
    sits downstream of an explicit fan_out(by=) on a documented
    high-cardinality key. The registry-wide sweep runs via the COPART
    flag in test_no_undocumented_quadratic_or_row_python (COPART is
    never in DOCUMENTED, so any violation fails that gate); this test
    proves the detector itself is live in both directions."""
    import plan_audit
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.sources.loader import fan_out

    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = spark.range(100_000).select(
            (F.col("id") % 7).alias("k"), (F.col("id") % 50).alias("x")
        )
        # Violation: both sides arrive hashpartitioning(k) from an
        # unrelated LOW-cardinality aggregation; the join on (k, x)
        # consumes that subset partitioning with no fan_out site.
        j = (
            df.groupBy("k")
            .agg(F.max("x").alias("x"))
            .join(df.groupBy("k").agg(F.min("x").alias("x")), ["k", "x"])
        )
        v = plan_audit.subset_copartition_violations(j)
        assert v and all("⊂ join keys" in m for m in v), v

        # Sanctioned: explicit fan_out(by=) on a documented key feeds
        # the same join shape — no violation.
        def side():
            return fan_out(
                spark.range(100_000).select(
                    F.col("id").alias("doc_id"), (F.col("id") % 50).alias("x")
                ),
                by="doc_id",
            )

        assert plan_audit.subset_copartition_violations(
            side().join(side(), ["doc_id", "x"])
        ) == []


def test_law53_lane_contract_live_and_parser(spark, registry):
    """r12 (r11 verdict task 5): the law-53 guard's physical-lane
    contract — flat-doc hot path in whole-stage codegen, the per-char
    depth fold (CodegenFallback HOF) confined to the unstarred nested
    lane — gated live via tools/scale_probe.law53_lane_contract, plus
    parser mutations so the gate itself can't pass vacuously."""
    import scale_probe

    queries, _ = registry
    plan = scale_probe._final_plan(queries["q_json_extract"](spark, SF_SMOKE))
    assert scale_probe.law53_lane_contract(plan) == []

    # Mutation 1: fold leaks into a starred node -> must flag.
    leaked = plan.replace("aggregate(split(", "XXnofoldXX", 1)
    star_line = next(
        i for i, ln in enumerate(leaked.splitlines())
        if ln.lstrip().startswith(":") and "*(" in ln and "Project" in ln
    )
    lines = leaked.splitlines()
    lines[star_line] += " aggregate(split(_p0"
    assert any(
        "flat lane" in p for p in scale_probe.law53_lane_contract("\n".join(lines))
    )

    # Mutation 2: fold gone entirely (guard rewritten) -> must flag.
    gone = plan.replace("aggregate(split(", "XXnofoldXX")
    assert any(
        "deep lane" in p for p in scale_probe.law53_lane_contract(gone)
    )

    # Mutation 3: flat lane falls out of codegen (the 4x/30x failure
    # mode) -> must flag. Un-star every rail line.
    import re

    unstarred = "\n".join(
        re.sub(r"\*\(\d+\) ", "", ln) if ln.lstrip().startswith(":") else ln
        for ln in plan.splitlines()
    )
    assert any(
        "NOT codegen" in p for p in scale_probe.law53_lane_contract(unstarred)
    )
