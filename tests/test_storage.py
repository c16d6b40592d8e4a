"""Storage-layout scale evidence: partition pruning on the partitioned
sink, and bucketed tables joining with NO shuffle exchange.

Bucketing is the canonical 100 TB co-location strategy: paying one
shuffle at write time buys every subsequent equi-join/aggregation on
the bucket key a shuffle-free plan. It needs saveAsTable (a catalog),
so it lives test-tier rather than as a registered query.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from test_plans import plan_of


def test_partitioned_sink_prunes_partitions(spark, registry):
    queries, _ = registry
    df = queries["q_sink_partitioned"](spark, SF_SMOKE)
    p = plan_of(df)
    assert "PartitionFilters: [isnotnull(l_returnflag" in p.replace("#", " #").replace(
        "l_returnflag #", "l_returnflag#"
    ) or "PartitionFilters: [isnotnull(l_returnflag" in p, p
    # the flag predicate must be a partition filter, not a data filter
    assert "PartitionFilters" in p and "(l_returnflag" in p.split("PartitionFilters")[1].split("]")[0]


def test_bucketed_join_has_no_shuffle(spark):
    """orders and customer bucketed by custkey into the same bucket
    count: the join plan must contain zero Exchange nodes (bucketing
    provides the hash distribution) — the write-once/join-free-forever
    trade that matters at 100 TB."""
    from flink_streaming_kmeans_spark.sources.loader import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    spark.sql("DROP TABLE IF EXISTS fsk_orders_b")
    spark.sql("DROP TABLE IF EXISTS fsk_customer_b")
    try:
        o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).saveAsTable("fsk_orders_b")
        c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
            "overwrite"
        ).saveAsTable("fsk_customer_b")

        ob = spark.table("fsk_orders_b")
        cb = spark.table("fsk_customer_b")
        # merge hint: at this tiny SF Catalyst would broadcast (also
        # shuffle-free, but that proves nothing about bucketing); at
        # real scale both sides exceed the broadcast threshold and SMJ
        # is what the planner picks on its own.
        joined = ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey).groupBy(
            "c_nationkey"
        ).agg(F.count(F.lit(1)).alias("n"))

        p = plan_of(joined, "simple")
        # the join itself must not shuffle either side; the only
        # allowed exchange is the post-join aggregation's
        join_part = p.split("Join")[-1]
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        assert "Exchange" not in join_part, (
            "bucketed join shuffled its inputs:\n" + p
        )

        # and it returns the same counts as the plain join
        plain = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS fsk_orders_b")
        spark.sql("DROP TABLE IF EXISTS fsk_customer_b")


def test_zorder_layout_tightens_both_column_spans(spark, registry):
    """The q_zorder_cluster payoff, asserted on real files: range-
    partitioning by the Morton zkey yields per-file spans on BOTH
    x (user bucket) and y (hour bucket) that are a fraction of the
    full domain, so a predicate on EITHER column prunes most files
    via parquet min/max — while sorting by x alone leaves y's
    per-file span at ~the full domain. This is the multi-column
    data-skipping property a single-column sort cannot provide."""
    import glob
    import os

    import pyarrow.parquet as pq

    queries, _ = registry
    df = queries["q_zorder_cluster"](spark, SF_SMOKE)

    def avg_spans(sorted_df, d):
        sorted_df.write.mode("overwrite").parquet(d)
        spans = {"x": [], "y": []}
        for f in glob.glob(os.path.join(d, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo = {"x": None, "y": None}
            hi = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        smin, smax = col.statistics.min, col.statistics.max
                        lo[name] = smin if lo[name] is None else min(lo[name], smin)
                        hi[name] = smax if hi[name] is None else max(hi[name], smax)
            for c in ("x", "y"):
                spans[c].append(hi[c] - lo[c])
        return {c: sum(v) / len(v) for c, v in spans.items()}

    base = tempfile.mkdtemp(prefix="fsk_zorder_")
    try:
        z = avg_spans(df.repartitionByRange(8, "zkey"), os.path.join(base, "z"))
        x = avg_spans(df.repartitionByRange(8, "x"), os.path.join(base, "x"))
        # z-order: both dimensions' per-file spans shrink well below
        # the 0..255 domain
        assert z["x"] < 128 and z["y"] < 128, z
        # single-column sort: x is tight but y stays ~unclustered
        assert x["x"] < 64, x
        assert x["y"] > z["y"], (x, z)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_partition_value_laws(spark):
    """r10 partition-value probe (SCALE.md): what survives a Hive-layout
    partitionBy round trip, pinned in four clauses so an upstream
    escaping change in Spark fails loudly here instead of silently
    shifting the lake contract.

    1. EXACT round-trip for the hostile-but-representable classes:
       astral/surrogate-pair, ZWJ sequences, NFC vs NFD (distinct code
       points stay distinct — no engine-side normalization), path
       metachars (/ \\ .. . = % # space tab newline), CJK/RTL — Spark
       percent-escapes them into the directory name and unescapes on
       discovery.
    2. '' collapses to NULL (law 50 — the layout cannot carry the
       distinction; the lake normalizes at the write boundary).
    3. The literal string __HIVE_DEFAULT_PARTITION__ ALSO collapses to
       NULL at the raw layer (Spark does not escape its own marker) —
       and clause 4 is the reason that cannot be a silent lake law.
    4. The lakehouse writer REJECTS the marker literal loudly
       (reserved value) instead of corrupting it to NULL.
    """
    import os
    import tempfile

    from flink_streaming_kmeans_spark.operators.lakehouse import (
        _HIVE_NULL,
        create_table,
    )

    exact = [
        "\U0001d504stral",                     # astral fraktur
        "\U0001f469‍\U0001f469‍\U0001f467",  # ZWJ family
        "caf\u00e9", "cafe\u0301",   # NFC vs NFD — distinct
        "a/b", "a\\b", "..", ".", "a b", "a\tb", "a\nb",
        "a=b", "a%2Fb", "%", "#", "中文", "مر",
    ]
    rows = [(i, v, 1.0) for i, v in enumerate(exact)]
    rows.append((900, "", 1.0))
    rows.append((901, _HIVE_NULL, 1.0))
    df = spark.createDataFrame(rows, "id bigint, pval string, qty double")
    d = tempfile.mkdtemp(prefix="fsk_pvlaw_")
    try:
        # '' and the marker are distinct values bound for ONE directory.
        # Spark 4.1 opens a new file per value within a task, and the
        # second file takes the first's name there, so one task holding
        # both fails the write (TASK_WRITE_FAILED, caused by Hadoop's
        # FileAlreadyExistsException on pval=__HIVE_DEFAULT_PARTITION__/
        # part-<task>-<job>.c000.snappy.parquet). Pinned here; the marker
        # row then lands in its own append job.
        with pytest.raises(Exception, match="FileAlreadyExists"):
            df.where(df.id >= 900).coalesce(1).write.partitionBy(
                "pval"
            ).mode("overwrite").parquet(os.path.join(d, "one_task"))
        df.where(df.id != 901).write.partitionBy("pval").mode("overwrite").parquet(d)
        df.where(df.id == 901).write.partitionBy("pval").mode("append").parquet(d)
        back = spark.read.schema("id bigint, qty double, pval string").parquet(d)
        got = {r.id: r.pval for r in back.collect()}
        assert len(got) == len(rows)
        for i, v in enumerate(exact):
            assert got[i] == v, (i, v, got[i])
        assert got[900] is None           # law 50
        assert got[901] is None           # the unescaped marker
        # distinctness on disk: NFC and NFD wrote separate directories
        dirs = {n for n in os.listdir(d) if n.startswith("pval=")}
        assert len(dirs) >= len(exact)    # +1 shared NULL dir for 900/901
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # clause 4: the lake's write boundary reserves the marker — the
    # in-write assert_true guard surfaces as a Spark job failure
    # carrying the reserved-marker message (not a driver-side
    # ValueError: the guard deliberately rides inside the write job,
    # zero extra passes).
    bad = spark.createDataFrame(
        [(1, _HIVE_NULL, 1.0)], "id bigint, pval string, qty double"
    )
    root = tempfile.mkdtemp(prefix="fsk_pvlaw_lake_")
    try:
        with pytest.raises(Exception, match="reserved Hive"):
            create_table(bad, root, "pval")
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # and the guard must NOT fire on legitimate NULL / '' / normal rows
    ok = spark.createDataFrame(
        [(1, None, 1.0), (2, "", 1.0), (3, "A", 1.0)],
        "id bigint, pval string, qty double",
    )
    root2 = tempfile.mkdtemp(prefix="fsk_pvlaw_lake2_")
    try:
        create_table(ok, root2, "pval")
        from flink_streaming_kmeans_spark.operators.lakehouse import read_table

        back = read_table(spark, root2)
        vals = sorted(
            (r.pval if r.pval is not None else "<N>") for r in back.collect()
        )
        assert vals == ["<N>", "<N>", "A"]  # ''→NULL (law 50) + A
    finally:
        shutil.rmtree(root2, ignore_errors=True)


def test_partition_value_length_limit_fails_loudly(spark):
    """A partition value longer than the filesystem's name budget must
    fail the WRITE loudly (ext4's NAME_MAX=255 rejects the directory
    name), never truncate: at 100 TB the deployment rule is to bound
    partition-key cardinality AND width up front. UTF-8 counts bytes,
    not chars — 300 astral chars is 1200 bytes. The pin only applies
    where the filesystem actually enforces a limit below the 305-byte
    dir name ("pval=" + 300); on a no-limit filesystem the write
    legitimately succeeds, so probe NAME_MAX and skip there (r10
    close ADVICE)."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="fsk_pvlen_")
    try:
        name_max = os.pathconf(d, "PC_NAME_MAX")
    except (OSError, ValueError):
        name_max = None
    if name_max is None or name_max >= len("pval=") + 300:
        shutil.rmtree(d, ignore_errors=True)
        pytest.skip(
            f"filesystem NAME_MAX={name_max} admits the 305-byte dir "
            "name; the loud-failure pin only applies under ext4-like "
            "limits"
        )
    df = spark.createDataFrame(
        [(1, "x" * 300, 1.0)], "id bigint, pval string, qty double"
    )
    try:
        with pytest.raises(Exception):
            df.write.partitionBy("pval").mode("overwrite").parquet(d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
