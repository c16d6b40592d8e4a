"""Lakehouse manifest-table tests: copy-on-write isolation, byte-level
untouched-partition stability, time travel, and atomic commit shape."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from conftest import SF_SMOKE, SF_T2

from flink_streaming_kmeans_spark.operators.lakehouse import (
    create_table,
    latest_version,
    load_manifest,
    merge_cow,
    read_table,
)
from flink_streaming_kmeans_spark.plans.lakehouse import (
    _merge_fn,
    _merge_source,
    _seed_table,
    _SEGMENTS,
)
from flink_streaming_kmeans_spark.sources.replay import run_available_now

pytestmark = pytest.mark.slow  # slow lane — see pytest.ini


def _file_hashes(root: str, manifest: dict) -> dict[str, str]:
    out = {}
    for f in manifest["files"]:
        with open(os.path.join(root, f["path"]), "rb") as fh:
            out[f["path"]] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def merged_root(spark):
    root = _seed_table(spark, SF_SMOKE)
    m0 = load_manifest(root, 0)
    h0 = _file_hashes(root, m0)
    merge_cow(spark, root, _merge_source(spark, SF_SMOKE), _merge_fn)
    return root, m0, h0


def test_untouched_partitions_byte_identical(merged_root):
    """COW must carry untouched partitions forward by PATH — the same
    files, not rewritten copies. Touched partitions get new files."""
    root, m0, h0 = merged_root
    m1 = load_manifest(root, 1)
    touched = set(_SEGMENTS)
    untouched0 = {f["path"] for f in m0["files"] if f["partition"] not in touched}
    untouched1 = {f["path"] for f in m1["files"] if f["partition"] not in touched}
    assert untouched0 == untouched1 and untouched0  # carried by path
    h1 = _file_hashes(root, m1)
    for p in untouched0:
        assert h1[p] == h0[p]  # byte-identical on disk
    # Touched partitions must be fully replaced (no v0 file survives).
    touched1 = {f["path"] for f in m1["files"] if f["partition"] in touched}
    assert touched1 and all("/v1-" in p or p.split("/")[-1].startswith("v1-") for p in touched1)


def test_time_travel_reads_premerge_state(spark, merged_root):
    """Snapshot 0 after the merge == the seed data, row for row."""
    root, m0, _ = merged_root
    v0 = read_table(spark, root, version=0)
    from flink_streaming_kmeans_spark.sources.loader import load_table

    seed = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_acctbal"
    )
    assert v0.count() == seed.count()
    # No post-merge artifacts in v0: inserted keys are NEGATED
    # custkeys (collision-free at any SF, review r6).
    assert v0.where(v0.custkey < 0).count() == 0
    # And v1 does contain inserts.
    v1 = read_table(spark, root)
    assert v1.where(v1.custkey < 0).count() > 0


def test_manifest_pruned_read(spark, merged_root):
    """partitions=[...] prunes files driver-side: the returned frame
    only contains those partitions, and the plan reads fewer files."""
    root, _, _ = merged_root
    one = read_table(spark, root, partitions=["FURNITURE"])
    assert one.select("segment").distinct().collect()[0][0] == "FURNITURE"
    n_all = len(load_manifest(root)["files"])
    n_one = len(
        [f for f in load_manifest(root)["files"] if f["partition"] == "FURNITURE"]
    )
    assert n_one < n_all


def test_commit_is_pointer_swap(merged_root):
    """Both manifests retained; _latest resolves to the newest; every
    manifest file parses and lists only existing files."""
    root, _, _ = merged_root
    assert latest_version(root) == 1
    for v in (0, 1):
        m = load_manifest(root, v)
        assert m["version"] == v
        for f in m["files"]:
            assert os.path.exists(os.path.join(root, f["path"]))
    # Manifest JSON is the full commit (no partial writes visible):
    # parseable implies the os.replace protocol published it whole.
    with open(os.path.join(root, "_manifests", "v00001.json")) as fh:
        json.load(fh)


def test_merge_is_idempotent_versioning(spark, merged_root):
    """A second identical merge commits v2 whose data equals v1's
    logical state only where re-derived — versions are linear."""
    root, _, _ = merged_root
    v = merge_cow(spark, root, _merge_source(spark, SF_SMOKE), _merge_fn)
    assert v == 2
    assert load_manifest(root, 2)["parent"] == 1


def test_changed_partitions_is_metadata_only(merged_root):
    from flink_streaming_kmeans_spark.operators.lakehouse import (
        changed_partitions,
    )

    root, _, _ = merged_root
    assert changed_partitions(root, 0, 1) == sorted(_SEGMENTS)


def test_vacuum_gc_and_retention(spark):
    """vacuum(keep_last=1): old manifests dropped, data files
    referenced only by dropped snapshots deleted, carried-forward
    files retained, latest still readable, history no longer."""
    from flink_streaming_kmeans_spark.operators.lakehouse import (
        load_manifest,
        merge_cow,
        read_table,
        vacuum,
    )
    from flink_streaming_kmeans_spark.plans.lakehouse import (
        _merge_fn,
        _merge_source,
        _seed_table,
        _SEGMENTS,
    )

    root = _seed_table(spark, SF_SMOKE)
    m0 = load_manifest(root, 0)
    merge_cow(spark, root, _merge_source(spark, SF_SMOKE), _merge_fn)
    n_latest = read_table(spark, root).count()

    stats = vacuum(root, keep_last=1)
    assert stats["removed_manifests"] == 1
    # v0's touched-partition files are unreferenced now — removed.
    touched0 = [
        f["path"] for f in m0["files"] if f["partition"] in set(_SEGMENTS)
    ]
    assert stats["removed_files"] == len(touched0) > 0
    for p in touched0:
        assert not os.path.exists(os.path.join(root, p))
    # Carried-forward (untouched) files still exist and latest reads.
    assert read_table(spark, root).count() == n_latest
    with pytest.raises(FileNotFoundError):
        read_table(spark, root, version=0)


def test_file_stats_skipping_and_compact(spark):
    """Footer min/max stats land in the manifest; between=(col,lo,hi)
    prunes FILES driver-side (fewer inputFiles, same filtered answer);
    compact() bin-packs each partition to one file with identical
    logical content."""
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.operators.lakehouse import (
        compact,
        create_table,
    )
    from flink_streaming_kmeans_spark.sources.loader import _tmp_out
    from flink_streaming_kmeans_spark.sources.loader import load_table

    c = (
        load_table(spark, SF_SMOKE, "customer")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
        )
        .repartitionByRange(6, "custkey")  # range layout → tight stats
    )
    root = _tmp_out("lakestats", SF_SMOKE)
    create_table(c, root, "segment", stats_cols=["custkey"])
    m0 = load_manifest(root, 0)
    assert all(f["rows"] > 0 and "custkey" in f["stats"] for f in m0["files"])
    total_files = len(m0["files"])
    assert total_files > 10  # multi-file per partition — skipping is meaningful

    pruned = read_table(spark, root, between=("custkey", 0, 20))
    assert 0 < len(pruned.inputFiles()) < total_files
    want = c.where("custkey <= 20").count()
    assert pruned.where("custkey <= 20").count() == want

    v = compact(spark, root)
    m1 = load_manifest(root, v)
    per: dict = {}
    for f in m1["files"]:
        per.setdefault(f["partition"], []).append(f)
    assert per and all(len(fs) == 1 for fs in per.values())
    a = sorted((r.custkey, r.acctbal) for r in read_table(spark, root).collect())
    b = sorted(
        (r.custkey, r.acctbal)
        for r in read_table(spark, root, version=0).collect()
    )
    assert a == b


def test_streaming_upsert_sink(spark):
    """foreachBatch → merge_cow per micro-batch: the streaming upsert
    sink pattern (Delta's streaming MERGE, on our manifest format).
    Each micro-batch commits one snapshot; the final state equals the
    single batch merge of the same source, versions stay linear, and
    history remains time-travelable per batch."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.plans.lakehouse import (
        _merge_fn,
        _merge_source,
        _seed_table,
    )

    root = _seed_table(spark, SF_SMOKE)
    src = _merge_source(spark, SF_SMOKE).cache()
    try:
        d = tempfile.mkdtemp(prefix="fsk_lake_stream_")
        try:
            # 3 micro-batches of DISJOINT keys (mod split) so the union
            # of incremental merges equals one big merge.
            src.withColumn("part", (F.col("custkey") % 3).cast("int")).write.partitionBy(
                "part"
            ).parquet(d + "/in_all")
            os.makedirs(d + "/in")

            def fb(batch_df, batch_id):
                merge_cow(spark, root, batch_df.drop("part"), _merge_fn)

            import glob

            for p in sorted(glob.glob(d + "/in_all/part=*")):
                for f in os.listdir(p):
                    if f.endswith(".parquet"):
                        shutil.copy(
                            os.path.join(p, f),
                            os.path.join(d, "in", os.path.basename(p) + "-" + f),
                        )
            stream = (
                spark.readStream.schema(
                    "custkey bigint, segment string, spend double"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(d + "/in")
            )
            run_available_now(
                stream.writeStream.foreachBatch(fb), "lake_upsert_sink", spark
            )
            assert latest_version(root) >= 2  # one commit per micro-batch
            got = {
                (r.custkey, round(r.acctbal, 4))
                for r in read_table(spark, root).collect()
            }
            # Reference: one batch merge over a fresh seed.
            ref_root = _seed_table(spark, SF_SMOKE)
            merge_cow(spark, ref_root, src, _merge_fn)
            want = {
                (r.custkey, round(r.acctbal, 4))
                for r in read_table(spark, ref_root).collect()
            }
            assert got == want
        finally:
            shutil.rmtree(d, ignore_errors=True)
    finally:
        src.unpersist()


def test_compact_sort_by_clusters_for_skipping(spark):
    """compact(sort_by=...) must produce a range-clustered layout:
    several files per partition with near-disjoint custkey ranges, so
    a between= point/range read touches ~one file per partition where
    the unsorted layout touches most of them."""
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.operators.lakehouse import (
        compact,
        create_table,
    )
    from flink_streaming_kmeans_spark.sources.loader import _tmp_out, load_table

    c = (
        load_table(spark, SF_T2, "customer")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
        )
        .repartition(6)  # RANDOM layout: every file spans ~full range
    )
    root = _tmp_out("lakesort", SF_T2)
    create_table(c, root, "segment", stats_cols=["custkey"])
    files_v0 = load_manifest(root, 0)["files"]
    kept_v0 = [
        f
        for f in files_v0
        if "custkey" in f["stats"]
        and not (f["stats"]["custkey"][1] < 0 or f["stats"]["custkey"][0] > 100)
    ]
    # random layout: nearly every file intersects [0, 10]
    assert len(kept_v0) > len(files_v0) * 0.7

    v = compact(spark, root, sort_by=["custkey"])
    files_v1 = load_manifest(root, v)["files"]
    per: dict = {}
    for f in files_v1:
        per.setdefault(f["partition"], []).append(f)
    assert all(len(fs) > 1 for fs in per.values())  # clustered, not packed
    kept_v1 = [
        f
        for f in files_v1
        if "custkey" in f["stats"]
        and not (f["stats"]["custkey"][1] < 0 or f["stats"]["custkey"][0] > 100)
    ]
    # clustered layout: ~1-2 files per partition intersect (range
    # boundaries fall where they fall), vs nearly all before
    assert len(kept_v1) <= 2 * len(per), (
        [(f["path"], f["stats"]) for f in kept_v1]
    )
    assert len(kept_v1) < len(kept_v0) * 0.5
    # content unchanged
    a = sorted((r.custkey, r.acctbal) for r in read_table(spark, root).collect())
    b = sorted(
        (r.custkey, r.acctbal)
        for r in read_table(spark, root, version=0).collect()
    )
    assert a == b


def test_schema_evolution_add_column(spark):
    """A merge whose output adds a column commits normally; reading
    the new snapshot with merge_schema=True yields the union schema
    with NULLs for carried-forward (untouched) partitions' rows, and
    time travel to v0 still returns the original schema."""
    from pyspark.sql import functions as F

    root = _seed_table(spark, SF_SMOKE)

    def add_col_merge(target, src):
        return _merge_fn(target, src).withColumn(
            "touched_at", F.lit("v1-merge")
        )

    merge_cow(spark, root, _merge_source(spark, SF_SMOKE), add_col_merge)

    t = read_table(spark, root, merge_schema=True)
    assert "touched_at" in t.columns
    touched = t.where(t.segment.isin(*_SEGMENTS))
    untouched = t.where(~t.segment.isin(*_SEGMENTS))
    assert touched.where(t.touched_at.isNull()).count() == 0
    assert untouched.where(t.touched_at.isNotNull()).count() == 0
    assert "touched_at" not in read_table(spark, root, version=0).columns


def test_model_based_commit_sequence(spark):
    """Model-based check of the commit machinery: a seeded sequence of
    upsert / delete / compact commits over a tiny table, with the
    expected state tracked in a plain dict. After EVERY commit the
    snapshot read must equal the model exactly, and at the end every
    historical version must still replay its recorded state — commit
    isolation, COW carry-forward, and compaction's content-neutrality
    exercised together rather than one at a time."""
    import random

    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.operators.lakehouse import compact
    from flink_streaming_kmeans_spark.sources.loader import _tmp_out

    rng = random.Random(42)
    segs = ["A", "B", "C"]
    model = {i: (float(i * 10), segs[i % 3]) for i in range(30)}
    df = spark.createDataFrame(
        [(k, v, s) for k, (v, s) in model.items()],
        "k bigint, val double, seg string",
    )
    root = _tmp_out("lakemodel", SF_SMOKE)
    create_table(df, root, "seg")
    history = {0: dict(model)}

    def mk_src(rows):
        return spark.createDataFrame(rows, "k bigint, val double, seg string")

    def upsert_fn(target, src):
        t, s = target.alias("t"), src.alias("s")
        j = t.join(s, F.col("t.k") == F.col("s.k"), "full_outer")
        return j.select(
            F.coalesce("t.k", "s.k").alias("k"),
            F.coalesce("s.val", "t.val").alias("val"),
            F.coalesce("t.seg", "s.seg").alias("seg"),
        )

    def delete_fn(target, src):
        t, s = target.alias("t"), src.alias("s")
        j = t.join(s, F.col("t.k") == F.col("s.k"), "left_anti")
        return j.select("k", "val", "seg")

    next_key = 100
    for step in range(6):
        op = rng.choice(["upsert", "delete", "compact"])
        if op == "upsert":
            rows = []
            for _ in range(rng.randint(1, 4)):
                if model and rng.random() < 0.5:
                    k = rng.choice(sorted(model))
                    seg = model[k][1]
                else:
                    k, seg = next_key, rng.choice(segs)
                    next_key += 1
                v = float(rng.randint(0, 999))
                rows.append((k, v, seg))
                model[k] = (v, seg)
            ver = merge_cow(spark, root, mk_src(rows), upsert_fn)
        elif op == "delete" and model:
            ks = rng.sample(sorted(model), min(2, len(model)))
            rows = [(k, 0.0, model[k][1]) for k in ks]
            for k in ks:
                del model[k]
            ver = merge_cow(spark, root, mk_src(rows), delete_fn)
        else:
            ver = compact(spark, root)
        got = {
            r.k: (r.val, r.seg) for r in read_table(spark, root).collect()
        }
        assert got == model, (step, op, ver)
        history[ver] = dict(model)

    for ver, want in history.items():
        got = {
            r.k: (r.val, r.seg)
            for r in read_table(spark, root, version=ver).collect()
        }
        assert got == want, f"time travel to v{ver} diverged"


def test_streaming_join_against_evolving_dim(spark):
    """Lakehouse table as a LIVE dimension under a stream: foreachBatch
    re-resolves the latest snapshot per micro-batch (read_table pins
    files at plan time, so resolution must happen inside the batch
    function — the streaming pattern for slowly-changing dims), and a
    merge committed between batches is visible to subsequent batches
    but not earlier ones."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.operators.lakehouse import (
        create_table,
        merge_cow,
        read_table,
    )
    from flink_streaming_kmeans_spark.sources.loader import _tmp_out

    root = _tmp_out("lakedim", SF_SMOKE)
    dim = spark.createDataFrame(
        [(i, f"v0-{i}", "X") for i in range(10)],
        "k bigint, label string, seg string",
    )
    create_table(dim, root, "seg")

    d = tempfile.mkdtemp(prefix="fsk_lakedim_")
    try:
        # Two fact micro-batches (one file each).
        for b in range(2):
            spark.createDataFrame(
                [(b * 10 + j, j % 10) for j in range(10)], "fid bigint, k bigint"
            ).coalesce(1).write.parquet(f"{d}/in/b{b}")

        seen: dict = {}

        def fb(batch_df, batch_id):
            cur = read_table(spark, root)  # re-resolve LATEST per batch
            joined = batch_df.join(cur, "k").select("fid", "label")
            seen[int(batch_id)] = {(r.fid, r.label) for r in joined.collect()}
            if int(batch_id) == 0:
                # Commit a dim update BETWEEN batches.
                upd = spark.createDataFrame(
                    [(i, f"v1-{i}", "X") for i in range(10)],
                    "k bigint, label string, seg string",
                )

                def fn(target, src):
                    t, s = target.alias("t"), src.alias("s")
                    j = t.join(s, F.col("t.k") == F.col("s.k"), "full_outer")
                    return j.select(
                        F.coalesce("t.k", "s.k").alias("k"),
                        F.coalesce("s.label", "t.label").alias("label"),
                        F.coalesce("t.seg", "s.seg").alias("seg"),
                    )

                merge_cow(spark, root, upd, fn)

        run_available_now(
            spark.readStream.schema("fid bigint, k bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(d + "/in/*")
            .writeStream.foreachBatch(fb),
            "lake_dim_refresh",
            spark,
        )
        assert len(seen) == 2
        assert all(lab.startswith("v0-") for _, lab in seen[0])
        assert all(lab.startswith("v1-") for _, lab in seen[1])
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_empty_selection_preserves_schema(spark):
    """A pruned-to-nothing selection is a legitimate read (all-INSERT
    merge source, churn-free CDF interval) and must return an EMPTY
    frame with the table schema, not raise."""
    from pyspark.sql import functions as F  # noqa: F401

    root = _seed_table(spark, SF_SMOKE)
    full = read_table(spark, root)
    none = read_table(spark, root, partitions=["NO_SUCH_SEGMENT"])
    assert none.count() == 0
    assert none.schema == full.schema
    assert read_table(spark, root, partitions=[]).count() == 0


def test_empty_table_lifecycle(spark, tmp_path):
    """An EMPTY table is first-class (r8 full-registry empty sweep):
    the schema lives in table METADATA (manifest), the Delta/Iceberg
    design point — create a zero-row table, read it back schema-stable,
    commit an empty merge on top, then merge REAL rows into the empty
    table. At scale an empty incremental batch is normal, and seeding a
    pipeline's output table before data arrives must not crash."""
    from pyspark.sql import functions as F  # noqa: F401
    from flink_streaming_kmeans_spark.operators.lakehouse import (
        create_table,
        latest_version,
    )

    schema = "custkey bigint, name string, acctbal double, segment string"
    empty = spark.createDataFrame([], schema)
    root = str(tmp_path / "empty_lake")
    create_table(empty, root, "segment")
    back = read_table(spark, root)
    assert back.count() == 0
    assert back.schema == empty.schema

    # empty merge source: commits a new (still empty) snapshot
    v1 = merge_cow(spark, root, spark.createDataFrame(
        [], "custkey bigint, spend double, segment string"), _merge_fn)
    assert v1 == 1 and latest_version(root) == 1
    assert read_table(spark, root).count() == 0

    # real rows into the empty table: all INSERT branches
    src = spark.createDataFrame(
        [(1, 10.0, "BUILDING"), (2, 20.0, "AUTOMOBILE")],
        "custkey bigint, spend double, segment string",
    )
    v2 = merge_cow(spark, root, src, _merge_fn)
    rows = sorted(
        (r.custkey, r.name, r.acctbal, r.segment)
        for r in read_table(spark, root, version=v2).collect()
    )
    assert rows == [(1, "NEW", 10.0, "BUILDING"), (2, "NEW", 20.0, "AUTOMOBILE")]
    # and time travel to the empty snapshots still works
    assert read_table(spark, root, version=0).count() == 0


def test_empty_table_schema_matches_populated_read(spark, tmp_path):
    """The manifest-recorded schema is normalized to the READ-BACK
    shape (partition column last, all nullable — _read_shape_schema):
    a table created with its partition column MID-schema must return
    the IDENTICAL schema from its zero-file snapshots and its
    populated ones (r8 review pass: the raw creation-order schema
    diverged from partition discovery's append-last column order)."""
    from pyspark.sql import functions as F
    from flink_streaming_kmeans_spark.operators.lakehouse import create_table

    # partition column 'segment' deliberately NOT last
    schema = "custkey bigint, segment string, acctbal double"
    root = str(tmp_path / "midcol_lake")
    create_table(spark.createDataFrame([], schema), root, "segment")
    v0 = read_table(spark, root, version=0)
    assert v0.columns == ["custkey", "acctbal", "segment"]  # pcol last
    assert all(f.nullable for f in v0.schema.fields)

    # populate, then empty it again with a shape-preserving merge —
    # the zero-file v2 read must equal the populated v1 read exactly
    src = spark.createDataFrame(
        [(1, "BUILDING", 10.0), (2, "BUILDING", 20.0)], schema
    )
    keep_shape = lambda target, source: source.select(*v0.columns)  # noqa: E731
    v1 = merge_cow(spark, root, src, keep_shape)
    populated = read_table(spark, root, version=v1)
    assert v0.schema == populated.schema
    drop_all = lambda target, source: target.where(F.lit(False))  # noqa: E731
    v2 = merge_cow(spark, root, src, drop_all)
    emptied = read_table(spark, root, version=v2)
    assert emptied.count() == 0
    assert emptied.schema == populated.schema


def test_merge_all_insert_new_partition(spark):
    """MERGE whose source holds only partition values NEW to the table:
    the touched target selection is empty, every source row inserts,
    and every pre-existing partition carries forward untouched."""
    from pyspark.sql import functions as F

    root = _seed_table(spark, SF_SMOKE)
    n_before = read_table(spark, root).count()
    src = spark.createDataFrame(
        [(9000001, 77.5, "BRAND_NEW_SEG"), (9000002, 12.25, "BRAND_NEW_SEG")],
        "custkey bigint, spend double, segment string",
    )
    v = merge_cow(spark, root, src, _merge_fn)
    after = read_table(spark, root, version=v)
    assert after.count() == n_before + 2
    new = after.where(F.col("segment") == "BRAND_NEW_SEG")
    assert new.count() == 2
    assert new.where(F.col("name") != "NEW").count() == 0
    # Every old file carried forward by path (no partition was touched).
    m0, m1 = load_manifest(root, 0), load_manifest(root, v)
    assert {f["path"] for f in m0["files"]} <= {f["path"] for f in m1["files"]}


def test_read_changes_no_churn_returns_empty(spark):
    """CDF over an interval with zero churned partitions is an empty
    changeset, not a crash."""
    from flink_streaming_kmeans_spark.operators.lakehouse import read_changes

    root = _seed_table(spark, SF_SMOKE)
    merge_cow(spark, root, _merge_source(spark, SF_SMOKE), _merge_fn)
    ch = read_changes(spark, root, "custkey", ["acctbal"], 1, 1)
    assert ch.count() == 0


def test_merge_stray_partition_rejected(spark):
    """merge_fn moving rows into a partition outside the touched set
    would commit duplicates (old files there are carried forward);
    merge_cow must refuse before the commit point."""
    from pyspark.sql import functions as F

    root = _seed_table(spark, SF_SMOKE)
    src = spark.createDataFrame(
        [(1, 1.0, "BUILDING")], "custkey bigint, spend double, segment string"
    )

    def bad_fn(target, s):
        return s.select(
            "custkey",
            F.lit("X").alias("name"),
            F.col("spend").alias("acctbal"),
            F.lit("MACHINERY").alias("segment"),  # != touched BUILDING
        )

    with pytest.raises(ValueError, match="untouched partitions"):
        merge_cow(spark, root, src, bad_fn)
    # The failed merge must not have moved the table pointer.
    assert latest_version(root) == 0


def test_stats_skip_non_json_native_types(spark):
    """stats_cols naming a DATE column must not crash the JSON commit:
    pyarrow returns datetime.date min/max, which are skipped (that
    column just gets no file-skipping), while BIGINT stats record."""
    from pyspark.sql import functions as F

    from flink_streaming_kmeans_spark.sources.loader import _tmp_out, load_table

    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.to_date("o_orderdate").alias("d"),
        (F.col("o_orderkey") % 4).cast("int").alias("p"),
    )
    root = _tmp_out("lakedatestats", SF_SMOKE)
    create_table(o, root, "p", stats_cols=["k", "d"])
    m = load_manifest(root, 0)
    assert m["files"]
    for f in m["files"]:
        assert "k" in f["stats"] and "d" not in f["stats"]


def test_batch_replay_is_exactly_once(spark):
    """The at-least-once → exactly-once story of the streaming upsert
    sink (q_stream_upsert): if a micro-batch is REPLAYED — foreachBatch
    ran, the merge committed, but the checkpoint write failed so the
    source redelivers the same batch — re-applying the identical merge
    must leave the table's LOGICAL state unchanged (a new version
    commits, but with identical rows), because the merge keys the
    update on custkey rather than appending. Without this property a
    retry double-applies."""
    from pyspark.sql import functions as F

    root = _seed_table(spark, SF_SMOKE)
    src = _merge_source(spark, SF_SMOKE)
    batch = src.where(F.pmod("custkey", F.lit(3)) == 1)

    merge_cow(spark, root, batch, _merge_fn)
    v1 = latest_version(root)
    state1 = sorted(
        (r.custkey, r.name, round(float(r.acctbal), 6), r.segment)
        for r in read_table(spark, root).collect()
    )

    merge_cow(spark, root, batch, _merge_fn)  # the replay
    v2 = latest_version(root)
    state2 = sorted(
        (r.custkey, r.name, round(float(r.acctbal), 6), r.segment)
        for r in read_table(spark, root).collect()
    )

    assert v2 == v1 + 1  # versions stay linear (audit trail keeps both)
    assert state1 == state2  # but the logical state is exactly-once


def test_merge_cow_null_partition(spark, tmp_path):
    """A NULL partition value round-trips the merge protocol: the
    source's NULL-partition rows merge against the table's existing
    NULL-partition files (not silently miss them), and the stray-
    partition check accepts the staged __HIVE_DEFAULT_PARTITION__
    directory (review r6: touched=[None] compared 'None' against the
    Hive marker — spurious ValueError and dropped rows)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "nulltable")
    seed = spark.createDataFrame(
        [(1, "a", 10.0, "X"), (2, "b", 20.0, None), (3, "c", 30.0, "Y")],
        "custkey bigint, name string, acctbal double, segment string",
    )
    create_table(seed, root, "segment")

    src = spark.createDataFrame(
        [(2, 99.0, None), (4, 44.0, None)],
        "custkey bigint, spend double, segment string",
    )

    def fn(target, s):
        t, sa = target.alias("t"), s.alias("s")
        j = t.join(sa, F.col("t.custkey") == F.col("s.custkey"), "full_outer")
        return j.select(
            F.coalesce("t.custkey", "s.custkey").alias("custkey"),
            F.coalesce("t.name", F.lit("NEW")).alias("name"),
            F.when(F.col("s.custkey").isNull(), F.col("t.acctbal"))
            .otherwise(F.col("s.spend"))
            .alias("acctbal"),
            F.coalesce("t.segment", "s.segment").alias("segment"),
        )

    v = merge_cow(spark, root, src, fn)
    got = {
        r.custkey: (r.acctbal, r.segment)
        for r in read_table(spark, root, version=v).collect()
    }
    # Existing NULL-partition row 2 updated, new NULL row 4 inserted,
    # X/Y partitions untouched.
    assert got == {
        1: (10.0, "X"),
        2: (99.0, None),
        3: (30.0, "Y"),
        4: (44.0, None),
    }, got


def test_merge_cow_empty_string_partition(spark, tmp_path):
    """r8 ADVICE + law 50 at the MERGE boundary: a source carrying ''
    partition values stages under __HIVE_DEFAULT_PARTITION__ (the
    write boundary rewrites '' to NULL), so the touched set must
    normalize '' the same way or the stray-partition check rejects a
    legitimate merge. A source carrying BOTH '' and NULL rows must
    also collapse to ONE touched marker (a doubled entry would read
    the NULL-partition files twice and duplicate their rows)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "emptyseg")
    seed = spark.createDataFrame(
        [(1, 10.0, "X"), (2, 20.0, None)],
        "custkey bigint, acctbal double, segment string",
    )
    create_table(seed, root, "segment")

    # '' AND NULL segment rows in one source: same on-disk partition.
    src = spark.createDataFrame(
        [(2, 99.0, ""), (4, 44.0, None)],
        "custkey bigint, spend double, segment string",
    )

    def fn(target, s):
        t, sa = target.alias("t"), s.alias("s")
        j = t.join(sa, F.col("t.custkey") == F.col("s.custkey"), "full_outer")
        return j.select(
            F.coalesce("t.custkey", "s.custkey").alias("custkey"),
            F.when(F.col("s.custkey").isNull(), F.col("t.acctbal"))
            .otherwise(F.col("s.spend"))
            .alias("acctbal"),
            F.coalesce("t.segment", F.nullif("s.segment", F.lit("")))
            .alias("segment"),
        )

    v = merge_cow(spark, root, src, fn)
    got = {
        r.custkey: (r.acctbal, r.segment)
        for r in read_table(spark, root, version=v).collect()
    }
    assert got == {
        1: (10.0, "X"),  # untouched partition carried forward
        2: (99.0, None),  # ''-keyed source row updated the NULL row
        4: (44.0, None),  # NULL-keyed insert, no duplicate from ''
    }, got


def test_empty_string_partition_key_law(spark, registry, tmp_path):
    """Law 50: a Hive-layout partition path cannot carry the
    NULL-vs-'' distinction (Spark writes '' as
    __HIVE_DEFAULT_PARTITION__ and reads it back NULL; Hive and Delta
    share the layout and the collapse), so the lake write boundary
    normalizes empty-string partition keys to NULL EXPLICITLY
    (operators/lakehouse._stage_and_collect) and the family's oracles
    state the same NULLIF — a declared mutual contract, the
    partition-column twin of law 44's CSV carve-out. Pin: a customer
    with c_mktsegment = '' stays hash-exact through the whole
    lakehouse family, lands in the NULL-segment group, and its name
    survives verbatim (only the PARTITION KEY is normalized — data
    columns keep '')."""
    import duckdb

    from oracle import check_parity, copy_sf_tables, make_duckdb
    from pyspark.sql import functions as F

    queries, oracles = registry
    sf = copy_sf_tables(SF_SMOKE, str(tmp_path / "law50"))
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.execute(
        "CREATE TEMP TABLE fc AS SELECT * FROM read_parquet(?) LIMIT 0",
        [f"{sf}/customer.parquet"],
    )
    con.executemany(
        "INSERT INTO fc (c_custkey, c_name, c_nationkey, c_acctbal,"
        " c_mktsegment) VALUES (?,?,?,?,?)",
        [
            (1900001, "emptyseg", 1, 10.5, ""),
            (1900002, "nullseg", 1, 11.5, None),
        ],
    )
    con.sql(
        f"COPY (SELECT * FROM read_parquet('{sf}/customer.parquet')"
        f" UNION ALL BY NAME SELECT * FROM fc)"
        f" TO '{sf}/_c.parquet' (FORMAT PARQUET)"
    )
    con.close()
    os.replace(f"{sf}/_c.parquet", f"{sf}/customer.parquet")

    oc = make_duckdb(sf)
    for q in (
        "q_merge_cow",
        "q_lake_time_travel",
        "q_lake_delete",
        "q_lake_compact",
        "q_stream_upsert",
    ):
        r = check_parity(spark, oc, q, queries[q], oracles[q], sf)
        assert r.ok, f"{q}: {r.detail}"
    oc.close()

    # non-vacuity: the ''-segment customer is present, in the NULL
    # group, with its non-partition columns verbatim
    out = queries["q_merge_cow"](spark, sf)
    row = out.where(F.col("custkey") == 1900001).collect()
    assert len(row) == 1 and row[0].segment is None
    assert row[0].name == "emptyseg"


def test_stream_tumble_all_null_value_window(spark, registry, tmp_path):
    """A window whose every event carries a NULL value has SUM NULL on
    both engines; the q_stream_tumble foreachBatch sink must carry the
    NULL through its Python round trip (float(None) crashed Spark-side
    against a clean oracle — r8 grand fuzz arm)."""
    import duckdb
    from datetime import datetime

    from oracle import check_parity, copy_sf_tables, make_duckdb
    from pyspark.sql import functions as F

    queries, oracles = registry
    sf = copy_sf_tables(SF_SMOKE, str(tmp_path / "nullwin"))
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.execute(
        "CREATE TEMP TABLE fe AS SELECT * FROM read_parquet(?) LIMIT 0",
        [f"{sf}/events.parquet"],
    )
    con.executemany(
        "INSERT INTO fe (event_id, ts, user_id, event_type, value, props)"
        " VALUES (?,?,?,?,?,?)",
        [(1955001, datetime(2024, 3, 1, 3, 30), 7, "view", None, None)],
    )
    con.sql(
        f"COPY (SELECT * FROM read_parquet('{sf}/events.parquet')"
        f" UNION ALL BY NAME SELECT * FROM fe)"
        f" TO '{sf}/_e.parquet' (FORMAT PARQUET)"
    )
    con.close()
    os.replace(f"{sf}/_e.parquet", f"{sf}/events.parquet")

    r = check_parity(
        spark,
        make_duckdb(sf),
        "q_stream_tumble",
        queries["q_stream_tumble"],
        oracles["q_stream_tumble"],
        sf,
    )
    assert r.ok, r.detail
    out = queries["q_stream_tumble"](spark, sf)
    nulls = out.where(F.col("sum_value").isNull()).collect()
    assert len(nulls) == 1 and nulls[0].n_events == 1
