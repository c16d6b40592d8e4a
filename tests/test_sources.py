"""Source-format smokes (SURVEY §2.1 unnamed rows): CSV point ingest
(the reference's actual input format — KMeansTool.java parsed text
lines into Feature POJOs [PK]) and a streaming rate source."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from flink_streaming_kmeans_spark.session import scoped_confs


def test_csv_point_ingest_roundtrip(spark):
    """Write (id, x, y) points as CSV text lines, read them back with
    an explicit schema, and verify values — the reference's ingest
    path expressed as a declarative scan."""
    from flink_streaming_kmeans_spark.sources.loader import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    pts = e.select(
        F.col("vec_id").alias("id"),
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    d = tempfile.mkdtemp(prefix="fsk_csv_")
    try:
        pts.write.option("header", True).csv(d + "/pts")
        back = spark.read.option("header", True).schema(
            "id bigint, x double, y double"
        ).csv(d + "/pts")
        assert back.count() == 500
        orig = {r.id: (r.x, r.y) for r in pts.collect()}
        got = {r.id: (r.x, r.y) for r in back.collect()}
        assert set(got) == set(orig)
        vid = min(orig)
        assert abs(got[vid][0] - orig[vid][0]) < 1e-9
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_rate_source(spark):
    """rate-micro-batch source: deterministic rows per micro-batch."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "10")
        .load()
    )
    got: list = []
    q = (
        stream.writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline and len(got) < 20:
            time.sleep(1)
    finally:
        q.stop()
    assert len(got) >= 20  # at least two full micro-batches
    assert {c for c in ("timestamp", "value")} <= set(got[0].asDict())


def test_jsonl_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE JSON ingest: malformed lines land in the
    _corrupt_record column instead of failing the job — the resilience
    mode a 100 TB ingest must run in (FAILFAST dies on one bad row in
    a billion; DROPMALFORMED silently loses data — quarantine is the
    only auditable option)."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good row"}\n'
        "not json at all\n"
        '{"doc_id": 2, "text": "also good"}\n'
        '{"doc_id": "NaN-ish", "text": 3}\n'
    )
    df = (
        spark.read.schema(
            "doc_id bigint, text string, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {r.doc_id: r for r in rows if r._corrupt_record is None}
    assert good[1].text == "good row"
    assert good[2].text == "also good"
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 2, rows
    assert any("not json" in r._corrupt_record for r in bad)


def test_gzip_jsonl_ingest(spark, tmp_path):
    """Training corpora commonly arrive as *.jsonl.gz shards; Spark
    must ingest them transparently (codec from the extension) and the
    result must equal the uncompressed read. Note the 100 TB caveat
    this test documents: gzip is NOT splittable, so one shard = one
    task — shard the corpus into many files (as producers do) or
    recompress to a splittable layout before heavy processing."""
    import gzip
    import json

    rows = [
        {"doc_id": i, "text": f"tok{i} shared text", "n": i * 3}
        for i in range(200)
    ]
    d = tmp_path / "jl"
    d.mkdir()
    # two shards, one plain + one gzipped, same schema
    with open(d / "a.jsonl", "w") as f:
        for r in rows[:100]:
            f.write(json.dumps(r) + "\n")
    with gzip.open(d / "b.jsonl.gz", "wt") as f:
        for r in rows[100:]:
            f.write(json.dumps(r) + "\n")

    df = spark.read.schema("doc_id bigint, text string, n bigint").json(
        str(d)
    )
    got = sorted((r.doc_id, r.text, r.n) for r in df.collect())
    want = sorted((r["doc_id"], r["text"], r["n"]) for r in rows)
    assert got == want


def test_local_df_matches_row_list_semantics(spark):
    """sources/loader.local_df (the Arrow local-relation fast path for
    small driver frames, r6) must be value-identical to the row-list
    createDataFrame it replaces — including the two hazards: NULLs in
    non-float columns ride the Arrow route as real SQL NULLs, and a
    None in a float/double column (which pandas would corrupt to NaN)
    falls back to the row-list path and stays NULL."""
    import datetime as dt

    from flink_streaming_kmeans_spark.sources.loader import local_df

    schema = "a bigint, b string, c timestamp, d double"
    rows = [
        (1, "x", dt.datetime(2024, 1, 1, 12, 0, 0), 1.5),
        (2, None, dt.datetime(2024, 1, 2, 0, 0, 0), 2.25),
        (None, "z", None, 3.0),
    ]
    got = local_df(spark, rows, schema).collect()
    want = spark.createDataFrame(rows, schema).collect()
    assert sorted(got, key=str) == sorted(want, key=str)

    # None in a double column: must be NULL (not NaN) — fallback path.
    nf = local_df(spark, [(1, "x", None, None)], schema).collect()[0]
    assert nf.d is None


def test_csv_null_vs_empty_law(spark):
    """Law 44 pinned directly (q_source_csv's carve-out): CSV cannot
    represent NULL and empty string distinctly under default options
    (both land as NULL on read), an in-band nullValue sentinel
    restores the distinction, and the sentinel's own literal then
    collides — all three facts asserted so an engine-side change in
    any of them fails loudly. Everything else round-trips exactly,
    including NUL bytes, CRLF, embedded quotes/commas and 10 KB
    values."""
    import tempfile

    rows = [
        (1, None),
        (2, ""),
        (3, "x"),
        (4, "\\N"),          # the sentinel's literal
        (5, "nul\x00byte"),
        (6, "crlf\r\nrow"),
        (7, 'q"x,y'),
        (8, "y" * 10000),
    ]
    df = spark.createDataFrame(rows, "k bigint, v string")
    schema = "k bigint, v string"

    # Default options: '' collapses to NULL; all hostile bytes survive.
    d = tempfile.mkdtemp(prefix="csv_law_")
    df.write.mode("overwrite").option("header", True).csv(d + "/dflt")
    back = {
        r.k: r.v
        for r in spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(d + "/dflt")
        .collect()
    }
    assert back[2] is None  # the carve-out
    assert back[1] is None
    assert back[3] == "x" and back[5] == "nul\x00byte"
    assert back[6] == "crlf\r\nrow" and back[7] == 'q"x,y'
    assert back[8] == "y" * 10000

    # Sentinel convention: NULL/'' recovered, literal sentinel collides.
    df.write.mode("overwrite").option("header", True).option(
        "nullValue", "\\N"
    ).option("emptyValue", '""').csv(d + "/sent")
    back = {
        r.k: r.v
        for r in spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .csv(d + "/sent")
        .collect()
    }
    assert back[1] is None and back[2] == "" and back[3] == "x"
    assert back[4] is None  # the collision: literal '\\N' became NULL


def test_events_ts_physical_form_invariance(spark, registry, tmp_path):
    """Regeneration resilience pinned: driver testdata has shipped
    events.ts in THREE parquet physical forms across generations —
    INT64 TIMESTAMP(NANOS) (Spark: bigint under nanosAsLong, loader
    DIV-1000 fixup), timestamp[us] isAdjustedToUTC=true (Spark: ltz,
    no fixup), and timestamp[us] isAdjustedToUTC=false (Spark: ntz,
    loader casts to ltz). loader.load_table normalizes all three to
    TIMESTAMP µs; a representative event-time query must produce
    BITWISE-identical results on identical logical content in each
    form, so the next regeneration cannot silently shift semantics
    (the sweep genre's verify-skill gotcha, now a gate)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from oracle import _canon_rows, copy_sf_tables

    queries, _ = registry
    src_tab = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = src_tab.schema.get_field_index("ts")
    base_type = src_tab.schema.field(i).type
    variants = {
        "ns": pa.timestamp("ns"),
        "us_ltz": pa.timestamp("us", tz="UTC"),
        "us_ntz": pa.timestamp("us"),
    }
    hashes = {}
    for tag, ts_type in variants.items():
        d = str(tmp_path / tag)
        sf = copy_sf_tables(SF_SMOKE, d)
        col = src_tab.column("ts")
        cast = col.cast(ts_type) if ts_type != base_type else col
        tab = src_tab.set_column(
            i, pa.field("ts", ts_type), cast
        )
        pq.write_table(tab, os.path.join(sf, "events.parquet"))
        sdf = queries["q_win_tumble"](spark, sf)
        hashes[tag] = _canon_rows(
            list(sdf.columns), [tuple(r) for r in sdf.collect()]
        )[:3]
        shutil.rmtree(d, ignore_errors=True)
    assert hashes["ns"] == hashes["us_ltz"] == hashes["us_ntz"], hashes
    assert hashes["ns"][0] > 0  # non-vacuous


def test_encoding_variant_parity(spark, registry, monkeypatch):
    """Per-commit gate for the storage-encoding axis (SCALE.md r10):
    the full 3x167 sweep is the CLI run (tools/make_encoded_dir.py +
    preflight); this pins a fast representative slice — ALL THREE
    writer regimes (zstd+pagev2, no-dictionary plain encoding,
    1000-row row groups; r10 verdict task 5 closed the zstd gap)
    against consumers spanning the physical forms that matter: events
    (the ns/us timestamp variance), text aggregation, lineitem
    decimals-through-doubles, and embeddings (list<float> columns)."""
    import os

    # syspath_prepend auto-reverts at teardown — a bare sys.path.insert
    # here would let tools/ modules shadow later tests' imports.
    monkeypatch.syspath_prepend(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        )
    )
    from make_encoded_dir import VARIANTS, build

    from oracle import check_parity, make_duckdb

    queries, oracles = registry
    probes = ["q_win_tumble", "q_text_stats", "q_agg_q1", "q_emb_normalize"]
    assert set(VARIANTS) == {"zstd_v2", "gzip_nodict", "tiny_groups"}, (
        "a new writer regime must be added to this per-commit gate too"
    )
    for variant in sorted(VARIANTS):
        d = tempfile.mkdtemp(prefix=f"fsk_enc_{variant}_")
        try:
            build(SF_SMOKE, d, variant)
            con = make_duckdb(d)
            try:
                for name in probes:
                    r = check_parity(
                        spark, con, name, queries[name], oracles[name], d
                    )
                    assert r.ok, f"{variant}/{name}: {r.detail}"
            finally:
                con.close()
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_stage_time_batches_clamp_empty_and_invariants(spark, tmp_path, monkeypatch):
    """The r13 probe-job removal: stage_time_batches must derive the
    batch-count clamp and the empty-source guard from the staging
    write itself — (a) a table with fewer rows than the target stages
    exactly row-count files, a contiguous prefix batch-00000..; (b) an
    empty frame stages zero files and reports 0; (c) each batch is ONE
    parquet file with strictly monotone mtimes (the FileStreamSource
    ordering invariant); (d) the SPARK_GRAFT_STREAM_BATCHES sweep
    override is honored before the split, per the replay_batch_count
    contract; (e) only d/in is left: the staged copies are removed
    once delivered, by batch_input_dir too."""
    import datetime as dt
    import os

    from flink_streaming_kmeans_spark.sources.replay import (
        batch_input_dir,
        stage_time_batches,
    )

    def frame(n):
        return spark.createDataFrame(
            [
                (i, dt.datetime(2024, 1, 1, 0, i, 0), float(i))
                for i in range(n)
            ],
            "event_id bigint, ts timestamp, value double",
        )

    # (a) clamp: 2 rows, target 3 -> 2 contiguous batch files
    d2 = str(tmp_path / "two")
    in_dir, n = stage_time_batches(frame(2), d2, 3)
    files = sorted(f for f in os.listdir(in_dir) if f.endswith(".parquet"))
    assert n == 2 and files == ["batch-00000.parquet", "batch-00001.parquet"]
    mtimes = [os.path.getmtime(os.path.join(in_dir, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # rows round-trip: union of batch files == the staged frame
    assert spark.read.parquet(in_dir).count() == 2

    # (b) empty source -> zero files, n=0 (the callers' typed-empty path)
    d0 = str(tmp_path / "zero")
    in_dir0, n0 = stage_time_batches(frame(0), d0, 3)
    assert n0 == 0
    assert not [f for f in os.listdir(in_dir0) if f.endswith(".parquet")]

    # (c) normal split: 9 rows, target 3 -> 3 files, one per batch,
    # contiguous TIME ranges (batch k's max ts <= batch k+1's min ts)
    d9 = str(tmp_path / "nine")
    in_dir9, n9 = stage_time_batches(frame(9), d9, 3)
    assert n9 == 3
    spans = []
    for k in range(3):
        p = os.path.join(in_dir9, f"batch-{k:05d}.parquet")
        rows = spark.read.parquet(p).agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).collect()[0]
        spans.append((rows.lo, rows.hi))
    assert all(spans[k][1] <= spans[k + 1][0] for k in range(2))

    # (d) sweep override routes through replay_batch_count
    monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCHES", "2")
    dov = str(tmp_path / "override")
    _, nov = stage_time_batches(frame(9), dov, 3)
    assert nov == 2

    # (e) the replay reads only d/in; nothing else is left beside it
    assert sorted(os.listdir(d9)) == ["in"]
    dseq = str(tmp_path / "seq")
    batch_input_dir(
        frame(4).withColumn("bno", F.col("event_id") % 2), dseq, [0, 1, 0]
    )
    assert sorted(os.listdir(dseq)) == ["in"]
    assert len(os.listdir(os.path.join(dseq, "in"))) == 3


def test_staging_rejects_a_batch_split_across_files(spark, tmp_path):
    """batch_input_dir and stage_time_batches deliver ONE file per
    ``bno=`` dir. A dir holding several (here forced by
    maxRecordsPerFile=1) must raise instead of silently replaying
    only the first file's rows."""
    import datetime as dt

    import pytest

    from flink_streaming_kmeans_spark.sources.replay import (
        batch_input_dir,
        stage_time_batches,
    )

    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, i, 0), i % 2) for i in range(6)],
        "event_id bigint, ts timestamp, bno int",
    )
    with scoped_confs(spark, {"spark.sql.files.maxRecordsPerFile": "1"}):
        with pytest.raises(ValueError, match="expected one parquet file"):
            batch_input_dir(df, str(tmp_path / "seq"), [0, 1])
        with pytest.raises(ValueError, match="expected one parquet file"):
            stage_time_batches(df.drop("bno"), str(tmp_path / "time"), 2)
    # the same frames stage fine with one file per batch
    assert stage_time_batches(df.drop("bno"), str(tmp_path / "ok"), 2)[1] == 2


def test_ensure_eviction_raises_when_restart_skips_eviction(spark, tmp_path):
    """If the single ensure_eviction restart ALSO ends without the
    zero-input eviction batch, run_available_now must raise a
    RuntimeError naming the drive, never return partial state. The
    checkpoint lifecycle holds on that path too: the drive checkpoints
    in a temp dir that is gone after the failure, while a caller's
    ``checkpoint`` path is used as given and left on disk."""
    import pytest

    from flink_streaming_kmeans_spark.sources.replay import run_available_now

    class _Query:
        recentProgress = [{"batchId": 0, "numInputRows": 5}]

        def awaitTermination(self, timeout):
            return True

    class _Writer:
        def __init__(self):
            self.starts = 0
            self.checkpoints = set()

        def option(self, key, value):
            # the checkpoint is the one option run_available_now sets
            self.checkpoints.add(value)
            return self

        def trigger(self, **kw):
            return self

        def start(self):
            self.starts += 1
            return _Query()

    w = _Writer()
    with pytest.raises(RuntimeError, match="q_fake_drive"):
        run_available_now(w, "q_fake_drive", spark, ensure_eviction=True)
    assert w.starts == 2  # one run plus exactly one restart
    (temp,) = w.checkpoints  # the run and its restart share one dir
    assert not os.path.exists(temp)

    kept = str(tmp_path / "ckpt")
    os.makedirs(kept)
    w = _Writer()
    with pytest.raises(RuntimeError, match="q_fake_drive"):
        run_available_now(
            w, "q_fake_drive", spark, ensure_eviction=True, checkpoint=kept
        )
    assert w.checkpoints == {kept} and os.path.isdir(kept)


def test_scoped_confs_restores_every_key(spark):
    """scoped_confs restores a set key, unsets a key that was unset,
    restores after an exception, keeps a RUNTIME_CONFS key's scoped
    value through ensure_confs, and nests on one thread without
    deadlock, its exit restoring the outer scope's value."""
    import pytest

    from flink_streaming_kmeans_spark import session

    set_key = "spark.fsk.test.scopedSet"
    unset_key = "spark.fsk.test.scopedUnset"
    rt_key = "spark.sql.adaptive.enabled"
    spark.conf.set(set_key, "12345")
    base_rt = spark.conf.get(rt_key)
    assert session.RUNTIME_CONFS[rt_key] == base_rt == "true"

    with scoped_confs(spark, {set_key: "-1", unset_key: "7"}):
        assert spark.conf.get(set_key) == "-1"
        assert spark.conf.get(unset_key) == "7"
    assert spark.conf.get(set_key) == "12345"
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(ZeroDivisionError):
        with scoped_confs(spark, {set_key: "-1", unset_key: "7"}):
            1 / 0
    assert spark.conf.get(set_key) == "12345"
    assert spark.conf.get(unset_key, None) is None

    with scoped_confs(spark, {rt_key: "false"}):
        session.ensure_confs(spark)
        assert spark.conf.get(rt_key) == "false"
        assert session.RUNTIME_CONFS[rt_key] == "false"
    assert spark.conf.get(rt_key) == base_rt
    assert session.RUNTIME_CONFS[rt_key] == base_rt
    session.ensure_confs(spark)
    assert spark.conf.get(rt_key) == base_rt

    with scoped_confs(spark, {set_key: "-1"}):
        with scoped_confs(spark, {set_key: "77"}):
            assert spark.conf.get(set_key) == "77"
        assert spark.conf.get(set_key) == "-1"
    assert spark.conf.get(set_key) == "12345"
    spark.conf.unset(set_key)


def test_staged_bounds_reads_footers_and_falls_back_to_agg(
    spark, tmp_path, monkeypatch
):
    """staged_bounds equals the agg min/max on a timestamp column and
    on an integer column, read from the staged footers with no agg
    job; a footer with no min/max (an all-NULL column) takes exactly
    one agg job on the staged frame instead."""
    import datetime as dt

    from flink_streaming_kmeans_spark.sources.replay import (
        stage_time_batches,
        staged_bounds,
    )

    t0 = dt.datetime(2024, 3, 9, 22, 15, 0, 123456)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=37 * i), 100 - 7 * i, None) for i in range(12)],
        "event_id bigint, ts timestamp, n bigint, blank bigint",
    )
    in_dir, nb = stage_time_batches(df, str(tmp_path / "s"), 3)
    assert nb == 3

    aggs = []
    real_agg = type(df).agg

    def counting_agg(self, *a, **kw):
        aggs.append(a)
        return real_agg(self, *a, **kw)

    def agg_bounds(col):
        r = real_agg(df, F.min(col), F.max(col)).collect()[0]
        return r[0], r[1]

    def instant(v):
        # Spark collects timestamps as naive process-local datetimes;
        # the footers carry UTC-adjusted ones. Compare the instants.
        return v if v.tzinfo else v.astimezone()

    monkeypatch.setattr(type(df), "agg", counting_agg)
    lo, hi = staged_bounds(df, in_dir, "ts")
    want = agg_bounds("ts")
    assert (instant(lo), instant(hi)) == (instant(want[0]), instant(want[1]))
    assert staged_bounds(df, in_dir, "n") == agg_bounds("n") == (23, 100)
    assert aggs == [], "the footer path ran an agg job"

    assert staged_bounds(df, in_dir, "blank") == agg_bounds("blank") == (None, None)
    assert len(aggs) == 1, "a stats-less footer must take one agg job"


def _scratch_child(tmp_path, body: str, **kw):
    """Start ``body`` in a fresh interpreter whose temp dir is
    tmp_path, with ``os``, ``sys`` and ``scratch_path`` imported."""
    import subprocess
    import sys

    code = (
        "import os, sys\n"
        "from flink_streaming_kmeans_spark.session import scratch_path\n"
        + body
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.Popen(
        [sys.executable, "-c", code],
        cwd=repo,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        stdout=subprocess.PIPE,
        text=True,
        **kw,
    )


def test_scratch_root_lifecycle(tmp_path):
    """session.scratch_path's root lives exactly as long as the process
    that made it (no Spark): (a) a normal exit removes it; (b) a root
    left by a SIGKILLed process goes at the next process's first
    scratch_path, while (c) a live sibling's root is left alone; (d) a
    forked child's exit leaves the parent's root, and removes the
    child's own."""
    import signal
    import subprocess

    def run(body):
        p = _scratch_child(tmp_path, body)
        out, _ = p.communicate(timeout=120)
        return p.returncode, out.split()

    # (a) normal exit
    rc, (path,) = run("p = scratch_path('a'); os.makedirs(p); print(p)\n")
    root = os.path.dirname(path)
    assert rc == 0 and os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("fsk-")
    assert not os.path.exists(root)

    # (b) + (c): a killed process's root and a live sibling's root
    rc, (killed,) = run(
        "p = scratch_path('b'); os.makedirs(p); print(p, flush=True)\n"
        "os.kill(os.getpid(), 9)\n"
    )
    assert rc == -signal.SIGKILL and os.path.isdir(killed)
    live = _scratch_child(
        tmp_path,
        "p = scratch_path('c'); os.makedirs(p); print(p, flush=True)\n"
        "sys.stdin.read()\n",
        stdin=subprocess.PIPE,
    )
    try:
        sibling = live.stdout.readline().strip()
        assert os.path.isdir(sibling)
        rc, (fresh,) = run("print(scratch_path('d'))\n")
        assert rc == 0
        assert not os.path.exists(os.path.dirname(killed))
        assert os.path.isdir(sibling)
        assert not os.path.exists(os.path.dirname(fresh))
    finally:
        live.communicate(input="", timeout=120)
    assert live.returncode == 0
    assert not os.path.exists(os.path.dirname(sibling))

    # (d) fork: the child inherits the exit hook, which must not act
    # outside the pid that made the root; the child's own root goes
    rc, out = run(
        "p = scratch_path('e'); os.makedirs(p)\n"
        "r, w = os.pipe()\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    os.write(w, os.path.dirname(scratch_path('f')).encode())\n"
        "    sys.exit(0)\n"
        "os.close(w)\n"
        "child_root = os.read(r, 4096).decode()\n"
        "os.waitpid(pid, 0)\n"
        "print(os.path.isdir(p), child_root != os.path.dirname(p),"
        " os.path.exists(child_root), os.path.dirname(p))\n"
    )
    assert rc == 0 and out[:3] == ["True", "True", "False"], out
    assert not os.path.exists(out[3])
