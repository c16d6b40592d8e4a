"""Micro-batch replay: the source of every streaming drive.

Every streaming drive replays a bounded table as a sequence of parquet
files read by a FileStreamSource that takes one file per trigger. The
drives it serves: the ten in plans/streams.py, plans/ml.py
q_kmeans_stream, plans/streaming_ext.py q_stream_slide,
plans/training.py q_stream_tumble and tool.py --stream. Two
invariants make that a faithful drive:

- one FILE per logical batch, so each trigger is exactly one batch;
- monotone mtimes in delivery order, which pins the FileStreamSource
  processing order (it sorts by modification time).

This module owns that scaffolding end to end: staging the batch files,
the reader over them (:func:`replay_stream`, the only place that sets
``maxFilesPerTrigger``), their column bounds (:func:`staged_bounds`),
and the one drive runner (:func:`run_available_now`), the only place
that sets an availableNow trigger or a checkpoint location. Like the
reference job, which configures checkpointing once on its execution
environment, no drive picks its own checkpoint: the runner gives each
drive a fresh session.scratch_path dir, removed when the drive ends,
unless the caller passes a ``checkpoint`` path to resume from. Its
conf flips go through session.scoped_confs.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.lakehouse import footer_min_max
from ..session import scoped_confs, scratch_path

_LOCAL_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _filesystem_scheme(spark, path: str) -> str:
    """The scheme of the filesystem Hadoop resolves ``path`` to: a path
    with no scheme resolves against fs.defaultFS, which is a cluster's
    HDFS as often as the local ``file``."""
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.hadoop.fs.Path(path).getFileSystem(conf).getScheme()


def replay_batch_count(n: int) -> int:
    """The drive's micro-batch count, overridable by the
    ``SPARK_GRAFT_STREAM_BATCHES`` env var (sweep scaffolding).

    Every registered streaming drive's OUTPUT is contractually
    invariant to how the bounded input is split into micro-batches —
    that's what makes the hash oracle a batch-semantics statement
    rather than a replay transcript. This knob lets a sweep re-run the
    drives at 1/2/5/7 batches and assert exactly that (the
    batch-boundary analogue of the 5-vs-32 reducer sweep).

    Call sites MUST route the count through this helper BEFORE both
    the split and any ``append_batch`` sentinel index — a hidden
    override inside the split would leave the caller appending its
    sentinel at the UN-overridden index, silently overwriting a real
    batch file. Callers still clamp to their row count afterward
    (ntile leaves empty trailing batches the replay prep rejects).
    Unset (the default, incl. driver/bench runs) this is the identity.
    """
    v = os.environ.get("SPARK_GRAFT_STREAM_BATCHES")
    return n if not v else max(1, int(v))


def time_batch_col(
    df: DataFrame, n_batches: int, order_cols: Sequence[str] = ("ts", "event_id")
) -> DataFrame:
    """Add a ``bno`` column splitting df into n_batches CONTIGUOUS
    ranges of order_cols order — so event-time watermarks advance
    monotonically across batches and never late-drop (the
    q_stream_tumble lesson, r4 ADVICE). Drive-side scaffolding: the
    single-partition ntile sort is over the bounded evidence table,
    not a production path.

    NULLS LAST (not Spark's ASC default of NULLS FIRST): batch-fold
    order must concatenate to the GLOBAL sequence order the batch
    oracles use, and both engines' sequence aggregates put NULL sort
    keys last — a NULL-ts event split into batch 0 replayed q_stream_
    cep's NFA out of oracle order (NULL-events sweep, r6). Windowed
    drives drop NULL event times either way, so this pin only affects
    sequence-order consumers."""
    return df.withColumn(
        "bno",
        F.ntile(n_batches).over(
            W.orderBy(*[F.asc_nulls_last(F.col(c)) for c in order_cols])
        )
        - 1,
    )


def batch_input_dir(
    df: DataFrame, d: str, sequence: Sequence[int], bno_col: str = "bno"
) -> str:
    """Write one parquet file per entry of ``sequence`` under d/in;
    the d/staged write they are copied from is removed afterwards.

    ``df`` carries an integer batch-number column ``bno_col``; each
    sequence entry names the batch whose rows that file holds, and a
    REPEATED entry re-delivers the same batch (the at-least-once
    replay the reassignment drive exercises). The write is a single
    partitionBy pass (the per-batch filter-and-write loop this
    replaces re-sorted the input once per batch); partitionBy drops
    bno_col from the data files, so the file schema equals
    df-minus-bno. Batch order is pinned by monotone mtimes. A batch
    named in ``sequence`` but holding no rows is an error — silently
    skipping a file would shift every later trigger.

    The stage is hash-repartitioned on bno_col (r13, guide §2.6): each
    bno value lands in exactly ONE shuffle partition, so every batch
    dir still gets exactly one parquet file (the replay invariant),
    but the n batch files compress and write in PARALLEL instead of
    through the old coalesce(1) single task — measured 1.06 → 0.74 s
    warm on the 200k-row events stage. Hash-by-column is
    deterministic under task retry (guide §2.5; no round-robin).
    """
    staged = os.path.join(d, "staged")
    n_batches = max(1, len(set(sequence)))
    df.repartition(n_batches, bno_col).write.mode("overwrite").partitionBy(
        bno_col
    ).parquet(staged)
    in_dir = os.path.join(d, "in")
    os.makedirs(in_dir, exist_ok=True)
    for k, b in enumerate(sequence):
        pdir = os.path.join(staged, f"{bno_col}={b}")
        if not os.path.isdir(pdir):
            raise ValueError(f"batch {b} of {bno_col} produced no rows")
        _deliver(pdir, in_dir, k)
    shutil.rmtree(staged, ignore_errors=True)
    return in_dir


def _deliver(pdir: str, in_dir: str, k: int) -> str:
    """Copy a staged dir's parquet file to in_dir as batch k, with the
    k-th monotone mtime, and return its path. The staging write puts
    each batch in exactly one file; any other count fails loudly, since
    taking one of several would silently drop the others' rows from the
    replay."""
    files = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    if len(files) != 1:
        raise ValueError(
            f"{pdir}: expected one parquet file per batch, found {len(files)}"
        )
    dst = os.path.join(in_dir, f"batch-{k:05d}.parquet")
    shutil.copy(os.path.join(pdir, files[0]), dst)
    os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
    return dst


def stage_time_batches(
    df: DataFrame,
    d: str,
    target: int,
    order_cols: Sequence[str] = ("ts", "event_id"),
    bno_col: str = "bno",
) -> tuple[str, int]:
    """Stage up to ``target`` contiguous-order micro-batch files under
    d/in and return ``(in_dir, n_actual)``; as in
    :func:`batch_input_dir`, the d/staged write is removed afterwards.

    Replaces the pre-staging ``limit(b).count()`` probe job (r13,
    guide §1.5 — one driver job per drive, and for q_stream_upsert a
    partial evaluation of the whole merge-source join+agg): the clamp
    the probe computed falls out of the staging write itself.
    ``ntile(b)`` over r < b rows fills buckets 1..r with one row each
    and leaves the rest EMPTY, so the staged partition dirs are
    exactly the contiguous prefix 0..min(b,r)-1 and ``n_actual`` is
    their count; an empty ``df`` stages zero dirs → ``(in_dir, 0)``
    and the caller returns its typed empty frame exactly as it did on
    a zero probe count. Anything non-contiguous would mean the ntile
    invariant broke — fail loudly, never renumber (a silently shifted
    batch file re-orders every later trigger).

    The sentinel-appending drives (session / slide / left-outer join)
    take their append index from the returned ``n_actual`` and their
    bounds from :func:`staged_bounds`; only explicit sequences
    (the reassignment drive's re-deliveries, q_kmeans_stream's
    ``vec_id mod 5`` split) go through :func:`batch_input_dir`. The
    sweep override (``SPARK_GRAFT_STREAM_BATCHES``) is honored here,
    before the split, per the replay_batch_count contract."""
    b = replay_batch_count(target)
    staged = os.path.join(d, "staged")
    # TIMESTAMP_MICROS for the staged files, scoped to this write:
    # Spark's default parquet timestamp output is deprecated INT96,
    # which carries NO footer min/max — staged_bounds would always
    # fall back to the agg job it exists to remove. INT64 µs
    # round-trips bit-identically through the replay read (explicit
    # schema either way). Scoped, not session-wide: set session-wide,
    # it changed every other parquet write too, and the degenerate-
    # parity suite's DuckDB reads of Spark-written timestamp fixtures
    # diverged on five queries.
    with scoped_confs(
        df.sparkSession,
        {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"},
    ):
        time_batch_col(df, b, order_cols).repartition(
            b, bno_col
        ).write.mode("overwrite").partitionBy(bno_col).parquet(staged)
    present = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(staged)
        if name.startswith(f"{bno_col}=")
    )
    if present != list(range(len(present))):
        raise ValueError(
            f"staged batches are not a contiguous prefix: {present}"
        )
    in_dir = os.path.join(d, "in")
    os.makedirs(in_dir, exist_ok=True)
    for k in present:
        _deliver(os.path.join(staged, f"{bno_col}={k}"), in_dir, k)
    shutil.rmtree(staged, ignore_errors=True)
    return in_dir, len(present)


def replay_stream(spark, in_dir: str, schema) -> DataFrame:
    """The streaming read of a staged batch dir: one file per trigger,
    so each trigger delivers exactly one staged batch. ``schema`` is
    the staged frame's, so the source never infers one."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def staged_bounds(df: DataFrame, in_dir: str, col: str):
    """``(min, max)`` of ``col`` over the batch files staged from
    ``df``, read from their parquet FOOTERS with no Spark job (the
    per-file zone-map stats the lakehouse manifest also records). The
    staged files are Spark-written from the already filtered frame, so
    integer stats are exact and a timestamp column is INT64 µs
    (stage_time_batches), tz-aware on read-back here. Statistics
    exclude NULLs, matching MIN/MAX. When any footer lacks exact
    min/max for ``col`` (an all-NULL column, an INT96 timestamp), one
    agg job on ``df`` gives the bounds instead: never a guess."""
    import pyarrow.parquet as pq

    lo = hi = None
    for f in sorted(os.listdir(in_dir)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(in_dir, f)).metadata
        mm = footer_min_max(md, col)
        if mm is None:
            r = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            return tuple(r.collect()[0])
        lo = mm[0] if lo is None else min(lo, mm[0])
        hi = mm[1] if hi is None else max(hi, mm[1])
    return lo, hi


def run_available_now(
    writer,
    name: str,
    spark,
    partitions: int = 4,
    timeout: int = 300,
    final_no_data_batch: bool = True,
    ensure_eviction: bool = False,
    checkpoint: str | None = None,
):
    """Run ``writer`` as an availableNow query, the one drive runner.
    It fails loudly on timeout instead of returning partial state.

    ``checkpoint``: the query's checkpoint location, always set here;
    a ``checkpointLocation`` the writer already carries is replaced.
    A caller that resumes across runs passes its path, which is used
    as given and left in place as the restart point. Without one the
    drive checkpoints in a fresh ``session.scratch_path`` dir, removed
    once the drive ends: finished, timed out or failed its restart.

    ``partitions``: every state-store commit writes one delta file
    PER STORE PER PARTITION per trigger (a stream-stream join keeps 4
    stores per partition), so drives whose triggers are state-commit-
    dominated (r13: q_stream_join 620-1200 ms commit of a 600-770 ms
    addBatch) pass 2; drives with real per-batch compute keep 4 — the
    r13 interleaved A/B measured parts=2 WORSE there (q_stream_session
    3.0→3.5 s, q_stream_hll 1.7→1.9 s). Why the count is scoped at
    all: see the comment above the scope below. Output is partition-
    count invariant (the 5-vs-32 reducer and SPARK_GRAFT_STREAM_BATCHES
    sweeps assert exactly that).

    ``final_no_data_batch=False`` scopes
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` around
    the run. The final no-data micro-batch runs watermark-driven state
    eviction/emission after the last data batch; drives whose output
    is already complete by then (an inner interval join and first-
    sight dedup emit on match; an update-mode foreachBatch emits every
    state change on its data batch) would pay a full trigger, 0.4-0.7
    s measured, for a batch that provably emits nothing. APPEND-mode
    finalization drives (session / slide / left-outer join) MUST keep
    the default: their tail rows emit only on that final eviction.

    SPARK_GRAFT_STREAM_TIMEOUT overrides the cap for fixtures whose
    OUTPUT is legitimately huge (the adversarial-skew rung's hot-user
    interval join emits quadratically many pairs); the default stays
    300 s so drive hangs still fail loudly everywhere else.

    ``ensure_eviction=True`` (the APPEND-finalization drives): after a
    successful termination, verify from ``recentProgress`` that a
    zero-input batch actually ran. If the engine concluded straight
    after the last data batch (observed once in ~10⁴ full-suite drives
    — the r13 [1-q_stream_session] flake, 943/946 rows), RESTART the
    writer once from the same checkpoint: the restarted query sees no
    new files and runs precisely the pending eviction batch, the
    engine's own resume path (pinned by tests/test_streaming.py::
    test_filesink_checkpoint_resume_equals_single_run). If it still
    skips it, raise a RuntimeError naming the drive. Free in the
    normal case (one progress-list read); never valid together with
    ``final_no_data_batch=False``. The probe is sound because these
    drives' replay NEVER delivers an empty data batch, so
    last-progress ``numInputRows == 0`` ⟺ the eviction batch ran.

    A checkpoint on the local filesystem, as Hadoop resolves its path,
    also gets Spark's FileSystem-based checkpoint manager (see the
    comment at the scope).

    The conf flips form one session.scoped_confs scope around start,
    await and the eviction restart, so concurrent drives on one session
    serialize there (see its CONCURRENCY note).

    Returns the TERMINATED StreamingQuery so callers can read
    executed-run evidence: ``recentProgress[*].sources`` has one entry
    per physical streaming source the run actually scanned."""
    if ensure_eviction and not final_no_data_batch:
        raise ValueError(
            f"{name}: ensure_eviction requires the final no-data batch"
        )
    t_env = os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT")
    if t_env:
        timeout = max(1, int(t_env))

    def _await(query):
        if not query.awaitTermination(timeout):
            query.stop()
            raise RuntimeError(
                f"{name}: streaming query exceeded {timeout} s"
            )

    def _eviction_ran(query) -> bool:
        try:
            progress = query.recentProgress
        except Exception:
            return True  # cannot inspect — do not loop on a guess
        if not progress:
            return True  # zero triggers: empty replay, nothing to evict
        last = progress[-1]
        return int(last.get("numInputRows", 0)) == 0

    # Stateful Structured Streaming fixes the state-store partition
    # count to spark.sql.shuffle.partitions at FIRST checkpoint
    # creation, and every micro-batch then pays a per-partition state
    # commit (delta file + maintenance) regardless of row count. These
    # drives replay a bounded table as a few tiny micro-batches into a
    # fresh checkpoint, so the batch-sized 32 buys nothing and costs 32
    # state commits per stateful op per trigger; a handful instead
    # measured 21 s -> ~6 s on q_stream_join at sf0.1. At production
    # scale this is the knob you SIZE UP with state volume: state
    # partitioning is load-dependent config, not code.
    confs = {"spark.sql.shuffle.partitions": str(partitions)}
    if not final_no_data_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    ckpt = scratch_path("ckpt") if checkpoint is None else checkpoint
    if _filesystem_scheme(spark, ckpt) == "file":
        # A local checkpoint's logs go through FileSystem calls, not
        # FileContext: without the native Hadoop library, a local
        # permission call forks a chmod from the driver JVM per log
        # file. session.get_spark's no-fork file:// filesystem removes
        # them on the FileSystem path, but FileContext's LocalFs builds
        # its own RawLocalFileSystem and ignores fs.file.impl, so a
        # 10-trigger drive still forks 67 chmods there, against 0 here.
        # A local-filesystem tax only: HDFS keeps
        # FileContext, and object stores get this manager anyway. What
        # it gives up is the atomic no-overwrite rename, so two writers
        # of one batch id in two processes could race; in one process
        # the drive lock serializes them (tests/test_streaming.py::
        # test_shared_checkpoint_under_filesystem_manager).
        confs["spark.sql.streaming.checkpointFileManagerClass"] = _LOCAL_CKPT_MANAGER
    writer = writer.option("checkpointLocation", ckpt).trigger(availableNow=True)
    try:
        with scoped_confs(spark, confs):
            q = writer.start()
            _await(q)
            if ensure_eviction and not _eviction_ran(q):
                q = writer.start()
                _await(q)
                if not _eviction_ran(q):
                    raise RuntimeError(
                        f"{name}: the eviction batch did not run, even"
                        " after a restart — the tail rows are missing"
                    )
            return q
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def append_batch(df: DataFrame, in_dir: str, k: int) -> str:
    """Append one more micro-batch file AFTER a batch_input_dir
    sequence — the sentinel watermark-driver batches the session/
    outer-join drives need. Writes ``df`` as one parquet file named
    batch-{k:05d} with the next monotone mtime.

    Exists because the obvious alternative — unioning the sentinel
    rows into the main frame before the partitionBy write — was
    measured 8x slower (100k-row staged write 1.1 s -> 8.2 s at
    sf0.1): the union of a local-relation frame into the windowed
    branch defeats the single-pass plan. Writing the 2-row sentinel
    frames separately costs milliseconds."""
    stage = os.path.join(in_dir, f"_sent_stage_{k}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    dst = _deliver(stage, in_dir, k)
    shutil.rmtree(stage, ignore_errors=True)
    return dst


def memory_sink_name(prefix: str, d: str) -> str:
    """A valid single-part memory-sink queryName derived from a tmp
    dir (dots/dashes in sf-suffixed paths are not identifier chars)."""
    return prefix + "".join(
        ch if ch.isalnum() else "_" for ch in os.path.basename(d)
    )
