"""SparkSession factory and session hygiene.

All correctness-critical SQL confs (SURVEY.md §4) live here, in ONE
place. Two paths:

- :func:`get_spark` builds a session for local runs / tests / bench.
- :func:`ensure_confs` applies the runtime-settable subset to an
  EXISTING session (the driver harness passes us its own session, which
  may not have our confs). Every query entry point calls it; it is
  idempotent and cheap.

Any conf changed for a bounded scope goes through :func:`scoped_confs`.

Scale notes (100 TB): these confs are the local-mode projection of the
cluster posture — AQE on (runtime re-plan, skew-join splitting,
shuffle-partition coalescing), broadcast threshold left to default.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import SparkSession

# Runtime-settable SQL confs — safe to apply to a running session.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark 4 refuses
    # by default; read as bigint ns and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Determinism: every hash-checked query assumes UTC.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow for pandas UDF / applyInPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Window partitions beyond this many rows move into a sorter-backed
    # spillable buffer whose per-row iterator restarts degrade bounded
    # RANGE frames to effectively O(n^2) under memory pressure
    # (measured: q_win_range_frame 5s -> 385s on its second run in one
    # session with the 4096 default). 50k-row window partitions are a
    # few MB; keep them in a plain in-memory array.
    "spark.sql.windowExec.buffer.in.memory.threshold": "1048576",
    # Accept children co-partitioned on a SUBSET of the join keys
    # (r12, guide §2.4): the keyed fan_out sites deliberately hash-
    # partition on the one key every downstream clustering contains
    # (doc_id / vec_id / custkey); with the default (true) a join on
    # (key, extra) re-shuffles BOTH already-key-partitioned sides.
    # Only plans where a subset co-partitioning already exists are
    # affected — i.e. exactly the explicit fan_out(by=) sites, where
    # the subset key is chosen high-cardinality (>> partition count),
    # so the skew hazard this default guards against does not apply.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


# Build-time defaults. SHUFFLE_PARTITIONS is the batch-sized reducer
# count; AQE coalesces it down at runtime, and the streaming drives
# scope their own (replay.run_available_now). CODEGEN_CACHE_ENTRIES:
# see get_spark.
SHUFFLE_PARTITIONS = "32"
CODEGEN_CACHE_ENTRIES = "4096"


# ensure_confs memo: (python-session id) -> the RUNTIME_CONFS snapshot
# last applied to it. Every query entry point calls ensure_confs via
# load_table, so the suite used to pay len(RUNTIME_CONFS) py4j
# conf.set round-trips per source-table load — pure driver-side
# planning overhead (guide §1.2 step 2). The memo key includes the
# FULL snapshot, not a boolean: scoped_confs overrides RUNTIME_CONFS
# entries for its scope and relies on the next query entry
# re-applying them (and re-applying the restored values afterwards)
# — a snapshot mismatch re-runs the sets.
_ENSURED: dict[int, tuple] = {}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent,
    memoized per session × RUNTIME_CONFS snapshot)."""
    import sys

    key = id(spark)
    snap = tuple(sorted(RUNTIME_CONFS.items()))
    if _ENSURED.get(key) == snap:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # Not silently (review r6): several of these confs are
            # correctness-critical (UTC session timezone, parquet
            # nanosAsLong) — a dropped one shows up later only as
            # undiagnosable hash drift against the oracle. Name the
            # key so the drift is attributable; still continue (the
            # conf may be build-time-only and already right).
            print(
                f"[session] WARNING: could not set {k}={v!r}: {exc!r}",
                file=sys.stderr,
            )
    _ENSURED[key] = snap
    return spark


# Serializes every session-global conf flip across threads on one
# session — see scoped_confs.
_DRIVE_LOCK = threading.RLock()


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the scope; restore every key on
    exit, even on error, unsetting keys that were unset before. The one
    save/restore of session confs in the package.

    A key in RUNTIME_CONFS is overridden there too for the scope, so an
    ``ensure_confs`` call inside it (every query entry point makes one)
    keeps the scoped value instead of reverting it; the entry is
    restored on exit, and the changed snapshot makes the next
    ``ensure_confs`` re-apply the baseline.

    CONCURRENCY (r13 close, found by the round-close full suite via
    the multi-tenant contract test's q_stream_tumble self-pair): these
    flips are SESSION-GLOBAL. Two drives on one session from two
    threads race an unlocked save/restore — T1 saves "true"/32 and sets
    "false"/2, T2 then SAVES T1's scoped value as its own baseline, and
    whichever restores last leaves the scoped value stuck session-wide.
    A leaked ``noDataMicroBatches=false`` deterministically drops the
    append-finalization drives' tail (session 943/946 rows, exactly the
    eviction set). So the whole scope — save, set, body, restore — runs
    under one module RLock: concurrent scopes on one session serialize,
    batch work outside a scope is untouched, and a same-thread nested
    scope cannot deadlock and restores the outer scope's value. A
    ``foreachBatch`` body must never enter a scope: it runs on another
    thread while the drive's thread holds the lock waiting for it, so
    it would deadlock.
    """
    with _DRIVE_LOCK:
        saved = {k: spark.conf.get(k, None) for k in confs}
        saved_runtime = {k: RUNTIME_CONFS[k] for k in confs if k in RUNTIME_CONFS}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            RUNTIME_CONFS.update({k: confs[k] for k in saved_runtime})
            yield
        finally:
            RUNTIME_CONFS.update(saved_runtime)
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def get_spark(app_name: str = "flink-streaming-kmeans-spark") -> SparkSession:
    """Build (or reuse) a local session with the full conf set."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Headroom for long sessions: hundreds of whole-stage-codegen
        # classes live in the JVM code cache (default 240m).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Generated-class cache sized for a many-query session (r13,
        # guide §1.2 step 3): the JVM-wide compiled-codegen cache
        # defaults to 100 ENTRIES, and this registry's 167 queries
        # evict each other's classes, so every revisit re-pays Janino
        # compilation + fresh JIT warmup — measured on
        # q_dedup_canonical: 2.3 s warm, then 4.3/3.6 s again right
        # after 60 other queries ran, vs 1.8/1.9 s with the cache
        # raised (the whole-suite bench re-measures every query after
        # a full intervening pass, so BOTH its passes paid this).
        # Static conf — build-time only. Production posture, not a
        # local-mode trick: a long-lived driver serving many distinct
        # plan shapes sizes this with its query count (entries are
        # source + bytecode, ~100 KB each; 4096 ≈ worst-case 400 MB
        # against a 32 g heap).
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_confs(spark)
