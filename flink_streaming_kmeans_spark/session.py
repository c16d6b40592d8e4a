"""SparkSession factory and session hygiene.

All correctness-critical SQL confs (SURVEY.md §4) live here, in ONE
place. Two paths:

- :func:`get_spark` builds a session for local runs / tests / bench.
- :func:`ensure_confs` applies the runtime-settable subset to an
  EXISTING session (the driver harness passes us its own session, which
  may not have our confs). Every query entry point calls it; it is
  idempotent and cheap.

Any conf changed for a bounded scope goes through :func:`scoped_confs`,
and every temp path the package writes comes from :func:`scratch_path`.
A local session also gets the no-fork ``file://`` filesystem
(``jvm/NoForkLocalFileSystem.java``), compiled once per user by
:func:`_no_fork_classes`.

Scale notes (100 TB): these confs are the local-mode projection of the
cluster posture — AQE on (runtime re-plan, skew-join splitting,
shuffle-partition coalescing), broadcast threshold left to default.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import uuid

import pyspark
from pyspark import SparkContext
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


# (owner pid, root) of this process's scratch root, made on first use.
_SCRATCH: tuple[int, str] | None = None
_SCRATCH_LOCK = threading.Lock()


def scratch_path(prefix: str) -> str:
    """A fresh unique path, not yet created, under this process's
    scratch root: the one place the package chooses where its temp
    files live (staged inputs, sinks, checkpoints, model side files).

    The root, ``fsk-<pid>-*`` in the system temp dir, is made on first
    use and removed at exit by the process that made it; a forked
    child that calls this makes its own, and its exit leaves the
    parent's alone. A process killed before its exit hook ran leaves
    its root behind, so first use also removes every sibling root
    whose pid no longer exists. Liveness, not age: a long-running
    process's scratch is never reclaimed under it. Callers that are
    done with a path earlier may still remove it themselves."""
    global _SCRATCH
    pid = os.getpid()
    with _SCRATCH_LOCK:
        if _SCRATCH is None or _SCRATCH[0] != pid:
            _remove_dead_roots()
            root = tempfile.mkdtemp(prefix=f"fsk-{pid}-")
            atexit.register(_remove_root, pid, root)
            _SCRATCH = (pid, root)
        root = _SCRATCH[1]
    return os.path.join(root, f"{prefix}-{uuid.uuid4().hex}")


def _remove_root(pid: int, root: str) -> None:
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def _remove_dead_roots() -> None:
    base = tempfile.gettempdir()
    for name in os.listdir(base):
        tag, _, rest = name.partition("-")
        pid, _, _ = rest.partition("-")
        if tag != "fsk" or not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except OSError:
            pass  # alive, owned by another user


_NO_FORK_SRC = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NoForkLocalFileSystem.java"
)
NO_FORK_FS = "flink_streaming_kmeans_spark.jvm.NoForkLocalFileSystem"


def _no_fork_classes() -> str | None:
    """The class directory of the no-fork ``file://`` filesystem, or None
    when this install has no ``javac`` or the compile fails.

    Compiled once per user against the bundled Hadoop client jar into
    ``$XDG_CACHE_HOME`` (or ``~/.cache``), in a directory named by a hash
    of the source and the pyspark version, so a later session only finds
    it. The build runs under scratch_path and is published with one
    atomic rename, so no reader sees a partial directory; a process that
    cannot write the cache uses its scratch build."""
    with open(_NO_FORK_SRC, "rb") as f:
        key = hashlib.sha256(f.read() + pyspark.__version__.encode()).hexdigest()
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "flink_streaming_kmeans_spark",
        f"nofork-{key[:16]}",
    )
    if os.path.isdir(cache):
        return cache
    javac = shutil.which("javac")
    if javac is None:
        return None
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    build = scratch_path("nofork")
    try:
        api = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))[0]
        subprocess.run(
            [javac, "--release", "17", "-cp", api, "-d", build, _NO_FORK_SRC],
            check=True,
            capture_output=True,
        )
    except (IndexError, OSError, subprocess.CalledProcessError) as exc:
        shutil.rmtree(build, ignore_errors=True)
        detail = getattr(exc, "stderr", b"") or b""
        print(
            "[session] WARNING: could not compile the no-fork local filesystem;"
            f" local file writes fork chmod: {exc!r} {detail.decode(errors='replace')}",
            file=sys.stderr,
        )
        return None
    staging = f"{cache}.{uuid.uuid4().hex}"
    try:
        shutil.copytree(build, staging)
        os.rename(staging, cache)
        return cache
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        # Another process published first, or the cache is not writable.
        return cache if os.path.isdir(cache) else build


def _no_fork_confs(master: str) -> dict[str, str]:
    """The builder confs that make ``file://`` the no-fork filesystem.

    Only a ``local`` master, whose executors run in the driver JVM, and
    only before this process has launched that JVM: a class directory
    on ``spark.driver.extraClassPath`` reaches the JVM's classpath only
    when it starts. Otherwise, or without ``javac``, there are none and
    the session keeps the stock filesystem and its forks."""
    local = master == "local" or master.startswith("local[")
    if not local or SparkContext._gateway is not None:
        return {}
    classes = _no_fork_classes()
    if classes is None:
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": NO_FORK_FS,
    }


def _builder(app_name: str) -> SparkSession.Builder:
    """The builder get_spark starts its session from."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
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
    for k, v in {**RUNTIME_CONFS, **_no_fork_confs(master)}.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "flink-streaming-kmeans-spark") -> SparkSession:
    """Build (or reuse) a local session with the full conf set."""
    spark = _builder(app_name).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_confs(spark)
