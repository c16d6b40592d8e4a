"""Benchmark entry point: run one workload in a fresh process and print
one JSON result line.

    python3 perfbench/run.py --workload online_kmeans --seed 1 --seconds 10 --trace 0

The command is a supervisor. It pins the environment, creates a
per-run root under ``.perfbench/`` in the checkout (temp files, Spark
local dirs, streaming checkpoints and assignment state all land there),
starts ``perfbench/worker.py`` in its own process group, samples the
peak resident memory of that process tree from ``/proc`` (traced runs
only, so the sampler never competes with a measured run), and removes
the run root when the worker has ended. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). The traced run also writes its spans to
``.perfbench/traces/``. Exit code 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402
from proctree import procs, tree_rss_kb  # noqa: E402

# Wall-clock cap on one worker; a whole run must end within 180 s.
WORKER_TIMEOUT_S = 170.0

# Sweep overrides the code under test reads; cleared so the code's own
# defaults are what gets measured.
CLEARED_ENV = (
    "SPARK_GRAFT_STREAM_BATCHES",
    "SPARK_GRAFT_STREAM_TIMEOUT",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_CODEGEN_CACHE",
    "PYSPARK_SUBMIT_ARGS",
)

# Driver heap for the local session: well below the 15 GB of the
# machine the bounds were fitted on (the session default of 32g is not).
DRIVER_MEM = "2g"


def pinned_env(run_root: str, cpus: int) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in CLEARED_ENV}
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # The JVM's own temp files (artifacts, perf data) stay in the run root.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update(
        JAVA_TOOL_OPTIONS=" ".join(filter(None, [env.get("JAVA_TOOL_OPTIONS"), java_opts])),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
        PYTHONPATH=os.pathsep.join([CHECKOUT, HERE]),
    )
    return env


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled every ``period`` s."""

    def __init__(self, pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.pid))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _group_alive(pgid: int) -> bool:
    return any(state != "Z" and g == pgid for _, state, _, g in procs())


def _reap_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the worker's group
    (the JVM and its Python workers) and wait until none remain."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def run_worker(
    args, run_root: str, cpus: int, extra: list[str], timeout: float
) -> tuple[dict | None, int]:
    """Run worker.py once; return (its result dict or None, peak RSS kB)."""
    tag = uuid.uuid4().hex[:8]
    out = os.path.join(run_root, f"result-{tag}.json")
    log_path = os.path.join(run_root, f"worker-{tag}.log")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--size", args.size,
        "--run-root", run_root,
        "--out", out,
        "--t0", repr(time.time()),
        *extra,
    ]
    log = open(log_path, "wb")
    try:
        proc = subprocess.Popen(
            cmd,
            cwd=run_root,
            env=pinned_env(os.path.join(run_root, tag), cpus),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        if args.trace:
            sampler.start()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {timeout:.0f} s", file=sys.stderr)
        finally:
            if args.trace:
                sampler.stop()
            _reap_group(proc.pid)
            proc.wait()
    finally:
        log.close()
    with open(log_path, "rb") as f:
        for line in f.read().decode(errors="replace").splitlines():
            if line.startswith("perfbench:"):
                print(line, file=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        print(f"perfbench: worker failed (rc={proc.returncode})\n{tail}", file=sys.stderr)
        return None, sampler.peak_kb
    with open(out) as f:
        return json.load(f), sampler.peak_kb


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: smoke-test input sizes (not for measurement)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOAD_NAMES:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(CHECKOUT, "flink_streaming_kmeans_spark")):
        print("perfbench: the package under test is missing", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    bench_dir = os.path.join(CHECKOUT, ".perfbench")
    run_root = os.path.join(bench_dir, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_root)
    started = time.monotonic()
    try:
        result, peak_kb = run_worker(args, run_root, cpus, [], WORKER_TIMEOUT_S)
        if result is None:
            return 1
        metrics = result["metrics"]
        if args.trace:
            if args.workload == "online_kmeans":
                # Single-threaded baseline of the same job (trace output only).
                left = WORKER_TIMEOUT_S - (time.monotonic() - started)
                base, _ = run_worker(args, run_root, 1, ["--baseline"], left)
                if base is None:
                    return 1
                metrics["skm.single_thread_points_per_s"] = base["metrics"][
                    "skm.single_thread_points_per_s"
                ]
                for key in ("attempted", "failed"):
                    result[key] += base[key]
                result["correct"] = result["correct"] and base["correct"]
            metrics["proc.peak_rss_mb"] = {"value": peak_kb / 1024.0, "unit": "MB"}
            keep = PER_LAYER
        else:
            keep = END_TO_END
        missing = [m for m in keep if m not in metrics]
        if missing:
            print(f"perfbench: metrics missing: {missing}", file=sys.stderr)
            return 1
        line = {
            "correct": bool(result["correct"]),
            "attempted": int(result["attempted"]),
            "failed": int(result["failed"]),
            "metrics": {m: metrics[m] for m in keep},
        }
        print(json.dumps(line))
        return 0
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(bench_dir)  # only when no traces or other runs remain
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
