"""Tests of the benchmark itself (not of the system under test).

    python -m pytest perfbench/tests -q              # everything
    python -m pytest perfbench/tests -q -m "not slow"  # no Spark runs

The slow tests run every workload at smoke size through the real
command and check that each named metric is emitted with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import reference as ref  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOAD_NAMES, tail_percentile  # noqa: E402
from workloads import WORKLOADS, load_oracle  # noqa: E402

with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_benchmark_json_matches_catalogue():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for w in SPEC["workloads"]:
        assert w["name"] in WORKLOAD_NAMES
        assert WORKLOADS[w["name"]].why  # each workload records why it exists
    assert set(WORKLOADS) == set(WORKLOAD_NAMES)


def test_tail_percentile_keeps_ten_samples_above():
    xs = list(range(1, 101))
    pct, v = tail_percentile(xs)
    assert sum(x > v for x in xs) == 10 and pct == 90.0
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


def _batches(seed=0, n_batches=4, per_batch=300):
    x, _ = ref.clustered_points(np.random.default_rng(seed), n_batches * per_batch, 8, 16, 0.05)
    return [x[i * per_batch : (i + 1) * per_batch] for i in range(n_batches)], x[:8]


def test_macqueen_gate_rejects_shifted_centroid_and_lost_point():
    batches, c0 = _batches()
    c, n = ref.macqueen(c0, batches)
    assert ref.centroids_match(c, n, *ref.macqueen(c0, batches))
    shifted = c.copy()
    shifted[3, 5] += 1e-4
    assert not ref.centroids_match(shifted, n, c, n)
    lost = n.copy()
    lost[0] -= 1
    assert not ref.centroids_match(c, lost, c, n)


def test_tracked_reference_conserves_mass_and_rejects_perturbation():
    batches, c0 = _batches()
    ids = [np.arange(300), np.arange(300, 600), np.arange(0, 600, 2), np.arange(600, 900)]
    pairs = [(i, x) for i, x in zip(ids, batches)]
    c, n, distinct = ref.macqueen_tracked(c0, pairs, 900)
    assert distinct == 900 and n.sum() == 900
    # With no re-arrivals the tracked update equals the untracked one.
    fresh = [(np.arange(i * 300, (i + 1) * 300), x) for i, x in enumerate(batches)]
    c2, n2, _ = ref.macqueen_tracked(c0, fresh, 1200)
    assert ref.centroids_match(c2, n2, *ref.macqueen(c0, batches))
    assert not ref.centroids_match(c + 1e-5, n, c, n)


def test_lloyd_gate_rejects_flipped_assignments():
    x, labels = ref.clustered_points(np.random.default_rng(1), 2000, 4, 16, 0.05)
    c0 = np.stack([x[labels == j][0] for j in range(4)])
    _, assign = ref.lloyd(x, c0, 5)
    assert ref.assignments_match(assign, assign, labels)
    flipped = assign.copy()
    flipped[:10] = (flipped[:10] + 1) % 4
    assert not ref.assignments_match(flipped, assign, labels)
    # A merged cluster loses purity even when it agrees with itself.
    merged = np.where(assign == 1, 0, assign)
    assert not ref.assignments_match(merged, merged, labels)


class _Frame:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def test_oracle_gate_rejects_corrupted_row():
    import duckdb

    oracle = load_oracle()
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 2.5), (2, 3.5)) t(k, v)"
    good = _Frame(["k", "v"], [(2, 3.5), (1, 2.5)])
    bad = _Frame(["k", "v"], [(2, 3.5), (1, 2.6)])
    assert oracle.check_parity(None, con, "q", lambda s, d: good, sql, "").ok
    assert not oracle.check_parity(None, con, "q", lambda s, d: bad, sql, "").ok


def _run(args, cwd=CHECKOUT, timeout=600):
    return subprocess.run(
        [sys.executable, *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(
        [*SPEC["command"][1:], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        timeout=180,
    )
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


@pytest.mark.slow
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric(workload, trace):
    res = _run(
        [*SPEC["command"][1:], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
