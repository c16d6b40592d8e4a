"""CLI tool (KMeansTool analog) end-to-end: parquet and CSV ingest."""

from __future__ import annotations

import json
import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import SF_SMOKE

import pytest

pytestmark = pytest.mark.slow  # slow lane — see pytest.ini



def test_tool_parquet_end_to_end(spark, capsys):
    from flink_streaming_kmeans_spark.tool import main

    d = tempfile.mkdtemp(prefix="fsk_tool_")
    try:
        rc = main(
            [
                "--input", f"{SF_SMOKE}/embeddings.parquet",
                "--k", "10", "--max-iters", "5",
                "--output", d + "/out",
            ]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["n_points"] == 500
        assert len(summary["clusters"]) == 10
        back = spark.read.parquet(d + "/out")
        assert back.columns == ["vec_id", "cluster_id"]
        assert back.count() == 500
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tool_csv_points(spark, capsys):
    """The reference's actual ingest: text lines of id + coordinates."""
    from flink_streaming_kmeans_spark.sources.loader import load_table
    from flink_streaming_kmeans_spark.tool import main

    d = tempfile.mkdtemp(prefix="fsk_tool_csv_")
    try:
        e = load_table(spark, SF_SMOKE, "embeddings")
        e.select(
            F.col("vec_id").alias("id"),
            F.element_at("embedding", 1).cast("double").alias("x"),
            F.element_at("embedding", 2).cast("double").alias("y"),
        ).coalesce(1).write.option("header", True).csv(d + "/pts")

        rc = main(
            [
                "--input", d + "/pts", "--format", "csv",
                "--k", "4", "--max-iters", "5",
                "--output", d + "/out",
            ]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["n_points"] == 500
        assert 1 <= len(summary["clusters"]) <= 4
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tool_headerless_csv(spark, tmp_path):
    """--no-header must not consume the first data point (the reference
    KMeansTool's text lines have no header row)."""
    import json
    import subprocess
    import sys

    pts = tmp_path / "pts.csv"
    pts.write_text("".join(f"{i},{i % 3}.5,{i % 3}.25\n" for i in range(30)))
    out = tmp_path / "assigned"
    r = subprocess.run(
        [
            sys.executable, "-m", "flink_streaming_kmeans_spark.tool",
            "--input", str(pts), "--format", "csv", "--no-header",
            "--k", "3", "--max-iters", "5", "--output", str(out),
        ],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_points"] == 30, summary


def test_tool_stream_mode(spark, capsys):
    """--stream drives the KMeansTool topology through a real
    Structured Streaming query; --reassign emits the assignment
    memory (one row per distinct point, mass conserved)."""
    from flink_streaming_kmeans_spark.tool import main

    d = tempfile.mkdtemp(prefix="fsk_tool_s_")
    try:
        rc = main(
            [
                "--input", f"{SF_SMOKE}/embeddings.parquet",
                "--k", "10", "--stream", "--stream-batches", "4",
                "--reassign",
                "--output", d + "/out",
            ]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["mode"] == "stream"
        assert summary["batches_seen"] == 4
        assert summary["reassign"] is True
        assert summary["n_points"] == 500  # mass conserved
        back = spark.read.parquet(d + "/out")
        assert back.columns == ["vec_id", "cluster_id"]
        assert back.count() == 500
        assert back.select("vec_id").distinct().count() == 500
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tool_csv_clusters_by_euclidean_distance(spark, tmp_path):
    """Raw-coordinate CSV must cluster by TRUE Euclidean distance
    (review r6: plain argmax-dot let the larger-magnitude centroid
    absorb everything — a point AT centroid (1,0) was assigned to
    (5,0) because 5 > 1). Two tight blobs around (1,0) and (5,0),
    k=2, first-k init seeds one centroid in each blob: every point
    must stay with its own blob."""
    from flink_streaming_kmeans_spark.tool import main

    csv = tmp_path / "pts.csv"
    rows = ["id,x,y"]
    # ids 0..3 near (1,0) — includes the exact centroid point;
    # ids 4..7 near (5,0).
    near_a = [(0, 1.0, 0.0), (1, 1.1, 0.1), (2, 0.9, -0.1), (3, 1.0, 0.2)]
    near_b = [(4, 5.0, 0.0), (5, 5.1, 0.1), (6, 4.9, -0.1), (7, 5.0, 0.2)]
    for i, x, y in near_a + near_b:
        rows.append(f"{i},{x},{y}")
    csv.write_text("\n".join(rows) + "\n")

    out = str(tmp_path / "out")
    rc = main(["--input", str(csv), "--k", "2", "--max-iters", "10",
               "--output", out])
    assert rc == 0
    got = {r.vec_id: r.cluster_id for r in spark.read.parquet(out).collect()}
    a_clusters = {got[i] for i, _, _ in near_a}
    b_clusters = {got[i] for i, _, _ in near_b}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters


def test_tool_csv_rejects_non_numeric_ids(spark, tmp_path):
    """Non-numeric ids must fail loudly, not silently become NULL
    vec_ids (review r6: batch output carried NULL rows; streaming
    replay silently dropped them)."""
    import pytest

    from flink_streaming_kmeans_spark.tool import main

    csv = tmp_path / "bad.csv"
    csv.write_text("id,x,y\nabc,1.0,2.0\n7,3.0,4.0\n")
    with pytest.raises(SystemExit, match="not a number"):
        main(["--input", str(csv), "--k", "2", "--output",
              str(tmp_path / "out")])


def test_tool_stream_fewer_points_than_batches(spark, tmp_path):
    """--stream with more batches than points must clamp, not raise
    (review r6: the pmod split errored on any empty residue class)."""
    from flink_streaming_kmeans_spark.tool import main

    csv = tmp_path / "tiny.csv"
    csv.write_text("id,x,y\n1,1.0,0.0\n2,5.0,0.0\n3,5.1,0.1\n")
    out = str(tmp_path / "out")
    rc = main(["--input", str(csv), "--k", "2", "--stream",
               "--stream-batches", "5", "--output", out])
    assert rc == 0
    assert spark.read.parquet(out).count() == 3


def test_tool_csv_kmeans_parallel_init_finds_every_group(spark, tmp_path, capsys):
    """--init kmeans|| on raw lat/lon CSV must find the k groups. Init
    needs the true Euclidean distance here: the unit-vector form
    2 − 2·dot puts every raw point at d² = 0 from the first candidate,
    which ends init with one centre and one cluster."""
    import numpy as np

    from flink_streaming_kmeans_spark.tool import main

    rng = np.random.default_rng(3)
    centres = np.array([[40.71, -74.01], [40.78, -73.97], [40.68, -73.94]])
    pts = centres[np.arange(600) % 3] + 0.004 * rng.standard_normal((600, 2))
    csv = tmp_path / "rides.csv"
    csv.write_text(
        "id,lat,lon\n" + "".join(f"{i},{a:.6f},{b:.6f}\n" for i, (a, b) in enumerate(pts))
    )
    rc = main(["--input", str(csv), "--format", "csv", "--k", "3",
               "--init", "kmeans||", "--output", str(tmp_path / "out")])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_points"] == 600
    assert sorted(summary["clusters"].values()) == [200, 200, 200], summary
