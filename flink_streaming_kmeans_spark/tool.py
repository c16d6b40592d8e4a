"""CLI entry point — the KMeansTool analog.

Reference analog: KMeansTool.main (expected path src/main/java/com/
scaleunlimited/flinkkmeans/KMeansTool.java — SURVEY.md §3.1 [PK];
checkout was empty): parse CLI options (input file, k, parallelism),
build the streaming topology, run, emit assignments. The public demo
clustered NYC bike-share ride start points from text lines; the web
map sink is explicitly out of scope (SURVEY.md §7).

Ours: read points from CSV text lines (``id,x,y``-style numeric
columns, the reference's ingest) or a parquet embeddings table
(``vec_id, embedding array<float>``), run Lloyd's k-means
(operators/kmeans.py — the same scalable mapInArrow iteration the
registered queries use), write ``(vec_id, cluster_id)`` parquet, and
print a one-line JSON summary.

Usage:
    python -m flink_streaming_kmeans_spark.tool \
        --input /root/testdata/sf0.001/embeddings.parquet \
        --k 10 --max-iters 20 --output /tmp/assignments
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="flink_streaming_kmeans_spark.tool",
        description="K-means clustering over points (CSV) or embeddings (parquet).",
    )
    p.add_argument("--input", required=True, help="CSV dir/file or parquet path")
    p.add_argument(
        "--format",
        choices=["auto", "csv", "parquet"],
        default="auto",
        help="input format (auto: .parquet suffix → parquet, else csv)",
    )
    p.add_argument(
        "--no-header",
        action="store_true",
        help="CSV input has no header row (headerless id,x,y,... lines)",
    )
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--max-iters", type=int, default=20)
    p.add_argument(
        "--init",
        choices=["first-k", "kmeans||"],
        default="first-k",
        help="centroid init: deterministic first-k ids (reference-"
        "faithful) or scalable k-means|| oversampling (Bahmani) by exact "
        "Euclidean distance, reduced by a deterministic weighted "
        "farthest-first pass with no random restarts",
    )
    p.add_argument("--output", required=True, help="output parquet dir")
    p.add_argument(
        "--parallelism",
        type=int,
        default=None,
        help="shuffle partitions (default: session setting)",
    )
    p.add_argument(
        "--stream",
        action="store_true",
        help="run the STREAMING topology (the reference KMeansTool's "
        "shape): replay the input as micro-batch files through a "
        "Structured Streaming query with online MacQueen updates "
        "(streaming/kmeans.py) instead of batch Lloyd iterations",
    )
    p.add_argument(
        "--stream-batches",
        type=int,
        default=5,
        help="number of micro-batches for --stream (default 5)",
    )
    p.add_argument(
        "--reassign",
        action="store_true",
        help="with --stream: keep per-point assignment memory and "
        "subtract a reassigned point's old contribution (the "
        "reference co-operator's Feature add/remove arithmetic)",
    )
    return p


def load_points(spark, path: str, fmt: str, header: bool = True):
    """Load points as (vec_id bigint, embedding array<float>).
    Returns (df, resolved_fmt)."""
    if fmt == "auto":
        fmt = "parquet" if path.rstrip("/").endswith(".parquet") else "csv"
    if fmt == "parquet":
        df = spark.read.parquet(path)
        if "vec_id" not in df.columns or "embedding" not in df.columns:
            raise SystemExit(
                "parquet input must have columns (vec_id, embedding); "
                f"got {df.columns}"
            )
        return df.select("vec_id", "embedding"), fmt
    # CSV text lines: first column is the id, the rest are coordinates
    # (the reference parsed "lat,lon"-style lines into Feature POJOs).
    df = spark.read.option("header", header).option("inferSchema", True).csv(path)
    id_col, *coord_cols = df.columns
    if not coord_cols:
        raise SystemExit("csv input needs an id column plus >=1 coordinate column")
    pts = df.select(
        # try_cast: ANSI cast would throw a bare JVM NumberFormat
        # exception mid-job; NULL + the count below gives an
        # actionable message instead (review r6).
        F.col(id_col).try_cast("bigint").alias("vec_id"),
        F.array(*[F.col(c).cast("float") for c in coord_cols]).alias("embedding"),
    )
    # Fail loudly on non-numeric ids: the silent bigint-cast-to-NULL
    # corrupted batch output and VANISHED rows from the streaming
    # replay (NULL pmod partition is never copied) — review r6.
    n_bad = pts.where(F.col("vec_id").isNull()).count()
    if n_bad:
        raise SystemExit(
            f"csv input has {n_bad} rows whose id column ('{id_col}') is "
            "not a number — ids must be integers (did you mean to drop "
            "--no-header, or is there a header row without --header?)"
        )
    return pts, fmt


def main(argv: list[str] | None = None) -> int:
    from .operators.kmeans import first_k_init, kmeans_parallel_init, lloyd_iterate
    from .session import get_spark

    args = build_arg_parser().parse_args(argv)
    spark = get_spark("kmeans-tool")
    if args.parallelism:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.parallelism))

    pts, fmt = load_points(
        spark, args.input, args.format, header=not args.no_header
    )
    # CSV inputs are raw coordinates (the reference's lat/lon lines):
    # cluster by TRUE Euclidean distance via the ||c||²/2 score bias
    # (operators/kmeans._euclid_bias — review r6: plain argmax-dot let
    # large-magnitude centroids absorb everything on non-unit data).
    # Parquet embeddings keep the unit-vector dot contract.
    euclidean = fmt == "csv"
    # One cache across init and the fit, which matters only above the
    # driver budget: there both use a cached input as is and leave it
    # cached (operators/kmeans._FitInput). Within it the gate's one
    # bounded collect of this same ``pts`` serves init and the fit.
    pts = pts.persist()
    try:
        init = (
            kmeans_parallel_init(pts, k=args.k)
            if args.init == "kmeans||"
            else first_k_init(pts, k=args.k)
        )
        extra: dict = {}
        if args.stream:
            assigned, extra = _run_streaming(spark, pts, args, init, euclidean)
        else:
            assigned = lloyd_iterate(
                spark, pts, k=args.k, max_iter=args.max_iters, init=init,
                euclidean=euclidean,
            )
        assigned.write.mode("overwrite").parquet(args.output)
    finally:
        pts.unpersist()

    back = spark.read.parquet(args.output)
    sizes = {
        int(r.cluster_id): int(r.n)
        for r in back.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "n_points": sum(sizes.values()),
                "k": args.k,
                "clusters": sizes,
                "output": args.output,
                **extra,
            },
            sort_keys=True,
        )
    )
    return 0


def _run_streaming(spark, pts, args, init, euclidean=False):
    """KMeansTool's streaming topology: micro-batch replay through a
    file-source Structured Streaming query + online MacQueen state
    (streaming/kmeans.py). Returns (materialized assignments DataFrame,
    summary); every file it wrote is gone by then."""
    import os
    import shutil

    from .operators.kmeans import assign_fitted
    from .sources.replay import replay_stream, run_available_now, stage_time_batches
    from .session import scratch_path
    from .streaming.kmeans import StreamingKMeans

    d = scratch_path("tool_stream")
    try:
        skm = StreamingKMeans(
            *init, track_assignments=args.reassign,
            assign_dir=os.path.join(d, "assign"), euclidean=euclidean,
        )
        # Contiguous ntile ranges over vec_id order. The staging write
        # clamps the batch count to the point count, so no batch is
        # empty even with fewer points than batches (review r6).
        in_dir, _ = stage_time_batches(
            pts, d, max(1, args.stream_batches), order_cols=("vec_id",)
        )
        run_available_now(
            replay_stream(spark, in_dir, pts.schema)
            .writeStream.foreachBatch(skm.foreach_batch()),
            "--stream",
            spark,
            timeout=600,
            # Honor the user's knob inside the scoped streaming run —
            # run_available_now pinned its own default otherwise
            # (review r6).
            partitions=args.parallelism or 4,
        )
        if args.reassign:
            # Assignment memory IS the result (reference keyed state),
            # read from the parquet state table, never collected.
            assigned = skm.assign_df(spark).select(
                "vec_id", F.col("cid").alias("cluster_id")
            ).localCheckpoint(eager=True)
        else:
            assigned = assign_fitted(pts, skm.C, skm.cids, euclidean)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return assigned, {
        "mode": "stream",
        "batches_seen": skm.batches_seen,
        "reassign": bool(args.reassign),
    }


if __name__ == "__main__":
    sys.exit(main())
