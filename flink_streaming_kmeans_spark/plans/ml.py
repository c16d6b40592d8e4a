"""§2.9 k-means queries — the reference's reason to exist.

Reference analog: the streaming k-means demo's assignment + incremental
centroid-update loop (KMeansClustering.java / Feature.java, expected —
SURVEY.md §1.1/§3.1 [PK]; checkout was empty). Here decomposed into
oracle-checkable batch Lloyd steps (operators/kmeans.py) plus a
rows-only full iteration; the true streaming variant (MacQueen
per-batch updates via foreachBatch) is test-tier in tests/.

q_ml_kmeans_assign is the flagship ``entry()`` query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.vector import emb_finite, mround, sql_davg, sql_mround
from ..operators.kmeans import (
    assign,
    first_k_init,
    init_centroids,
    lloyd_iterate,
    update,
)
from ..session import scratch_path
from ..sources.loader import fan_out, load_table, local_df
from ..sources.replay import batch_input_dir, replay_stream, run_available_now
from .registry import register

# Shared oracle CTE: one Lloyd assignment step in DuckDB — defined in
# operators/kmeans.py (a NON-registering module) because importing it
# from another plans module would fire that module's @register calls
# mid-import and shift the correctness window (review r6: llm.py's
# `from .ml import _ASSIGN_CTE` would have re-ordered registration in
# any rotation that fronts llm before ml).
from ..operators.kmeans import ASSIGN_CTE as _ASSIGN_CTE


@register(
    "q_ml_kmeans_assign",
    oracle=f"""
    {_ASSIGN_CTE}
    SELECT vec_id, CAST(cid AS INT) AS cluster_id,
           {sql_mround('1.0 - dot')} AS dist
    FROM ranked WHERE rn = 1
    """,
)
def q_ml_kmeans_assign(spark, sf_dir):
    """One Lloyd step, assignment half (flagship entry() query):
    centroids fixed to the 10 smallest-vec_id embeddings; every vector
    goes to the nearest centroid by cosine (== dot on unit vectors),
    ties to the lowest cluster id. dist = 1 - cosine."""
    e = load_table(spark, sf_dir, "embeddings").where(
        # vec_id isNotNull: the id IS the k-means entity key — lockstep
        # with ASSIGN_CTE's emb CTE (r7 NULL-entity-id probe)
        F.col("vec_id").isNotNull() & emb_finite("embedding")
    )
    # Keyed fan-out (r12, guide §2.4): assign()'s best-per-vector
    # window partitions by vec_id — hashpartitioning(vec_id) feeds it
    # exchange-free (measured 0.64 → 0.38 s at sf0.1, hash identical).
    a = assign(fan_out(e, by="vec_id"), init_centroids(e))
    return a.select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        mround(F.lit(1.0) - F.col("dot")).alias("dist"),
    )


@register(
    "q_ml_kmeans_update",
    oracle=f"""
    {_ASSIGN_CTE}, assigned AS (
        SELECT cid, embedding FROM ranked WHERE rn = 1
    )
    SELECT CAST(cid AS INT) AS cluster_id, CAST(t.range AS INT) AS dim,
           {sql_davg('embedding[CAST(t.range AS INT) + 1]::DOUBLE', 'c_val')}
    FROM assigned CROSS JOIN range(64) t
    GROUP BY cid, t.range
    """,
)
def q_ml_kmeans_update(spark, sf_dir):
    """One Lloyd step, update half: new centroid = per-dimension mean
    of assigned vectors (exact decimal summation + matched round)."""
    e = load_table(spark, sf_dir, "embeddings").where(
        # vec_id isNotNull: the id IS the k-means entity key — lockstep
        # with ASSIGN_CTE's emb CTE (r7 NULL-entity-id probe)
        F.col("vec_id").isNotNull() & emb_finite("embedding")
    )
    a = assign(fan_out(e, by="vec_id"), init_centroids(e))
    upd = update(a)  # (cid, dim, c_val) — c_val unrounded double
    return upd.select(
        F.col("cid").alias("cluster_id"),
        F.col("dim"),
        mround("c_val").alias("c_val"),
    )


@register("q_ml_kmeans_iter")  # rows-only: 20-iteration driver loop
def q_ml_kmeans_iter(spark, sf_dir):
    """Full Lloyd's to convergence (≤20 iters, deterministic init).
    Rows-only for the driver; tests/test_kmeans.py checks ≥0.95 label
    purity against embeddings.label ground truth and MLlib agreement."""
    e = load_table(spark, sf_dir, "embeddings").where(
        # vec_id isNotNull: the id IS the k-means entity key — lockstep
        # with ASSIGN_CTE's emb CTE (r7 NULL-entity-id probe)
        F.col("vec_id").isNotNull() & emb_finite("embedding")
    )
    # No fan_out here: each iteration is one vectorized numpy pass over
    # the persisted input, and at this row count 32-way task launch per
    # iteration costs more than it buys (measured 2.9 s → 4.5 s). At
    # real scale the lake's natural splits provide the parallelism.
    return lloyd_iterate(spark, e, k=10, max_iter=20)


@register("q_kmeans_stream")  # rows-only: streaming state, not SQL-expressible
def q_kmeans_stream(spark, sf_dir):
    """Streaming MacQueen k-means, driven end-to-end through a REAL
    Structured Streaming query — the reference demo's core behavior
    (continuous feature arrival, per-arrival incremental centroid
    motion) promoted from test-tier to a driver-recorded query.

    Deterministic drive: the embeddings table is split into 5 fixed
    micro-batch files by ``vec_id mod 5``, copied into the source dir
    in batch order with increasing mtimes; a file-source readStream
    taking one file per trigger + ``availableNow`` delivers exactly
    5 micro-batches to ``foreachBatch(StreamingKMeans)`` (one narrow
    mapInArrow pass of the shared k-means kernel per batch, k×P
    partial rows to the driver, MacQueen batch update —
    streaming/kmeans.py). Output: one
    row per centroid (cluster_id, n_points, centroid_norm) — k rows
    always, the rows-tier contract. No SQL oracle: iterative streaming
    state is outside DuckDB's model (SURVEY §2 rows-tier rule); Lloyd
    parity and checkpoint-restart are asserted in tests/test_streaming.
    """
    import numpy as np

    from ..streaming.kmeans import StreamingKMeans

    e = load_table(spark, sf_dir, "embeddings").where(
        # vec_id isNotNull: the id IS the k-means entity key — lockstep
        # with ASSIGN_CTE's emb CTE (r7 NULL-entity-id probe)
        F.col("vec_id").isNotNull() & emb_finite("embedding")
    ).select("vec_id", "embedding")
    skm = StreamingKMeans(*first_k_init(e))

    d = scratch_path("kstream")
    in_dir = batch_input_dir(
        e.withColumn("bno", F.pmod("vec_id", F.lit(5))), d, range(5)
    )

    run_available_now(
        replay_stream(spark, in_dir, e.schema)
        .writeStream.foreachBatch(skm.foreach_batch()),
        "q_kmeans_stream",
        spark,
    )

    rows = [
        (int(c), int(n), float(np.linalg.norm(C_row)))
        for c, n, C_row in zip(skm.cids, skm.n, skm.C)
    ]
    out = local_df(
        spark, rows, "cluster_id int, n_points bigint, centroid_norm double"
    )
    return out.select(
        "cluster_id", "n_points", mround("centroid_norm").alias("centroid_norm")
    ).orderBy("cluster_id")
