"""Table loader for the driver-generated parquet test tables.

Reference analog: the Flink demo's file source (KMeansTool.java,
expected — see SURVEY.md §1.1; checkout was empty) parsed text lines
into Feature POJOs. Our engine's ingest is declarative
``spark.read.parquet`` so Catalyst gets predicate pushdown + column
pruning for free; at 100 TB the same loader points at a partitioned
parquet lake and pushdown/pruning do the heavy lifting.

The one imperative fix-up: ``events.ts`` is INT64 TIMESTAMP(NANOS) in
parquet, which Spark reads as bigint ns (with the nanosAsLong conf).
We convert with integer division (``ts DIV 1000``) — NOT float
division — so the ns→µs mapping is exact truncation, bit-identical to
DuckDB's TIMESTAMP_NS→TIMESTAMP cast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-side frame WITHOUT the Python-RDD execution path.

    ``spark.createDataFrame(list_of_rows, ...)`` parallelizes pickled
    rows into a Python RDD, so every downstream job spins Python
    workers — measured ~4 s PER WRITE for a 2-row sentinel frame
    (local[32], this container), which dominated the streaming-drive
    wall time. Routing the same rows through pandas + Arrow yields a
    JVM-side local relation: the identical 2-row write drops to
    ~0.15 s. Semantics are pinned by the explicit ``schema`` (DDL
    string or StructType) either way; all call sites are hash-checked,
    so any conversion drift fails preflight loudly.

    Falls back to the plain row-list path if the Arrow conversion
    rejects the values (e.g. exotic nested types), and — the silent
    hazards — when a float/double field carries a None OR a NaN:
    pandas uses NaN as its missing-value sentinel in both directions,
    so a None becomes NaN and (the r6 NaN-sweep find, via
    q_stream_tumble) a REAL NaN becomes SQL NULL on conversion. The
    row-list path preserves both faithfully; the guard routes any
    row set containing either through it.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, FloatType

    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    struct = spark.createDataFrame([], schema).schema
    float_idx = [
        i
        for i, f in enumerate(struct.fields)
        if isinstance(f.dataType, (DoubleType, FloatType))
    ]
    if any(
        r[i] is None or r[i] != r[i] for r in rows for i in float_idx
    ):
        return spark.createDataFrame(rows, schema)
    try:
        pdf = pd.DataFrame.from_records(
            [tuple(r) for r in rows], columns=struct.fieldNames()
        )
        return spark.createDataFrame(pdf, struct)
    except Exception:
        return spark.createDataFrame(rows, schema)


# Inferred-schema memo for the SOURCE tables, keyed on
# (realpath, mtime_ns): every load_table call used to run parquet
# schema INFERENCE (a driver-side footer read per plan build — guide
# §6: "inference is an extra listing pass", the same reason
# q_sink_partitioned re-reads with an explicit schema). The suite
# builds ~370 source frames per bench pass, so the repeated inference
# was a volume-independent planning cost on every query. The memo
# holds only the StructType (never data, never results — each query
# still scans the parquet bytes in full); the mtime_ns key drops the
# entry if a table file is ever regenerated in-process. At 100 TB the
# analogous fix is a catalog table whose schema lives in the
# metastore/manifest instead of being re-inferred per query.
_SCHEMA_CACHE: dict[tuple[str, int], object] = {}


def _read_source(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the inferred schema memoized per
    (realpath, mtime_ns) — see _SCHEMA_CACHE."""
    try:
        key = (os.path.realpath(path), os.stat(path).st_mtime_ns)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; normalizes events.ts to TIMESTAMP (µs).

    Generated data has shipped ts as INT64 TIMESTAMP(NANOS) (reads as
    bigint ns under nanosAsLong → exact integer truncation to µs) and
    as timestamp[us] with isAdjustedToUTC=false (reads as
    timestamp_ntz → cast to ltz, identity under the UTC session).
    Normalizing HERE matters for more than hygiene: an ntz column
    makes every downstream timestamp comparison insert a per-row
    cast(ntz→ltz) — measured 10× on q_join_range's nested-loop
    condition (72M evaluations) — and ntz/ltz schema drift would break
    result-schema stability across data regenerations."""
    ensure_confs(spark)
    df = _read_source(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def fan_out(
    df: DataFrame, n: int | None = None, by: str | list[str] | None = None
) -> DataFrame:
    """Restore parallelism for a compute-bound small input.

    A small table stored as one parquet file scans as ONE partition, so
    any heavy per-row/per-pair compute downstream (all-pairs dot
    products, shingle explosion, SimHash bit votes) serializes onto a
    single core — measured 12× on q_dedup_embed at sf0.1 (8.1 s → 0.67 s
    after a 32-way repartition). At 100 TB the lake has thousands of
    row-group splits and this is a no-op concern; the round-robin
    repartition here is the local-mode equivalent of that natural split
    fan-out. Semantics are unchanged (row-level map/agg downstream).

    Only use where downstream work per row is large; for plain scans the
    extra shuffle is pure cost.

    ``by``: when the downstream work is KEYED (groupBy / window /
    dropDuplicates whose keys all contain these columns), hash-
    partition on them instead of round-robin: hashpartitioning(by)
    satisfies every downstream ClusteredDistribution whose keys are a
    superset, so the explode/aggregate chain runs WITHOUT further
    exchanges (guide §2.4 "two operations keyed the same way share one
    exchange"; measured on the shingle-set build: 1.2 s → 0.33 s at
    sf0.1, 3 exchanges → 1). Hash-by-key is also deterministic under
    task retry where round-robin needs its sort-before-repartition
    guard (guide §2.5). Only key it when the key's cardinality ≫ n
    (docs/vecs here: 5000/2000 ≫ 32); a low-cardinality key would
    recreate the single-task hazard fan_out exists to fix.
    """
    n = n or df.sparkSession.sparkContext.defaultParallelism
    if by is not None:
        cols = [by] if isinstance(by, str) else list(by)
        return df.repartition(n, *cols)
    return df.repartition(n)

