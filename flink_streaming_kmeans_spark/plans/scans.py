"""§2.1 Scans / sources / sinks.

Reference analog: the Flink demo's file source + collecting sink
(KMeansTool.java, expected — SURVEY.md §1.1 [PK]). Here sources are
declarative parquet scans so Catalyst applies column pruning and
predicate pushdown (q_scan_pruned's plan shows PushedFilters +
a 2-column ReadSchema — the 100 TB win: scan only what the query
touches).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.vector import dsumr, sql_dsumr
from ..session import scratch_path
from ..sources.loader import load_table
from .registry import register


@register(
    "q_scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def q_scan_parquet(spark, sf_dir):
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "q_scan_pruned",
    oracle="""
    SELECT l_orderkey, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    """,
)
def q_scan_pruned(spark, sf_dir):
    # Column-pruned + predicate-pushed scan: ReadSchema carries only the
    # 2 projected columns plus the shipdate filter column, and the filter
    # lands in PushedFilters.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_quantity")
    )


@register(
    "q_sink_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt
    FROM lineitem
    WHERE l_quantity > 25
    GROUP BY l_returnflag
    """,
)
def q_sink_roundtrip(spark, sf_dir):
    # Parquet sink + re-read: proves the write path (the reference's sink
    # analog). The oracle recomputes from the source table.
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 25)
    # Unique per-invocation dir: concurrent runs at the same scale factor
    # must not overwrite each other between the write and the re-read.
    out = scratch_path("rt")
    li.select("l_orderkey", "l_returnflag", "l_quantity").write.mode(
        "overwrite"
    ).parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q_sink_partitioned",
    oracle=f"""
    SELECT l_linestatus, COUNT(*) AS cnt,
           {sql_dsumr('l_quantity')} AS sum_qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def q_sink_partitioned(spark, sf_dir):
    """Hive-style partitioned parquet sink + partition-pruned re-read:
    write lineitem partitioned by l_returnflag, read back only the 'R'
    partition. The re-read scan's PartitionFilters prune at the
    directory level — at 100 TB this is the difference between scanning
    one partition and scanning the lake (tests/test_storage.py asserts
    the pruning). The oracle recomputes from the source table."""
    li = load_table(spark, sf_dir, "lineitem")
    out = scratch_path("part")
    li.select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity").write.mode(
        "overwrite"
    ).partitionBy("l_returnflag").parquet(out)
    # Explicit schema on re-read (same rule as the CSV source): schema
    # inference is an extra listing+footer pass at 100 TB, and an EMPTY
    # partitioned write leaves zero footers to infer from (the empty-
    # input sweep hit exactly that). Partition discovery still runs —
    # l_returnflag comes from the directory names and the pruning
    # filter below stays a PartitionFilter.
    back = spark.read.schema(
        "l_orderkey bigint, l_linestatus string, l_quantity double, "
        "l_returnflag string"
    ).parquet(out).where(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsumr("l_quantity").alias("sum_qty"),
    )


@register(
    "q_source_csv",
    oracle=f"""
    SELECT s_nationkey, COUNT(*) AS n_suppliers,
           {sql_dsumr('s_acctbal')} AS sum_bal
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q_source_csv(spark, sf_dir):
    """CSV source round-trip — the reference's ingest is text-file
    based (KMeansTool's feature files, SURVEY.md §1.1 [PK]), so a CSV
    scan is its most direct analog. Write supplier as headered CSV,
    re-read with an EXPLICIT schema (schema inference is a full extra
    pass at 100 TB — never rely on it), aggregate. Doubles survive
    exactly: Spark writes shortest round-trip repr. Oracle recomputes
    from parquet, proving the text round-trip is lossless.

    LAW 44 (probed, pinned in tests/test_sources.py::
    test_csv_null_vs_empty_law): the lossless claim has ONE carve-out
    inherent to the format — under default options an empty STRING is
    written as an unquoted empty field and read back as NULL
    (nullValue="" on read), and no quoting option recovers it; an
    in-band sentinel (nullValue='\\N', the MySQL convention) restores
    the NULL/'' distinction but then a LITERAL '\\N' value collides
    with the sentinel (the writer does not escape it). NUL bytes,
    CRLF, embedded quotes/commas, 10 KB values all survive exactly
    (probed). This query's output carries no string column, so the
    registered hash is unaffected either way; the law is the contract
    a name-emitting CSV pipeline must know."""
    s = load_table(spark, sf_dir, "supplier")
    out = scratch_path("csv")
    s.write.mode("overwrite").option("header", True).csv(out)
    # multiLine: the writer correctly QUOTES a name containing a
    # newline, but the default reader is line-split and shreds that
    # record into two corrupt rows (r6 degenerate sweep — the row's
    # acctbal silently moved to a NULL-keyed group). The cost is that
    # multiline CSV files are not byte-splittable — one task per file
    # at 100 TB — which is one more reason the lake format is parquet
    # and CSV is an ingest edge.
    back = spark.read.schema(
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ).option("header", True).option("multiLine", True).csv(out)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        dsumr("s_acctbal").alias("sum_bal"),
    )


@register(
    "q_source_jsonl",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_source_jsonl(spark, sf_dir):
    """JSON-lines source round-trip with explicit schema on re-read
    (same rationale as q_source_csv; JSONL is the other ubiquitous
    training-data interchange format)."""
    n = load_table(spark, sf_dir, "nation")
    out = scratch_path("jsonl")
    n.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey int"
    ).json(out)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )
