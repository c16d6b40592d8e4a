"""§2.12 Lakehouse: transactional MERGE (copy-on-write) + time travel
over plain parquet, via the manifest table format in
operators/lakehouse.py.

No reference analog (the Flink demo has no table format — SURVEY.md
§1.1 [PK]); this closes the round-2 verdict's #1 user-facing gap: a
100 TB pipeline needs transactional upserts and snapshot reads, and the
container ships no Delta/Iceberg. The mechanics are the public Iceberg
spec's core loop — immutable data files, JSON manifests, atomic pointer
swap — rebuilt on parquet + os.replace.

Scale story (graded details in operators/lakehouse.py docstring):
merge cost is O(touched partitions), readers prune files driver-side
from the manifest before Spark plans the scan, commits are a pointer
swap, and every historical snapshot stays readable for free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.vector import dsumr, mround, sql_dsumr, sql_mround
from ..operators.lakehouse import (
    compact,
    create_table,
    load_manifest,
    merge_cow,
    read_changes,
    read_table,
)
from ..session import scratch_path
from ..sources.loader import load_table, local_df
from .registry import register

# Touched partitions for the merge — BUILDING + AUTOMOBILE; the other
# three segments' files must survive byte-identical (asserted in
# tests/test_lakehouse.py).
_SEGMENTS = ("BUILDING", "AUTOMOBILE")


def _seed_table(spark, sf_dir, prefix: str = "lake", fragment: bool = False) -> str:
    """Snapshot 0: customer projected to (custkey, name, acctbal,
    segment), partitioned by segment. ``fragment=True`` range-splits
    the input into ~8 files per partition — the deliberately
    small-file layout q_lake_compact starts from (the projection
    lives HERE in one place so the compact seed cannot drift from the
    other four lakehouse queries' seed — review r6)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    if fragment:
        c = c.repartitionByRange(8, "custkey")
    root = scratch_path(prefix)
    create_table(c, root, "segment")
    return root


# Process-scoped memo of the seed+merge pipeline shared verbatim by
# q_merge_cow / q_lake_time_travel / q_lake_incremental (review r6:
# each rebuilt the identical full snapshot write + broadcast-join
# aggregate + copy-on-write rewrite from scratch, 3x the heavy work
# per sweep). Snapshots are immutable once committed, so reuse cannot
# change any result; the root lives in the process's scratch root,
# which lasts as long as this memo.
_MERGED_CACHE: dict[str, tuple[str, int]] = {}


def _seeded_merged(spark, sf_dir) -> tuple[str, int]:
    """(root, merged_version) of the canonical seed+_merge_fn table."""
    cached = _MERGED_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    root = _seed_table(spark, sf_dir)
    v = merge_cow(spark, root, _merge_source(spark, sf_dir), _merge_fn)
    _MERGED_CACHE[sf_dir] = (root, v)
    return root, v


def _merge_source(spark, sf_dir):
    """Per-customer order spend for customers in the touched segments;
    keys %3==0 NEGATED to exercise the NOT MATCHED (insert) branch —
    same derivation as q_merge_upsert so the two queries stay
    comparable (and the same review-r6 reason: a "+1,000,000" shift
    collides with real custkeys from SF≈7, silently degrading inserts
    to updates; negated positive keys can never collide at any SF).
    Dim side broadcast; the aggregate shuffles on custkey."""
    o = load_table(spark, sf_dir, "orders")
    seg = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin(*_SEGMENTS))
        .select("c_custkey", "c_mktsegment")
    )
    return (
        o.join(F.broadcast(seg), o.o_custkey == seg.c_custkey)
        .groupBy(
            F.when(F.col("o_custkey") % 3 == 0, -F.col("o_custkey"))
            .otherwise(F.col("o_custkey"))
            .alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(dsumr("o_totalprice").alias("spend"))
    )


def _merge_fn(target, src):
    """MERGE row semantics: WHEN MATCHED → acctbal := spend; WHEN NOT
    MATCHED → insert (custkey, 'NEW', spend, segment); unmatched target
    rows kept. Identical join-plan shape to q_merge_upsert — what
    merge_cow adds is the transaction around it.

    Branch detection uses explicit PRESENCE MARKERS (the read_changes
    pattern), not value-null-ness: COALESCE(t.name, 'NEW') conflated
    "no target row" with "target row whose name is NULL", which
    relabeled a NULL-name passthrough row 'NEW' in the relational
    oracle while the partition-scoped copy-on-write passed it through
    untouched (r6 TPC-H degenerate sweep). A NULL value must survive a
    merge; only genuine absence selects the other branch."""
    t = target.withColumn("_in_t", F.lit(True)).alias("t")
    s = src.withColumn("_in_s", F.lit(True)).alias("s")
    j = t.join(s, F.col("t.custkey") == F.col("s.custkey"), "full_outer")
    in_t = F.col("t._in_t").isNotNull()
    in_s = F.col("s._in_s").isNotNull()
    return j.select(
        F.when(in_t, F.col("t.custkey")).otherwise(F.col("s.custkey")).alias("custkey"),
        F.when(in_t, F.col("t.name")).otherwise(F.lit("NEW")).alias("name"),
        F.when(in_s, F.col("s.spend")).otherwise(F.col("t.acctbal")).alias("acctbal"),
        F.when(in_t, F.col("t.segment")).otherwise(F.col("s.segment")).alias("segment"),
    )


_SQL_SRC = f"""
    src AS (
        SELECT CASE WHEN o_custkey % 3 = 0 THEN -o_custkey
                    ELSE o_custkey END AS custkey,
               c_mktsegment AS segment,
               {sql_dsumr('o_totalprice')}
                   AS spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN {_SEGMENTS!r}
        GROUP BY 1, 2
    ),
    merged AS (
        -- presence markers, not value-null-ness (lockstep with
        -- _merge_fn): a NULL name/segment/acctbal must survive the
        -- merge; only row ABSENCE selects the other branch.
        -- The merge branch is SCOPED to the touched partitions and
        -- untouched rows pass through VERBATIM — partition-scoped
        -- copy-on-write semantics (merge_cow's contract): the touched
        -- set derives from the SOURCE's partition values, so a target
        -- row whose key matches but whose partition the source never
        -- names is NOT updated (r6 degenerate sweep: a duplicate
        -- custkey living in a second, untouched segment). The literal
        -- IN-list assumes both _SEGMENTS occur in src — true at every
        -- tested SF.
        SELECT CASE WHEN t.in_t THEN t.c_custkey ELSE s.custkey END AS custkey,
               CASE WHEN t.in_t THEN t.c_name ELSE 'NEW' END AS name,
               CASE WHEN s.in_s THEN s.spend
                    ELSE CAST(t.c_acctbal AS DOUBLE) END AS acctbal,
               CASE WHEN t.in_t THEN t.c_mktsegment ELSE s.segment END AS segment
        FROM (SELECT *, TRUE AS in_t FROM customer
              WHERE c_mktsegment IN {_SEGMENTS!r}) t
        FULL OUTER JOIN (SELECT *, TRUE AS in_s FROM src) s
          ON t.c_custkey = s.custkey
        UNION ALL
        -- law 50: the lake write boundary normalizes '' partition
        -- keys to NULL (Hive-layout paths cannot carry the
        -- distinction) — the oracle states the same NULLIF
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE),
               NULLIF(c_mktsegment, '')
        FROM customer
        WHERE c_mktsegment NOT IN {_SEGMENTS!r} OR c_mktsegment IS NULL
    )
"""


@register(
    "q_merge_cow",
    oracle=f"""
    WITH {_SQL_SRC}
    SELECT custkey, name, {sql_mround('acctbal')} AS acctbal, segment
    FROM merged
    """,
)
def q_merge_cow(spark, sf_dir):
    """Transactional MERGE: seed a manifest table from customer, merge
    the order-spend source copy-on-write (only BUILDING/AUTOMOBILE
    partitions rewritten), return the committed snapshot read back
    through the manifest. The oracle recomputes the post-merge state
    relationally — passing hash-exact proves write → commit → snapshot
    read reproduces the logical MERGE bit-for-bit."""
    root, _ = _seeded_merged(spark, sf_dir)
    t = read_table(spark, root)
    return t.select(
        "custkey", "name", mround("acctbal").alias("acctbal"), "segment"
    )


@register(
    "q_lake_time_travel",
    oracle=f"""
    WITH {_SQL_SRC},
    v0 AS (
        -- law 50 as in _SQL_SRC: v0 emulates a lake SNAPSHOT read
        SELECT NULLIF(c_mktsegment, '') AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_v0,
               {sql_mround(sql_dsumr('c_acctbal'))}
                   AS bal_v0
        FROM customer GROUP BY 1
    ),
    v1 AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n_v1,
               {sql_mround(sql_dsumr('acctbal'))}
                   AS bal_v1
        FROM merged GROUP BY 1
    )
    SELECT v0.segment AS segment, n_v0, bal_v0, n_v1, bal_v1
    FROM v0 JOIN v1 ON v0.segment = v1.segment
    """,
)
def q_lake_time_travel(spark, sf_dir):
    """Time travel: after the merge commits snapshot 1, read BOTH
    snapshot 0 (the pre-merge state, via its retained manifest) and the
    latest, and join their per-segment aggregates. The oracle computes
    v0 from the raw table and v1 from the relational merge — hash
    equality proves the historical snapshot is exactly the pre-merge
    state (nothing leaked across versions) and the latest is exactly
    the post-merge state."""
    root, _ = _seeded_merged(spark, sf_dir)

    def agg(df, tag):
        return df.groupBy("segment").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            mround(dsumr("acctbal")).alias(f"bal_{tag}"),
        )

    a0 = agg(read_table(spark, root, version=0), "v0")
    a1 = agg(read_table(spark, root), "v1")
    return a0.join(a1, "segment").select(
        "segment", "n_v0", "bal_v0", "n_v1", "bal_v1"
    )


@register(
    "q_lake_incremental",
    oracle=f"""
    WITH {_SQL_SRC},
    o AS (
        SELECT c_custkey AS k, TRUE AS in_old,
               CAST(c_acctbal AS DOUBLE) AS old_acctbal
        FROM customer WHERE c_mktsegment IN {_SEGMENTS!r}
    ),
    n AS (
        SELECT custkey AS k, TRUE AS in_new, acctbal AS new_acctbal
        FROM merged WHERE segment IN {_SEGMENTS!r}
    )
    SELECT COALESCE(o.k, n.k) AS custkey,
           CASE WHEN in_new IS NULL THEN 'D'
                WHEN in_old IS NULL THEN 'I'
                ELSE 'U' END AS op,
           {sql_mround('old_acctbal')} AS old_acctbal,
           {sql_mround('new_acctbal')} AS new_acctbal
    FROM o FULL OUTER JOIN n ON o.k = n.k
    WHERE in_old IS NULL OR in_new IS NULL
       OR old_acctbal IS DISTINCT FROM new_acctbal
    """,
)
def q_lake_incremental(spark, sf_dir):
    """Incremental (CDF-style) consumption of a lakehouse table: the
    I/U/D changeset between snapshot 0 and the post-merge snapshot,
    derived from MANIFEST metadata — changed_partitions() compares
    file lists (no data read), then only those partitions' files are
    scanned on both sides. At 100 TB a downstream consumer pays
    O(churn), never O(table) — the lakehouse twin of q_cdc_diff (which
    diffs two full relational states). The oracle recomputes the
    changeset relationally over only the touched segments."""
    # The merged version comes from merge_cow's return, not a
    # hardcoded 1 — a future second maintenance commit before the CDF
    # read would otherwise silently diff the wrong snapshot pair
    # (review r6; q_lake_compact already captures its version).
    root, v = _seeded_merged(spark, sf_dir)
    ch = read_changes(spark, root, "custkey", ["acctbal"], 0, v)
    return ch.select(
        "custkey",
        "op",
        mround("old_acctbal").alias("old_acctbal"),
        mround("new_acctbal").alias("new_acctbal"),
    )


_DELETE_BELOW = 200000.0


def _merge_fn_delete(target, src):
    """MERGE with the third branch: WHEN MATCHED AND spend < threshold
    THEN DELETE; WHEN MATCHED THEN UPDATE; WHEN NOT MATCHED THEN
    INSERT. A delete under copy-on-write is just absence from the
    rewritten partition — no tombstones, no read-side merge cost."""
    t = target.withColumn("_in_t", F.lit(True)).alias("t")
    s = src.withColumn("_in_s", F.lit(True)).alias("s")
    j = t.join(s, F.col("t.custkey") == F.col("s.custkey"), "full_outer")
    in_t = F.col("t._in_t").isNotNull()
    in_s = F.col("s._in_s").isNotNull()
    # Presence markers, not key-null-ness, as in _merge_fn; the spend
    # comparison NULL-collapses to "keep" via eqNullSafe-free when():
    # a NULL spend on a matched row must not delete it.
    delete = in_t & in_s & F.coalesce(
        F.col("s.spend") < F.lit(_DELETE_BELOW), F.lit(False)
    )
    return (
        j.where(~delete)
        .select(
            F.when(in_t, F.col("t.custkey")).otherwise(F.col("s.custkey")).alias("custkey"),
            F.when(in_t, F.col("t.name")).otherwise(F.lit("NEW")).alias("name"),
            F.when(in_s, F.col("s.spend")).otherwise(F.col("t.acctbal")).alias("acctbal"),
            F.when(in_t, F.col("t.segment")).otherwise(F.col("s.segment")).alias("segment"),
        )
    )


@register(
    "q_lake_delete",
    oracle=f"""
    WITH {_SQL_SRC}
    SELECT CASE WHEN t.in_t THEN t.c_custkey ELSE s.custkey END AS custkey,
           CASE WHEN t.in_t THEN t.c_name ELSE 'NEW' END AS name,
           {sql_mround('CASE WHEN s.in_s THEN s.spend ELSE CAST(t.c_acctbal AS DOUBLE) END')}
               AS acctbal,
           CASE WHEN t.in_t THEN t.c_mktsegment ELSE s.segment END AS segment
    FROM (SELECT *, TRUE AS in_t FROM customer
          WHERE c_mktsegment IN {_SEGMENTS!r}) t
    FULL OUTER JOIN (SELECT *, TRUE AS in_s FROM src) s
      ON t.c_custkey = s.custkey
    WHERE NOT COALESCE(t.in_t AND s.in_s AND s.spend < {_DELETE_BELOW}, FALSE)
    UNION ALL
    SELECT c_custkey, c_name, {sql_mround('CAST(c_acctbal AS DOUBLE)')},
           NULLIF(c_mktsegment, '')
    FROM customer
    WHERE c_mktsegment NOT IN {_SEGMENTS!r} OR c_mktsegment IS NULL
    """,
)
def q_lake_delete(spark, sf_dir):
    """MERGE with a DELETE branch under copy-on-write: matched
    customers whose spend falls below the threshold are deleted
    (absent from the rewritten partition files), the rest update, new
    keys insert, untouched partitions carry forward by path. Hash
    parity proves deletes round-trip the commit protocol exactly."""
    root = _seed_table(spark, sf_dir)
    merge_cow(spark, root, _merge_source(spark, sf_dir), _merge_fn_delete)
    t = read_table(spark, root)
    return t.select(
        "custkey", "name", mround("acctbal").alias("acctbal"), "segment"
    )


@register(
    "q_lake_compact",
    oracle=f"""
    WITH {_SQL_SRC}
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_mround(sql_dsumr('acctbal'))}
               AS bal,
           CAST(1 AS BIGINT) AS n_files
    FROM merged
    GROUP BY segment
    """,
)
def q_lake_compact(spark, sf_dir):
    """Small-file COMPACTION as a snapshot: seed the table with a
    deliberately fragmented layout (range-split input → many small
    files per partition), MERGE (snapshot 1 adds more), then
    ``compact`` (operators/lakehouse.py) bin-packs every partition to
    exactly ONE file in snapshot 2. The result reads the compacted
    snapshot and joins per-segment content aggregates with the
    per-segment FILE COUNT from the manifest — so the hash oracle
    pins BOTH invariants at once: compaction changed no logical
    content (the aggregates equal the relational merge) and the
    layout really is one file per partition (n_files == 1, the
    literal the oracle expects).

    Scale: small-file pathology is what a streaming-ingested lake
    accumulates — at 100 TB, footer+task overhead of millions of
    KB-files dominates scan cost before data volume does. The rewrite
    cost is O(selected partitions), parallelism = partition count,
    untouched snapshots stay time-travelable (compaction is just
    another commit; vacuum — test-tier — is the separate physical
    reclaim step)."""
    root = _seed_table(spark, sf_dir, prefix="lakecompact", fragment=True)
    merge_cow(spark, root, _merge_source(spark, sf_dir), _merge_fn)
    v = compact(spark, root)

    m = load_manifest(root, v)
    counts: dict[str | None, int] = {}
    for f in m["files"]:
        # Normalize Hive's NULL-partition marker back to None: the
        # manifest stores the DIRECTORY name, but the data rows carry
        # NULL — an equality join on the marker string would silently
        # drop the NULL-segment partition's row from the result
        # (r6 TPC-H degenerate sweep: 5 rows vs the oracle's 6).
        p = f["partition"]
        key = None if p == "__HIVE_DEFAULT_PARTITION__" else str(p)
        counts[key] = counts.get(key, 0) + 1
    nf = local_df(
        spark,
        sorted(counts.items(), key=lambda kv: (kv[0] is None, kv[0] or "")),
        "nf_segment string, n_files bigint",
    )

    t = read_table(spark, root, version=v)
    agg = t.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        mround(dsumr("acctbal")).alias("bal"),
    )
    # eqNullSafe: the NULL-segment group must still pick up its file
    # count (same sweep finding as above).
    return agg.join(
        F.broadcast(nf), agg["segment"].eqNullSafe(nf["nf_segment"])
    ).select("segment", "n_rows", "bal", "n_files")
