"""Build an ADVERSARIALLY-SKEWED K-times-scaled SF dir (r8 verdict
task 5: the x10/x100 rungs scale volume uniformly; real 100 TB pain is
key skew).

    python tools/make_skewed_dir.py /root/testdata/sf0.1 /tmp/fsk_skew10 10

Starts from make_scaled_dir's uniform K-fold union (same key-shift
scheme, same determinism), then plants one HEAD KEY per fact table
owning ~30% of its rows — the hot-entity regime every real event log
and order book degenerates into (one bot account, one wholesale
customer, one viral order):

- events:   rows with event_id %% 10 < 3 keep their shifted event_id
            (PK stays unique) but are REASSIGNED to the head user
            (copy-0 min user_id) — one user owns 30%% of all events,
            so every user_id shuffle (sessionization, stream-stream
            joins, retention, funnels) sees a hot partition.
- orders:   rows with o_orderkey %% 10 < 3 point o_custkey at the head
            customer (copy-0 min c_custkey) — customer-side joins and
            per-customer aggregates (tpch_q10/q18) see one customer
            with 30%% of the order book.
- lineitem: rows with l_orderkey %% 10 < 3 collapse l_orderkey to the
            head order (copy-0 min o_orderkey) — the orders⋈lineitem
            equi-join sees one join key carrying 30%% of the fact side.
            l_linenumber is re-sequenced within the head order so the
            (orderkey, linenumber) PK stays unique.

documents/embeddings are scaled uniformly (unchanged from
make_scaled_dir): the dedup/ANN families bucket by CONTENT hash, and
planting 30%% identical shingle sets would measure a fabricated
quadratic candidate-pair count, not the engine's shuffle behavior —
the content-skew story is q_dedup_cluster's star-contraction switch,
already pytest-pinned. Values and row order are deterministic; the
windowed lineitem rewrite's row-group cuts can still differ by a
vector between builds, so two builds are row-comparable, not
byte-comparable.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from make_scaled_dir import build as build_uniform  # noqa: E402

SKEW_FRACTION_PCT = 30  # head key owns ~30% of fact rows


def row_group_rows(n: int) -> int:
    """Rows per row group for an ``n``-row rewritten table: 131072 at
    the x10/x100 rungs, but about 8 row groups on a small build.
    DuckDB cuts row groups at its 2048-row vectors, so keep to those."""
    return min(131072, max(2048, n // 8 // 2048 * 2048))


def skew(src: str, dest: str, k: int, null_head: bool = False) -> None:
    """Uniform K-fold build into ``dest``, then plant the head keys.

    ``null_head=True`` plants NULL as the head key instead of a real
    one — the mass-NULL-key regime (a logging bug NULLs 30% of
    user_ids / FKs): one more adversarial axis, because NULL is
    simultaneously a GROUP (window partitions, group-bys collect all
    NULLs together — a 30%-of-the-table partition) and a NON-KEY
    (equi-joins drop it, dedup identity bypasses it), and the two
    roles must not blur at volume."""
    build_uniform(src, dest, k)
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")

    def head(table: str, col: str):
        if null_head:
            return "NULL"
        # copy-0 min key: exists in every scaled dim/fact by
        # construction (copy 0 is byte-identical to the source).
        return con.sql(
            f"SELECT min({col}) FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()[0]

    head_user = head("events", "user_id")
    head_cust = head("customer", "c_custkey")
    head_order = head("orders", "o_orderkey")

    def rewrite(table: str, select: str, key: str) -> None:
        # ORDER BY the source primary key (``s.`` binds the input
        # column, not a rewritten alias), so the head rows stay spread
        # over the whole file, and size the row groups from the row
        # count. Without both, a multi-threaded COPY picked the row
        # order and the row-group cut per run, and sometimes wrote the
        # x3 sf0.001 lineitem as ONE row group. A Parquet split is made
        # of whole row groups, so that scan ran as one map task and
        # skew_probe.aqe_skew_split_fires could not split the hot
        # partition: the tests/test_skew.py gate missed intermittently.
        p = os.path.join(dest, f"{table}.parquet")
        tmp = os.path.join(dest, f"_{table}.parquet")
        n = con.sql(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
        con.sql(
            f"COPY ({select.format(p=p)} ORDER BY {key}) TO '{tmp}' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {row_group_rows(n)})"
        )
        os.replace(tmp, p)

    rewrite("events", f"""
        SELECT event_id, ts,
               CASE WHEN event_id % 10 < 3 THEN {head_user}
                    ELSE user_id END AS user_id,
               event_type, value, props
        FROM read_parquet('{{p}}') AS s""", "s.event_id")

    rewrite("orders", f"""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 < 3 THEN {head_cust}
                    ELSE o_custkey END AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM read_parquet('{{p}}') AS s""", "s.o_orderkey")

    # Collapsed head-order rows get fresh line numbers so the
    # (l_orderkey, l_linenumber) PK stays unique table-wide.
    rewrite("lineitem", f"""
        SELECT CASE WHEN l_orderkey % 10 < 3 THEN {head_order}
                    ELSE l_orderkey END AS l_orderkey,
               l_partkey, l_suppkey,
               CASE WHEN l_orderkey % 10 < 3 THEN CAST(
                        1000 + row_number() OVER (
                            PARTITION BY (l_orderkey % 10 < 3)
                            ORDER BY l_orderkey, l_linenumber)
                        AS INT)
                    ELSE l_linenumber END AS l_linenumber,
               l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM read_parquet('{{p}}') AS s""", "s.l_orderkey, s.l_linenumber")

    con.close()


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--null-head"]
    null_head = "--null-head" in sys.argv[1:]
    src = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    dest = args[1] if len(args) > 1 else "/tmp/fsk_skewed_dir"
    k = int(args[2]) if len(args) > 2 else 10
    skew(src, dest, k, null_head=null_head)

    import pyarrow.parquet as pq

    for t, col in (("events", "user_id"), ("orders", "o_custkey"),
                   ("lineitem", "l_orderkey")):
        p = os.path.join(dest, f"{t}.parquet")
        n = pq.ParquetFile(p).metadata.num_rows
        con = duckdb.connect()
        top, cnt = con.sql(
            f"SELECT {col}, COUNT(*) FROM read_parquet('{p}') "
            f"GROUP BY 1 ORDER BY 2 DESC LIMIT 1"
        ).fetchone()
        con.close()
        print(f"{t}: {n} rows, head {col}={top} owns {100.0 * cnt / n:.1f}%")
    print(f"skewed dir ready: {dest} (x{k} of {src}, head~{SKEW_FRACTION_PCT}%)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
