"""Late round-5 coverage additions: ORC interop, the as-of join
family (forward / tolerance), PCA evidence, CEP pattern matching,
exact set-similarity at scale, and multi-table ANN.

- q_source_orc completes the source/sink format matrix (parquet /
  partitioned parquet / CSV / JSONL / gzip-JSONL were already
  driver-checked; ORC is the remaining columnar format Spark ships a
  native vectorized reader for — no extra package, same pushdown
  machinery as parquet).
- q_join_asof_fwd is the mirror of q_join_asof: "next at-or-after"
  instead of "most recent prior" — the lookup a pipeline does to
  attach the NEXT scheduled rollout/deploy/price-change to an event.
  Same operators/asof.py union+window construction (direction=
  "forward"), same single |L|+|R| shuffle; oracle is DuckDB's native
  ASOF with the inequality flipped.
- q_emb_pca registers the PCA operator (operators/pca.py, previously
  test-tier only) so it earns a driver row. Rows-tier by necessity:
  the oracle side cannot run an eigendecomposition in SQL (same
  class as q_ml_kmeans_iter's driver loop). Correctness is carried
  by tests/test_pca.py's numpy-parity tests; the registered query
  pins determinism by quantizing the projected coordinates.
- q_join_asof_tol bounds the as-of match with an attribution window
  (pandas merge_asof tolerance / kdb wj semantics): nearest-prior
  match discarded — not replaced — when it falls outside the window,
  so a post-filter on the single match is exactly equivalent and the
  plan stays the one-shuffle asof shape.

- q_evt_cep is the Flink-CEP-analog sequence-pattern match: strict
  (`next()`) contiguity counted with the integer replace-trick,
  relaxed (`followedBy()`) contiguity as a %-only LIKE — no regex
  engine is consulted, so the two engines cannot disagree.
- q_dedup_prefix is the EXACT set-similarity join at scale (prefix
  filtering, All-Pairs/PPJoin): zero false negatives by the
  pigeonhole bound, candidates generated by a rare-token equi-join
  instead of every shared token.
- q_sim_ann_multi upgrades q_sim_ann's single-table geometry to two
  independent LSH tables (union + dedup + exact re-rank) — the
  recall lever, previously test-tier only; a per-query dominance
  law vs the single table is test-asserted.

- q_vocab_typo is the FastSS deletion-neighborhood edit-distance
  join: lev<=1 candidates meet on shared single-deletion variants
  (complete by the deletion theorem), verified by the identical
  integer levenshtein DP in both engines; oracle stays the NAIVE
  all-pairs join over the scoped input.

- q_dq_expect is the declarative data-quality gate (deequ /
  dbt-test class): five expectation shapes with exact violation
  counts, two deliberately failing so zeros can't fake a pass.
- q_ml_score is batch model inference: a broadcast linear model
  scored all-integer (component quantization before the weighted
  sum — the decimal-cast trap hit and documented in its docstring).

WINDOW NOTE: INSIDE the round-6 correctness window (module registers
second). The canonical rotation plan lives in plans/registry.py next
to ``_MODULES``; do NOT add queries to this module while it is in
the window prefix.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import dsumr, emb_finite, sql_dsumr, sql_emb_finite, sql_mround
from ..session import scratch_path
from ..sources.loader import load_table
from .registry import register

# ---------------------------------------------------------------------------
# q_source_orc


@register(
    "q_source_orc",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS n_parts,
           {sql_dsumr('p_retailprice')}
               AS sum_price
    FROM part
    GROUP BY p_brand
    """,
)
def q_source_orc(spark, sf_dir):
    """ORC source round-trip: write part as ORC, re-read with an
    EXPLICIT schema (the same no-inference rule as q_source_csv —
    schema inference is an extra full pass at 100 TB), aggregate.
    Spark's native ORC reader is vectorized and does predicate
    pushdown / column pruning exactly like parquet, so the format
    choice is an interop question, not a plan-shape one. The oracle
    recomputes from the parquet source, proving the ORC round-trip
    is lossless (doubles included — ORC stores them as IEEE bits)."""
    p = load_table(spark, sf_dir, "part")
    out = scratch_path("orc")
    p.write.mode("overwrite").orc(out)
    back = spark.read.schema(
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ).orc(out)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        dsumr("p_retailprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# q_join_asof_fwd


@register(
    "q_join_asof_fwd",
    # NULL-on law stated explicitly oracle-side — see q_join_asof's
    # oracle comment (law 35's r8 extension; DuckDB's native ASOF and
    # SQL NULL-comparison semantics disagree on NULL-ts probes).
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type = 'click'
          AND user_id IS NOT NULL AND ts IS NOT NULL
    ), c AS (
        SELECT user_id, ts, event_id AS click_id, value AS click_value
        FROM clicks WHERE rn = 1
    ), p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT pn.event_id, pn.user_id, c.click_id, c.click_value
    FROM (SELECT * FROM p WHERE ts IS NOT NULL) pn
        ASOF LEFT JOIN c ON pn.user_id = c.user_id AND pn.ts <= c.ts
    UNION ALL
    SELECT event_id, user_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM p WHERE ts IS NULL
    """,
)
def q_join_asof_fwd(spark, sf_dir):
    """Forward as-of join: for every purchase, the EARLIEST click at
    or after it by the same user (NULLs when the user never clicks
    again) — q_join_asof with the time arrow flipped. Right rows are
    deduped to one per (user_id, ts) first (the asof_join tie
    contract); the oracle uses DuckDB's native ASOF with `<=`."""
    from ..operators.asof import asof_join, clicks_and_purchases

    ev = load_table(spark, sf_dir, "events")
    clicks1, purchases = clicks_and_purchases(ev)
    out = asof_join(
        purchases,
        clicks1,
        key="user_id",
        on="ts",
        payload=["click_id", "click_value"],
        direction="forward",
    )
    return out.select("event_id", "user_id", "click_id", "click_value")


# ---------------------------------------------------------------------------
# q_emb_pca (rows-tier)


@register("q_emb_pca")
def q_emb_pca(spark, sf_dir):
    """PCA projection of the 64-d embeddings onto the top-2 principal
    components (operators/pca.py: ONE mapInPandas moment pass whose
    shuffle carries P rows of d² partials, driver-side eigh on the
    64x64 covariance, then a codegen'd dot-product projection — no
    Python in the per-row path).

    Rows-tier: no SQL engine can express the eigendecomposition, so
    the driver records row count only; value-level correctness is
    tests/test_pca.py's numpy parity (components, explained variance,
    sign convention). Output coordinates are quantized to integers
    (floor of coord*1e4) so the result is stable run-to-run — eigh on
    identical covariance bits is deterministic, and the quantization
    removes any last-ulp sensitivity from the evidence surface."""
    from ..operators.pca import fit_pca, project

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, _ = fit_pca(emb, k=2)
    proj = project(emb, mean, comps)
    return proj.select(
        "vec_id",
        "label",
        F.floor(F.col("pc0") * 10000).cast("bigint").alias("pc0_e4"),
        F.floor(F.col("pc1") * 10000).cast("bigint").alias("pc1_e4"),
    )


# ---------------------------------------------------------------------------
# q_join_asof_tol

_TOL_US = 3 * 86400 * 1000000  # 3-day attribution window, in microseconds


@register(
    "q_join_asof_tol",
    # NULL-on law stated explicitly oracle-side — see q_join_asof's
    # oracle comment. This oracle previously survived the NULL-ts
    # probe only by LUCK (date_diff over a NULL pts nulled the CASE);
    # the explicit split makes the contract visible, not accidental.
    oracle=f"""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type = 'click'
          AND user_id IS NOT NULL AND ts IS NOT NULL
    ), c AS (
        SELECT user_id, ts, event_id AS click_id, value AS click_value
        FROM clicks WHERE rn = 1
    ), p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), m AS (
        SELECT pn.event_id, pn.user_id, pn.ts AS pts,
               c.ts AS cts, c.click_id, c.click_value
        FROM (SELECT * FROM p WHERE ts IS NOT NULL) pn
            ASOF LEFT JOIN c ON pn.user_id = c.user_id AND pn.ts >= c.ts
        UNION ALL
        SELECT event_id, user_id, ts, CAST(NULL AS TIMESTAMP),
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        FROM p WHERE ts IS NULL
    )
    SELECT event_id, user_id,
           CASE WHEN cts IS NOT NULL
                 AND date_diff('microsecond', cts, pts) <= {_TOL_US}
                THEN click_id END AS click_id,
           CASE WHEN cts IS NOT NULL
                 AND date_diff('microsecond', cts, pts) <= {_TOL_US}
                THEN click_value END AS click_value
    FROM m
    """,
)
def q_join_asof_tol(spark, sf_dir):
    """As-of join with a TOLERANCE: the most recent prior click, but
    only if it happened within a 3-day attribution window (pandas
    merge_asof(tolerance=...) / kdb wj semantics — the
    marketing-attribution and sensor-staleness lookup). Matches
    farther back than the window are discarded, NOT replaced by an
    older candidate — since the as-of match is the NEAREST prior, any
    other prior row is farther, so post-filtering the single match is
    exactly equivalent and costs nothing extra: the plan is the same
    ONE |L|+|R| shuffle as q_join_asof.

    The matched right timestamp rides along in the asof payload
    struct; the window test runs in integer microseconds
    (unix_micros vs DuckDB date_diff('microsecond')) — no float, no
    calendar arithmetic."""
    from ..operators.asof import asof_join, clicks_and_purchases

    ev = load_table(spark, sf_dir, "events")
    clicks1, purchases = clicks_and_purchases(ev, with_click_ts=True)
    out = asof_join(
        purchases,
        clicks1,
        key="user_id",
        on="ts",
        payload=["click_ts", "click_id", "click_value"],
    )
    in_window = F.col("click_ts").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("click_ts") <= F.lit(_TOL_US)
    )
    return out.select(
        "event_id",
        "user_id",
        F.when(in_window, F.col("click_id")).alias("click_id"),
        F.when(in_window, F.col("click_value")).alias("click_value"),
    )


# ---------------------------------------------------------------------------
# q_evt_cep


@register(
    "q_evt_cep",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               -- COALESCE: string_agg over ONLY-NULL chars is NULL
               -- where Spark's array_join of the skipped list is ''
               -- (law 16; r7 composed superset — an all-NULL-type
               -- user made n_funnels NULL on one engine only)
               COALESCE(string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id), '') AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST((length(seq) - length(replace(seq, 'vcp', ''))) // 3
                AS BIGINT) AS n_funnels,
           CAST(CASE WHEN seq LIKE '%v%c%p%' THEN 1 ELSE 0 END AS INT)
               AS converted
    FROM seqs
    """,
)
def q_evt_cep(spark, sf_dir):
    """Complex-event-processing pattern match — the Flink CEP analog
    (the reference ecosystem's sequence-pattern library; SURVEY §1
    [PK] notes the demo itself ships none, so this is the engine's
    training/analytics-axis extension of it). Per user, the event
    stream is serialized to an initial-letter sequence with a total
    (ts, event_id) order, then two pattern tiers are evaluated:
    n_funnels = count of STRICTLY CONTIGUOUS view→click→purchase
    runs (Flink CEP `next()` contiguity), and converted = whether a
    RELAXED view..click..purchase subsequence exists (CEP
    `followedBy()` contiguity, q_evt_funnel's semantics).

    Determinism: the contiguous count is the replace-trick integer
    `(len(seq) - len(replace(seq,'vcp',''))) / 3` — left-to-right
    non-overlapping replacement is identical in both engines and no
    regex engine is consulted; the relaxed tier is a LIKE with `%`
    wildcards only. The sort struct leads with an explicit ts-IS-NULL
    flag: array_sort orders a NULL struct field FIRST where the
    oracle's ORDER BY ts (DuckDB default) puts NULLs LAST — with a
    NULL-ts event inside a multi-event user the two engines built
    DIFFERENT sequences (r7 composed NULL-key x extreme-ts sweep; the
    r6 NULL-events fixture only ever gave a NULL-ts event to a
    singleton user, where order is moot). false < true, so the flag
    is exactly NULLS LAST with the event_id tie-break, matching
    q_evt_markov's asc_nulls_last and sources/replay.time_batch_col.
    Scale: one user-keyed aggregate; per-user state
    is the user's own event sequence (bounded by per-user activity,
    the same state a CEP NFA keeps), map-side combine collapses each
    partition's per-user slices."""
    e = load_table(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts").isNull().alias("z"),
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("i"),
                        )
                    )
                ),
                lambda s: s["i"],
            ),
            "",
        ).alias("seq"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.expr("CAST((length(seq) - length(replace(seq, 'vcp', ''))) div 3 AS BIGINT)").alias(
            "n_funnels"
        ),
        F.col("seq").like("%v%c%p%").cast("int").alias("converted"),
    )


# ---------------------------------------------------------------------------
# q_dedup_prefix


@register(
    "q_dedup_prefix",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 4 = 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS s FROM toks GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter,
           sa.s + sb.s - inter AS uni,
           CAST((10000 * inter) // (sa.s + sb.s - inter) AS BIGINT) AS j_e4
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 20 * inter >= 19 * (sa.s + sb.s - inter)
    """,
)
def q_dedup_prefix(spark, sf_dir):
    """EXACT set-similarity self-join via PREFIX FILTERING (the
    All-Pairs/PPJoin candidate generation — Bayardo et al., WWW'07;
    Chaudhuri et al., ICDE'06): all document pairs with token-set
    Jaccard >= 0.95, with zero false negatives GUARANTEED (unlike the
    LSH path's probabilistic recall) while never joining on every
    shared token the way q_dedup_near's formulation must.

    Construction: tokens get a global total order (frequency asc,
    token asc — rarest first); each document keeps only its first
    p = s - ceil(0.95*s) + 1 tokens in that order as its PREFIX. If
    J(a,b) >= t, then |a∩b| >= ceil(t*max(sa,sb)), so the smallest
    common token sits within BOTH prefixes (pigeonhole) — candidates
    = pairs meeting in a prefix-token bucket, an equi-join whose key
    (a rare token) is small by construction. Exact verification then
    counts intersections only for candidates. All comparisons are
    integer rationals (20*inter >= 19*union; ceil via
    (19*s + 19) div 20); j_e4 is an integer floor quantization.

    Scale: the three shapes are a token hash-agg, a prefix-bucket
    equi-join (bucket sizes bounded by token rarity, the knob the
    ordering turns — plus the PPJoin length filter inside the join),
    and a per-candidate codegen array-intersect. This is the 100 TB
    EXACT dedup path; q_dedup_lsh remains the approximate one and
    q_dedup_near the small-SF oracle baseline (SCALE.md).

    INPUT SCOPE: the registered query runs on the doc_id % 4 = 0
    quarter of the corpus. The synthetic corpus is ADVERSARIAL for
    any exact similarity join — a ~60-token vocabulary makes even
    each document's rarest tokens hot, and ~4% of ALL doc pairs are
    genuine >= 0.95 matches (191k result pairs at sf0.1), so output
    and candidates grow ~quadratically with corpus slice. The
    quarter keeps the driver row meaningful (89-130 pairs at the
    checked SFs) and the bench honest (~3 s, not 25 s of mostly
    result materialization); the operator itself is
    general-threshold, general-corpus (brute-force-tested on
    unrestricted ids in tests/test_prefix_join.py via %4-aligned
    synthetic corpora)."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 0
    )
    # Materialize the token set ONCE: three downstream references
    # (freq, ranked, arrs) would each replay the scan + explode +
    # distinct shuffle (the q_graph_pagerank localCheckpoint
    # precedent; review r6).
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        # eager=False (r13, guide §5): the eager form is its own
        # driver job; the lazy form materializes inside the first
        # consuming action (the query itself) and the remaining
        # references read the cached partitions — one job removed,
        # same single materialization.
        .localCheckpoint(eager=False)
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    ranked = (
        toks.join(freq, "tok")
        .withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("tf", "tok")
            ),
        )
        .withColumn("s", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    # Materialize the PREFIX frame once (r12 close, guide §3.3/§5 —
    # the q_dedup_lsh Change-2.2 pattern): the candidate self-join
    # below consumes it on BOTH sides, and because the planner builds
    # one side as a BroadcastExchange, ReuseExchange cannot fire (the
    # committed plan dump shows the freq aggregate + the two Window
    # passes duplicated wholesale, operators 1-16 vs 17-33). Non-eager:
    # the materialization runs inside the timed action, fresh per run.
    # The frame is tiny (only prefix tokens, ~5% of the token rows),
    # so the checkpoint cost is nil against the halved window work.
    prefix = (
        ranked.where(
            F.col("pos") <= F.col("s") - F.expr("(19 * s + 19) div 20") + 1
        )
        .select("doc_id", "tok", "s", "pos")
        .localCheckpoint(eager=False)
    )

    # Candidate pruning inside the bucket join: the PPJoin LENGTH
    # filter — J >= t forces t*|a| <= |b| <= |a|/t, so size-distant
    # pairs are discarded before the distinct (measured at sf0.1:
    # 9.7M -> 2.1M candidate pairs on this tiny-vocab corpus, where
    # prefix tokens alone are not rare enough to prune hard). Sound,
    # so the oracle (the naive threshold join) is unchanged.
    #
    # PLUS the PPJoin POSITIONAL filter (r12, guide §2.3 "shuffle
    # fewer bytes" applied to the candidate verify join; Xiao et al.,
    # WWW'08): J >= 19/20 forces inter >= ceil(19*(sa+sb)/39) (from
    # 20*inter >= 19*(sa+sb-inter)), while a meeting at prefix
    # positions (pos_a, pos_b) bounds the overlap through that token's
    # SUFFIXES: inter <= 1 + min(sa-pos_a, sb-pos_b) whenever no
    # common token precedes the meeting. Dropping every meeting row
    # that violates 39*(1 + min(sa-pos_a, sb-pos_b)) >= 19*(sa+sb) is
    # EXACT: for a real pair, its FIRST common token in the global
    # (tf, tok) order has no common predecessor by minimality, sits in
    # both prefixes (prefix-filtering theorem: any shared prefix token
    # implies the order-minimal one is also within both prefixes), and
    # its meeting satisfies the bound because the true overlap does —
    # so at least one meeting row per real pair always survives into
    # the distinct. Non-first meetings of real pairs may be dropped;
    # the distinct never needed the duplicates. Measured at sf0.1 on
    # the registered %4 slice: meeting rows 222k -> 117k (the distinct
    # input), candidate pairs entering the verify join 140k -> 117k.
    cand = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "tok")
        .where(
            (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (20 * F.col("pb.s") >= 19 * F.col("pa.s"))
            & (20 * F.col("pa.s") >= 19 * F.col("pb.s"))
            & (
                39
                * (
                    1
                    + F.least(
                        F.col("pa.s") - F.col("pa.pos"),
                        F.col("pb.s") - F.col("pb.pos"),
                    )
                )
                >= 19 * (F.col("pa.s") + F.col("pb.s"))
            )
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Exact verification: join each candidate pair to BOTH documents'
    # sorted token ARRAYS (one |docs|-row side, not one row per
    # token) and count the intersection in whole-stage codegen
    # (array_intersect + size). The exploded-token alternative probes
    # Σ|set_a| ≈ candidates × avg-set-size rows through a join
    # (~49M at sf0.1, measured 17 s); the array form touches each
    # candidate ONCE (2.1M rows × a 23-element intersect, ~3 s).
    # Same materialize-once treatment for the token-ARRAY frame: both
    # candidate-attach joins build it as a BroadcastExchange (plan
    # operators 38-42 vs 45-49 before this change), so the
    # sort_array(collect_list) ObjectHashAggregate ran twice per query.
    arrs = (
        toks.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("tok")).alias("arr"),
            F.count(F.lit(1)).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("s").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("s").alias("sb"),
            ),
            "doc_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint")
        )
        .withColumn("uni", F.col("sa") + F.col("sb") - F.col("inter"))
        .where(20 * F.col("inter") >= 19 * F.col("uni"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "uni",
            F.expr("CAST((10000 * inter) div uni AS BIGINT)").alias("j_e4"),
        )
    )


# ---------------------------------------------------------------------------
# q_sim_ann_multi

# The shared deterministic-pseudorandom template. BOTH the DuckDB
# oracle strings AND the Spark-side F.expr strings are rendered from
# this one literal (same convention as corpus._interleave_terms), so
# editing the constants cannot desynchronize the two engines.
_LCG = "((1103515245 * ({i}) + 12345) % 2147483648)"


@register(
    "q_sim_ann_multi",
    oracle=f"""
    WITH ge AS (
        -- the gated participation set, used by EVERY stage: the r7
        -- composed sweep planted a duplicate vec_id whose second copy
        -- is non-finite, and the scoring joins below used to hit the
        -- RAW table — the NaN copy rode into the oracle's top-3 while
        -- Spark (joining its gated frame) never saw it
        SELECT vec_id, embedding FROM embeddings
        WHERE {sql_emb_finite('embedding')}
    ), comps AS (
        SELECT e.vec_id, t.range AS h,
               CASE WHEN ({_LCG.format(i='t.range * 64 + d.range')} // 65536) % 2 = 0
                    THEN 1 ELSE -1 END
               * CAST(e.embedding[CAST(d.range AS INT) + 1] AS DECIMAL(30,6)) AS c
        FROM ge e CROSS JOIN range(16) t CROSS JOIN range(64) d
    ), sigbits AS (
        SELECT vec_id, h // 8 AS tbl, h % 8 AS j,
               CASE WHEN SUM(c) > 0 THEN 1::BIGINT << CAST(h % 8 AS INT)
                    ELSE 0 END AS b
        FROM comps GROUP BY vec_id, h
    ), buckets AS (
        SELECT vec_id, CAST(tbl AS INT) AS tbl, CAST(SUM(b) AS BIGINT) AS bucket
        FROM sigbits GROUP BY vec_id, tbl
    ), probes AS (
        SELECT e.vec_id AS query_id, k.tbl, k.bucket
        FROM ge e JOIN buckets k ON e.vec_id = k.vec_id
        WHERE e.vec_id < 10
    ), cand_ids AS (
        SELECT DISTINCT p.query_id, bk.vec_id AS neighbor_id
        FROM probes p
        JOIN buckets bk ON bk.tbl = p.tbl AND bk.bucket = p.bucket
        WHERE bk.vec_id <> p.query_id
    ), cands AS (
        SELECT c.query_id, c.neighbor_id,
               list_inner_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                   AS sim
        FROM cand_ids c
        JOIN ge e ON e.vec_id = c.neighbor_id
        JOIN ge q ON q.vec_id = c.query_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM cands
    )
    SELECT query_id, neighbor_id, {sql_mround('sim')} AS sim
    FROM ranked WHERE rn <= 3
    """,
)
def q_sim_ann_multi(spark, sf_dir):
    """MULTI-TABLE random-hyperplane LSH ANN — the recall-strength
    upgrade of q_sim_ann (plans/textops.py), registered hash-tier:
    TWO independent 8-bit signature tables (hyperplane id h = tbl*8+j
    feeds the same integer-LCG Rademacher construction, so table 0 is
    exactly q_sim_ann's geometry and table 1 is fresh), candidates =
    union of same-bucket matches across tables, deduped, then exact
    top-3 re-rank. A neighbor missed by one table's bucket split is
    caught by the other — the standard recall lever (L independent
    tables: miss probability decays as p^L), previously evidenced
    only test-tier (tests/test_ann.py).

    Scale: candidate generation is an equi-join on (tbl, bucket) —
    the table id rides the join key, so L tables are ONE join over an
    L-times-longer (still bucket-bounded) build side, not L joins;
    dedup is a hash-agg on the candidate pairs; exact scoring touches
    only deduped candidates. Projections sum in DECIMAL so bucket
    ids are bit-identical cross-engine."""
    from ..functions.vector import dot64, mround
    from ..sources.loader import fan_out

    # size-64 guard on BOTH engines (lockstep with the oracle's
    # len(e.embedding) = 64): posexplode drops a short/empty vector
    # while CROSS JOIN range(64) would fabricate NULL rows for it —
    # the regenerated-data hazard class (review r6).
    e = load_table(spark, sf_dir, "embeddings").where(
        (F.size("embedding") == 64) & emb_finite("embedding")
    )
    comps = (
        # Keyed fan-out (r12, guide §2.4 — the q_sim_ann change
        # mirrored): the signature-bit groupBys (vec_id, h) and
        # (vec_id, tbl) are both vec_id-clustered, so one
        # hashpartitioning(vec_id) feeds the whole chain exchange-free.
        fan_out(e, by="vec_id")
        .select("vec_id", F.posexplode("embedding").alias("d", "x"))
        .crossJoin(
            F.broadcast(
                spark.range(16).select(F.col("id").cast("int").alias("h"))
            )
        )
        .select(
            "vec_id",
            "h",
            F.expr(
                f"CASE WHEN ({_LCG.format(i='CAST(h AS BIGINT) * 64 + d')}"
                " div 65536) % 2 = 0 "
                "THEN 1 ELSE -1 END * CAST(CAST(x AS DOUBLE) AS DECIMAL(30,6))"
            ).alias("c"),
        )
    )
    sigbits = comps.groupBy("vec_id", "h").agg(
        F.when(F.sum("c") > 0, F.expr("CAST(1 AS BIGINT) << (h % 8)"))
        .otherwise(F.lit(0))
        .alias("b")
    )
    buckets = (
        sigbits.withColumn("tbl", F.expr("CAST(h div 8 AS INT)"))
        .groupBy("vec_id", "tbl")
        .agg(F.sum("b").cast("bigint").alias("bucket"))
    )

    probes = (
        e.where(F.col("vec_id") < 10)
        .join(buckets, "vec_id")
        .select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    )
    cand_ids = (
        F.broadcast(probes)
        .join(buckets.withColumnRenamed("vec_id", "neighbor_id"), ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qemb = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb"))
    cands = (
        cand_ids.join(
            e.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(qemb.where(F.col("query_id") < 10)), "query_id")
        .select("query_id", "neighbor_id", dot64("embedding", "qemb").alias("sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", mround("sim").alias("sim"))
    )


# ---------------------------------------------------------------------------
# q_vocab_typo


@register(
    "q_vocab_typo",
    oracle="""
    WITH w AS (
        SELECT DISTINCT c_name AS w FROM customer WHERE c_custkey < 1000
    )
    SELECT a.w AS word_a, b.w AS word_b,
           CAST(levenshtein(a.w, b.w) AS INT) AS dist
    FROM w a JOIN w b ON a.w < b.w
    WHERE levenshtein(a.w, b.w) <= 1
    """,
)
def q_vocab_typo(spark, sf_dir):
    """Edit-distance <= 1 string self-join via DELETION NEIGHBORHOODS
    (the FastSS construction — Bocek et al., 2007): the approximate
    string matching that powers typo clustering / vocabulary
    normalization in text pipelines, without the all-pairs
    levenshtein a naive join needs.

    Completeness theorem: lev(a,b) <= 1 iff a = b, or b is a
    single-deletion of a (deletion), or a of b (insertion), or
    deleting position i from BOTH yields the same string
    (substitution) — so every qualifying pair SHARES a member of
    {word} ∪ del1(word), and an equi-join on that variant set
    generates a complete candidate list; exact levenshtein verifies
    (and both engines implement the same integer DP). The variant
    arrays are per-row HOF math (transform over char positions) —
    the sanctioned HOF use — then explode to the join.

    Scale: |word|+1 variant rows per word; bucket sizes are bounded
    by how many words collapse onto one variant (for identifier-like
    vocabularies: the words agreeing everywhere but one position) —
    never the vocabulary square. The oracle is the NAIVE all-pairs
    join, computable because the registered query scopes to the
    first 1000 customer names; the operator is general."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 1000)
    words = c.select(F.col("c_name").alias("w")).distinct()
    variants = words.select(
        "w",
        F.explode(
            F.concat(
                F.array(F.col("w")),
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> concat(substr(w, 1, i - 1), substr(w, i + 1)))"
                ),
            )
        ).alias("v"),
    ).distinct()
    cand = (
        variants.alias("a")
        .join(variants.alias("b"), "v")
        .where(F.col("a.w") < F.col("b.w"))
        .select(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
        .distinct()
    )
    return cand.where(
        F.levenshtein("word_a", "word_b") <= 1
    ).select(
        "word_a",
        "word_b",
        F.levenshtein("word_a", "word_b").cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# q_dq_expect


@register(
    "q_dq_expect",
    oracle="""
    SELECT 'orderkey_unique' AS expectation,
           CAST((SELECT COUNT(*) FROM
                 (SELECT o_orderkey FROM orders
                  GROUP BY o_orderkey HAVING COUNT(*) > 1))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'custkey_not_null',
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT)
    UNION ALL
    SELECT 'custkey_in_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'totalprice_under_450k',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice <= 0 OR o_totalprice > 450000)
                AS BIGINT)
    UNION ALL
    SELECT 'status_in_F_O',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus NOT IN ('F', 'O'))
                AS BIGINT)
    """,
)
def q_dq_expect(spark, sf_dir):
    """Declarative data-quality expectation sweep (the deequ /
    dbt-test / Great-Expectations constraint class) over orders:
    uniqueness, non-null, referential integrity into customer, value
    range, and domain membership — each expectation emits its exact
    VIOLATION COUNT. The range and domain expectations are
    DELIBERATELY too strict for this data (>450k prices and 'P'
    status rows exist), so the sweep emits a mix of passing (0) and
    failing (exact nonzero) rows — an implementation that just
    reports zeros cannot hash-match.

    Shapes, per constraint: uniqueness = keyed hash-aggregate with a
    HAVING tail; referential integrity = ANTI join against the
    (broadcastable) dimension key set; the scalar predicates fold
    into one scan — Catalyst shares nothing across the five here,
    but at 100 TB you run the scalar trio in ONE pass (they union
    into a single aggregate over one scan) and the two keyed checks
    as their own shuffles; this query keeps them literal so each
    constraint's plan stays auditable."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(F.lit("orderkey_unique").alias("expectation"), "n_violations")
    )
    nn = (
        o.where(F.col("o_custkey").isNull())
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(F.lit("custkey_not_null").alias("expectation"), "n_violations")
    )
    # NULL keys are the not_null expectation's finding, not the FK's
    # (dbt relationship-test semantics) — without the filter every
    # NULL double-counts here too (caught by the planted-violations
    # test).
    fk = (
        o.where(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == F.col("c_custkey"),
            "anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(F.lit("custkey_in_customer").alias("expectation"), "n_violations")
    )
    rng = (
        o.where((F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 450000))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(F.lit("totalprice_under_450k").alias("expectation"), "n_violations")
    )
    dom = (
        o.where(~F.col("o_orderstatus").isin("F", "O"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .select(F.lit("status_in_F_O").alias("expectation"), "n_violations")
    )
    return dup.unionByName(nn).unionByName(fk).unionByName(rng).unionByName(dom)


# ---------------------------------------------------------------------------
# q_ml_score


@register(
    "q_ml_score",
    oracle=f"""
    WITH w AS (
        SELECT CAST(t.range AS INT) AS d,
               CAST(({_LCG.format(i='t.range + 7')} // 65536) % 17 - 8
                    AS BIGINT) AS wt
        FROM range(64) t
    ), terms AS (
        SELECT e.vec_id, e.label,
               w.wt * CAST(floor(e.embedding[w.d + 1]::DOUBLE * 1000000
                                 + 0.5) AS BIGINT) AS term
        FROM embeddings e CROSS JOIN w
        WHERE len(e.embedding) = 64 AND {sql_emb_finite('e.embedding')}
    )
    SELECT vec_id, label,
           CAST(SUM(term) AS BIGINT) AS score_q6,
           CAST(CASE WHEN SUM(term) > 0 THEN 1 ELSE 0 END AS INT) AS pred
    FROM terms GROUP BY vec_id, label
    """,
)
def q_ml_score(spark, sf_dir):
    """Batch model inference: score every embedding with a fixed
    linear model (weights w_d ∈ [-8, 8] from the repo's integer LCG,
    dimension-seeded — a stand-in for trained coefficients, which at
    100 TB arrive exactly like this: a broadcast constant vector) and
    emit the quantized margin + sign prediction. This is the scoring
    half of the train/infer loop the engine's other ML pieces feed —
    k-means assign is nearest-centroid inference; this is its
    dot-product-classifier sibling (logistic/linear head without the
    transcendental sigmoid, which the determinism rules keep out of
    hash queries — the sign and margin are the decision surface
    anyway).

    Each component is quantized to the BIGINT floor(x*1e6 + 0.5)
    BEFORE the weighted sum — CAST(double AS DECIMAL) itself rounds
    differently across engines on float tails (the q_emb_normalize
    lesson; this query's first draft hit exactly that, one ulp apart
    at sorted row 55), so the score is an all-integer Σ wt·q6(x)
    with NO division or decimal anywhere (integer div on negatives
    truncates differently across engines — not risked either);
    the 64-row weight frame is a broadcast literal, the scan is one
    narrow pass, and the per-vector aggregate map-side-combines. No
    shuffle carries more than (vectors × 1) rows."""
    # size-64 guard on BOTH engines (lockstep with the oracle's
    # len(e.embedding) = 64): posexplode drops a short/empty vector
    # while CROSS JOIN range(64) would fabricate NULL rows for it —
    # the regenerated-data hazard class (review r6).
    e = load_table(spark, sf_dir, "embeddings").where(
        (F.size("embedding") == 64) & emb_finite("embedding")
    )
    w = spark.range(64).select(
        F.col("id").cast("int").alias("d"),
        F.expr(
            f"CAST(({_LCG.format(i='id + 7')}"
            " div 65536) % 17 - 8 AS BIGINT)"
        ).alias("wt"),
    )
    terms = (
        e.select("vec_id", "label", F.posexplode("embedding").alias("d", "x"))
        .join(F.broadcast(w), "d")
        .select(
            "vec_id",
            "label",
            F.expr(
                "wt * CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
            ).alias("term"),
        )
    )
    return terms.groupBy("vec_id", "label").agg(
        F.sum("term").cast("bigint").alias("score_q6"),
        F.expr("CAST(CASE WHEN SUM(term) > 0 THEN 1 ELSE 0 END AS INT)").alias(
            "pred"
        ),
    )
