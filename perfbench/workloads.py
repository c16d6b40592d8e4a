"""The four benchmark workloads.

Each workload is closed loop with one client: the next operation starts
only when the previous one has completed. A workload generates its
inputs from the seed in ``setup`` (which also runs untimed, checked
warm-up operations), and ``step`` runs one unit of timed work, checks
its output, and appends the durations to a :class:`Segment`.
``MIN_STEPS`` is the fewest steps a measured stretch runs.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
import uuid
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import reference as ref
from metrics import QUERIES, median, tail_percentile
from tracing import progress_field

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")

K = 16  # clusters in every generated input, and k of every fit
DIM = 64
SPREAD = 0.01  # per-dimension noise around the unit cluster centres
VECTOR_SCHEMA = "vec_id bigint, embedding array<float>"


@dataclass
class Segment:
    """Everything one measured stretch of a run produced."""

    op_s: list[float] = field(default_factory=list)  # one entry per op
    items: float = 0.0  # work items completed (points, point-iterations, queries)
    item_s: float = 0.0  # time spent completing them
    attempted: int = 0  # batches, fits, queries
    failed: int = 0
    wall_s: float = 0.0
    cpu_s: float = 0.0  # CPU time of the worker's process tree (JVM, Python workers)
    samples: dict[str, list[float]] = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))


@dataclass
class Ctx:
    spark: object
    seed: int
    size: str
    run_root: str
    cpus: int
    tracer: object
    counters: object = None  # EngineCounters in the traced segment
    setup_samples: dict[str, float] = field(default_factory=dict)
    # Checked operations of set-up (warm-up, oracle parity); they count
    # toward attempted and failed but are not timed.
    warmup: Segment = field(default_factory=Segment)

    def fresh_dir(self, prefix: str) -> str:
        d = os.path.join(self.run_root, f"{prefix}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        return d


class OnlineKMeans:
    name = "online_kmeans"
    why = (
        "Many small micro-batches into an untracked StreamingKMeans: the "
        "per-trigger fixed cost (offset and commit logs, planning, one "
        "mapInPandas job, a collect) dominates and the GEMM is negligible, "
        "so trigger and job overhead shows here and the kernel is bypassed."
    )
    track = False
    SIZES = {"full": (10, 2000), "tiny": (3, 200)}  # (batches per drive, points per batch)
    # Untimed, checked drives before timing: the JVM's JIT keeps cutting
    # the cost of a drive for about two drives after the first.
    WARMUP_STEPS = 2
    # Every drive gives one op per trigger, so one drive already gives a
    # median over many ops.
    MIN_STEPS = 1

    def setup(self, ctx: Ctx, warm: bool = True) -> None:
        from flink_streaming_kmeans_spark.sources.replay import batch_input_dir

        rng = np.random.default_rng(ctx.seed)
        n_batches, per_batch = self.SIZES[ctx.size]
        self.batches, x_all, self.n_ids = self._generate(rng, n_batches, per_batch)
        ids = np.concatenate([b[0] for b in self.batches])
        bno = np.concatenate([np.full(len(b[0]), i) for i, b in enumerate(self.batches)])
        path = os.path.join(ctx.fresh_dir("gen"), "points.parquet")
        ref.write_vectors(path, ids, np.concatenate([b[1] for b in self.batches]), bno=bno)
        self.points = len(ids)
        df = ctx.spark.read.parquet(path)
        t = time.perf_counter()
        with ctx.tracer.span("replay.batch_input_dir", "replay", group=True):
            self.in_dir = batch_input_dir(df, ctx.fresh_dir("replay"), range(n_batches))
        ctx.setup_samples["replay.stage_s"] = time.perf_counter() - t
        # Init: the first K generated points (ids are in arrival order).
        self.c0 = x_all[:K].astype(np.float64)
        self.cids = np.arange(K)
        self.expected = self._reference()
        if warm:
            for _ in range(self.WARMUP_STEPS):
                self.step(ctx, ctx.warmup)

    def _generate(self, rng, n_batches, per_batch):
        x, _ = ref.clustered_points(rng, n_batches * per_batch, K, DIM, SPREAD)
        batches = [
            (np.arange(b * per_batch, (b + 1) * per_batch), x[b * per_batch : (b + 1) * per_batch])
            for b in range(n_batches)
        ]
        return batches, x, len(x)

    def _reference(self):
        return ref.macqueen(self.c0, [x for _, x in self.batches])

    def _check(self, ctx, skm) -> bool:
        c, n = self.expected
        return ref.centroids_match(skm.C, skm.n, c, n)

    def step(self, ctx: Ctx, seg: Segment) -> None:
        from flink_streaming_kmeans_spark.sources.replay import run_available_now
        from flink_streaming_kmeans_spark.streaming.kmeans import StreamingKMeans

        spark, tracer = ctx.spark, ctx.tracer
        assign_dir = ctx.fresh_dir("assign") if self.track else None
        skm = StreamingKMeans(
            self.c0, self.cids, track_assignments=self.track, assign_dir=assign_dir
        )
        apply = skm.foreach_batch()
        update_s: dict[int, float] = {}
        update_spans: dict[int, dict] = {}

        def on_batch(batch_df, batch_id):
            with tracer.span("skm.update_batch", "skm", parent=drive) as sp:
                before = self._group_jobs(ctx)
                t = time.perf_counter()
                apply(batch_df, batch_id)
                update_s[int(batch_id)] = time.perf_counter() - t
                if sp is not None:
                    update_spans[int(batch_id)] = sp
                    seg.add("skm.jobs_per_batch", self._group_jobs(ctx) - before)
                    if self.track:
                        rows, size = _state_footprint(assign_dir)
                        seg.samples["skm.state_rows"] = [rows]
                        seg.samples["skm.state_bytes"] = [size]
                        points = len(self.batches[int(batch_id)][0])
                        seg.add("skm.state_write_amplification", rows / points)

        ckpt = ctx.fresh_dir("ckpt")
        writer = (
            spark.readStream.schema(VECTOR_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(self.in_dir)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
        )
        with tracer.span("replay.run_available_now", "replay", op=uuid.uuid4().hex[:8]) as drive:
            t = time.perf_counter()
            query = run_available_now(writer, f"perfbench_{self.name}", spark)
            wall = time.perf_counter() - t
        progress = [p for p in query.recentProgress if progress_field(p, "numInputRows") > 0]
        ok = self._check(ctx, skm) and len(progress) == len(self.batches)
        n_batches = len(self.batches)
        seg.attempted += n_batches
        seg.failed += 0 if ok else n_batches
        seg.items += self.points
        seg.item_s += wall
        seg.add("replay.run_available_now_s", wall)
        for p in progress:
            dur = progress_field(p, "durationMs")
            trig = dur["triggerExecution"] / 1000.0
            seg.op_s.append(trig)
            seg.add("stream.trigger_s", trig)
            bid = int(progress_field(p, "batchId"))
            seg.add("skm.update_s", update_s.get(bid, 0.0))
            if self.track:
                seg.add("skm.tracked_update_s", update_s.get(bid, 0.0))
            seg.add("stream.engine_overhead_s", trig - update_s.get(bid, 0.0))
            for key, name in (
                ("walCommit", "stream.wal_commit_ms"),
                ("commitOffsets", "stream.commit_offsets_ms"),
                ("queryPlanning", "stream.query_planning_ms"),
                ("latestOffset", "stream.latest_offset_ms"),
            ):
                seg.add(name, dur.get(key, 0))
            if drive is not None:
                start = _epoch(progress_field(p, "timestamp"))
                trig_span = tracer.add("stream.trigger", "stream", start, start + trig, drive)
                if bid in update_spans:
                    update_spans[bid]["parent"] = trig_span["id"]
        if ctx.counters is not None:
            ctx.counters.harvest(str(query.runId))
        _rmtree(ckpt, assign_dir)

    @staticmethod
    def _group_jobs(ctx) -> int:
        """Jobs so far in the calling thread's job group (the stream's
        run id on Spark's stream thread); 0 when not tracing."""
        if ctx.counters is None:
            return 0
        group = ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        return len(ctx.counters.job_ids(group)) if group else 0


class OnlineReassign(OnlineKMeans):
    name = "online_reassign"
    why = (
        "The same drive with track_assignments=True and half of every batch "
        "re-arriving: each batch left-joins the parquet assignment state and "
        "writes a new generation, so state reads, writes and shuffle show "
        "here, and a gain on the untracked path that costs the state path."
    )
    track = True
    SIZES = {"full": (8, 2000), "tiny": (3, 200)}

    def _generate(self, rng, n_batches, per_batch):
        # Batch 0 is all first arrivals; every later batch is half new
        # ids and half earlier ids, without duplicates inside a batch.
        half = per_batch // 2
        n_ids = per_batch + (n_batches - 1) * half
        x, _ = ref.clustered_points(rng, n_ids, K, DIM, SPREAD)
        batches = [(np.arange(per_batch), x[:per_batch])]
        for b in range(1, n_batches):
            lo = per_batch + (b - 1) * half
            new = np.arange(lo, lo + half)
            old = np.sort(rng.choice(lo, half, replace=False))
            ids = np.concatenate([old, new])
            batches.append((ids, x[ids]))
        return batches, x, n_ids

    def _reference(self):
        return ref.macqueen_tracked(self.c0, self.batches, self.n_ids)

    def _check(self, ctx, skm) -> bool:
        c, n, distinct = self.expected
        return (
            ref.centroids_match(skm.C, skm.n, c, n)
            and int(skm.n.sum()) == distinct
            and skm.assign_count(ctx.spark) == distinct
        )


class BatchLloyd:
    name = "batch_lloyd"
    why = (
        "k-means|| init plus fixed-iteration Lloyd over cached vectors: the "
        "per-iteration combiner (Arrow transfer into Python, GEMM, "
        "per-cluster sums) does nearly all the work and the streaming engine "
        "none, so caching, transfer and kernel work shows here and nowhere else."
    )
    SIZES = {"full": (20_000, 6), "tiny": (20_000, 1)}  # (points, Lloyd iterations)
    WARMUP_STEPS = 2  # untimed, checked fits before timing
    # Three fits keep the median a middle value: with two, it is the
    # mean of the first, still warming fit and one more.
    MIN_STEPS = 3

    def setup(self, ctx: Ctx) -> None:
        rng = np.random.default_rng(ctx.seed)
        n, self.iters = self.SIZES[ctx.size]
        self.x, self.labels = ref.clustered_points(rng, n, K, DIM, SPREAD)
        self.path = os.path.join(ctx.fresh_dir("gen"), "vectors.parquet")
        ref.write_vectors(self.path, np.arange(n), self.x)
        for _ in range(self.WARMUP_STEPS):
            self.step(ctx, ctx.warmup)

    def step(self, ctx: Ctx, seg: Segment) -> None:
        from flink_streaming_kmeans_spark.operators import kmeans

        spark, tracer = ctx.spark, ctx.tracer
        emb = spark.read.parquet(self.path)
        with tracer.span("batch_lloyd.fit", "bench", op=uuid.uuid4().hex[:8]):
            t0 = time.perf_counter()
            with tracer.span("kmeans.kmeans_parallel_init", "kmeans", group=True) as sp_init:
                init = kmeans.kmeans_parallel_init(emb, k=K)
            t1 = time.perf_counter()
            with tracer.span("kmeans.lloyd_iterate", "kmeans", group=True) as sp_lloyd:
                out = kmeans.lloyd_iterate(
                    spark, emb, k=K, max_iter=self.iters, tol=0.0, init=init
                )
            t2 = time.perf_counter()
        fit = t2 - t0
        pdf = out.select("vec_id", "cluster_id").toPandas()
        assign = np.full(len(self.x), -1)
        assign[pdf["vec_id"].to_numpy()] = pdf["cluster_id"].to_numpy()
        _, expected = ref.lloyd(self.x, init[0], self.iters)
        ok = ref.assignments_match(assign, expected, self.labels)
        if not ok:
            print(
                f"perfbench: fit differs from the numpy Lloyd: agreement"
                f" {np.mean(assign == expected):.5f}, purity {ref.purity(assign, self.labels):.4f}",
                flush=True,
            )
        seg.attempted += 1
        seg.failed += 0 if ok else 1
        seg.op_s.append(fit)
        seg.items += len(self.x) * self.iters
        seg.item_s += fit
        seg.add("kmeans.parallel_init_s", t1 - t0)
        seg.add("kmeans.lloyd_iterate_s", t2 - t1)
        if ctx.counters is not None:
            ctx.counters.harvest(sp_init["group"])
            for d in ctx.counters.harvest(sp_lloyd["group"]):
                seg.add("kmeans.iteration_s", d)


class QueryMix:
    name = "query_mix"
    why = (
        "Six oracle-checked registered queries, one per plans module family "
        "(aggregation, TPC-H join, MinHash LSH, ANN, as-of join, range "
        "window) on a seed-permuted copy of the sf0.001 tables: without it "
        "plans/ and the non-k-means operators, most of the code, go unmeasured."
    )
    MIN_STEPS = 3  # passes; see BatchLloyd.MIN_STEPS

    def setup(self, ctx: Ctx, warm: bool = True) -> None:
        from flink_streaming_kmeans_spark.plans import registry

        self.sf_dir = ctx.fresh_dir("sf")
        permuted_copy(FIXTURE, self.sf_dir, ctx.seed)
        fns, sqls = registry.collect()
        self.fns = {q: fns[q] for q in QUERIES}
        oracle = load_oracle()
        con = oracle.make_duckdb(self.sf_dir)
        # The cold pass is the correctness pass: every query against its
        # DuckDB oracle, outside the timed passes.
        for q in QUERIES:
            ctx.warmup.attempted += 1
            with ctx.tracer.span(f"plans.{q}.parity", "plans", group=True):
                res = oracle.check_parity(ctx.spark, con, q, fns[q], sqls[q], self.sf_dir)
            if not res.ok:
                print(f"perfbench: {q} differs from its oracle: {res.detail}", flush=True)
                ctx.warmup.failed += 1
        con.close()
        if warm:
            self.step(ctx, ctx.warmup)  # first warm pass, untimed

    def step(self, ctx: Ctx, seg: Segment) -> None:
        tracer = ctx.tracer
        t_pass = time.perf_counter()
        for q in QUERIES:
            seg.attempted += 1
            try:
                with tracer.span(f"plans.{q}", "bench", op=uuid.uuid4().hex[:8]):
                    t0 = time.perf_counter()
                    with tracer.span(f"plans.{q}.build", "plans", group=True) as sp_b:
                        df = self.fns[q](ctx.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span(f"plans.{q}.exec", "plans", group=True) as sp_e:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception:
                traceback.print_exc()
                seg.failed += 1
                continue
            seg.add(f"plans.{q}.build_s", t1 - t0)
            seg.add(f"plans.{q}.exec_s", t2 - t1)
            if ctx.counters is not None:
                ctx.counters.harvest(sp_b["group"])
                ctx.counters.harvest(sp_e["group"])
        dur = time.perf_counter() - t_pass
        seg.op_s.append(dur)
        seg.items += len(QUERIES)
        seg.item_s += dur


WORKLOADS = {w.name: w for w in (OnlineKMeans, OnlineReassign, BatchLloyd, QueryMix)}


def permuted_copy(src: str, dest: str, seed: int) -> None:
    """Copy every table with its rows in a seeded order. Query results
    do not depend on row order, so the oracle still holds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        tab = pq.read_table(os.path.join(src, name))
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        pq.write_table(tab, os.path.join(dest, name))


def load_oracle():
    """The repository's DuckDB oracle-parity helper (tests/oracle.py),
    loaded by path so no other ``tests`` package can shadow it."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(CHECKOUT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def _state_footprint(assign_dir: str) -> tuple[int, int]:
    """(rows, bytes) of the newest assignment-state generation, read
    from parquet footers."""
    import pyarrow.parquet as pq

    gens = [g for g in os.listdir(assign_dir) if g.startswith("state-v")]
    if not gens:
        return 0, 0
    live = os.path.join(assign_dir, max(gens, key=lambda g: int(g[len("state-v") :])))
    rows = size = 0
    for f in os.listdir(live):
        if f.endswith(".parquet"):
            p = os.path.join(live, f)
            rows += pq.ParquetFile(p).metadata.num_rows
            size += os.path.getsize(p)
    return rows, size


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _rmtree(*dirs) -> None:
    for d in dirs:
        if d:
            shutil.rmtree(d, ignore_errors=True)


def layer_summary(seg: Segment) -> dict[str, float]:
    """Median of every per-layer sample list, with the update tail."""
    out = {k: median(v) for k, v in seg.samples.items()}
    if "skm.update_s" in seg.samples:
        out["skm.update_tail_s"] = tail_percentile(seg.samples["skm.update_s"])[1]
    return out
