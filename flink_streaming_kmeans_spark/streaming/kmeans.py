"""Streaming (online) k-means — the reference's core behavior.

Reference analog: KMeansClustering.java's stateful co-operator
(expected — SURVEY.md §3.1 [PK]; checkout was empty): features arrive
continuously, each is assigned to the nearest centroid, and that
centroid's running mean moves incrementally (MacQueen-style update),
with moved centroids visible to subsequent assignments via Flink's
iteration feedback edge.

Spark Structured Streaming has no iteration edge; the idiomatic
replacement (SURVEY.md §2.9/§7) is ``foreachBatch`` + driver-held
state: per micro-batch, the shared k-means kernel (operators/kmeans.py)
computes vectorized assignments and per-cluster (sum, count) partials
against the CURRENT centroids. ``update_batch`` has one flow: it asks
the kernel for the batch's delta and applies it, or, for a batch with
no rows, counts nothing, in either mode. An untracked batch is a
one-pass fit input (operators/kmeans._FitInput, which every batch fit
runs through too): within the kernel's driver budget it is folded on
the driver from one bounded Arrow collect in vec_id order, with no
Python worker; a larger one takes one narrow worker pass. A tracked
batch takes one worker pass of the reassignment body after its state
join (operators/kmeans._reassign_pass). Both come back through the
kernel's one Arrow fold; every worker pass is planned and run by the
kernel module, never here.
The driver then applies the batch MacQueen update

    c' = (c * n + batch_sum) / (n + batch_count)

so centroids move once per micro-batch instead of once per record —
the standard mini-batch relaxation of the reference's per-record
update (identical in the limit of 1-row batches).

``track_assignments=True`` adds the OTHER half of the reference
semantics (the r4-verdict gap): per-point assignment memory across
batches, so a re-arriving point that the moved centroids now place in
a different cluster is SUBTRACTED from its old cluster as it is added
to the new one — Feature add/remove arithmetic. State is held as
per-cluster running sums (S, n) with C = S/n, which makes removal
exact (each centroid is always the exact mean of its current members)
and conserves mass: Σn == #distinct points seen. Assumes re-arrivals
carry the same vector (the reference's loop re-circulates immutable
Features); value-updating re-arrivals would need per-point vector
state (N×d), out of scope.

The assignment memory itself is a PARQUET-BACKED KEYED TABLE (one
(vec_id, cid) row per distinct point), not a driver dict (r5 verdict
task 4): each batch LEFT-JOINs the arriving points against the
current state generation to find old assignments, and the next
generation is written as ``state anti-join batch ∪ batch's new
assignments`` — the same generation-per-batch parquet state-store
pattern q_stream_cep uses for its NFA state (the checkpointed
keyed-state analog this container admits;
transformWithStateInPandas's protobuf runner is broken here,
SCALE.md).

Scale: at most the gate's budget of embedding values (with their
vec_ids) plus one row ever cross the driver (the untracked size
probe); a larger untracked batch and every tracked batch return only
k×P-row partials (per-cluster delta partials, after one join + scan
when tracked). Driver state is the k×d matrix + k counts. Assignment
state is O(distinct points) ON DISK, sharded by the join's shuffle
partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.kmeans import _FitInput, _reassign_pass, _write_npz

_ASSIGN_SCHEMA = "vec_id bigint, cid int"


class StreamingKMeans:
    """Driver-held online k-means centroid state, updated per
    micro-batch of (vec_id, embedding) rows; assignment memory (when
    tracked) lives in parquet generations ``state-v{gen}`` under
    ``assign_dir``, which tracking requires and whose lifetime the
    caller owns. Within the driver budget the untracked fold sums a
    batch in vec_id order, so it does not depend on how the batch is
    split or ordered. A batch with no rows is not counted, tracked or
    not, and commits no assignment generation.

    ``state_path`` makes the centroid state durable across query
    restarts: after every applied batch the (C, S, n, cids, meta)
    tuple is written atomically (tmp + os.replace, same protocol as
    the lakehouse manifest commit). A restarted query constructs with
    the same ``state_path`` (and, when tracking, the same
    ``assign_dir``) and resumes exactly where the previous incarnation
    stopped; Structured Streaming's own checkpoint guarantees
    unprocessed batches are re-delivered, and the ``last_batch_id``
    guard makes a RE-delivered already-applied batch a no-op — together
    that is effectively-once state update, the standard foreachBatch
    idempotence pattern. The assignment table is already durable (each
    generation is an immutable parquet dir); meta records the live
    generation number.
    """

    def __init__(
        self,
        init_centroids,
        cids,
        state_path: str | None = None,
        track_assignments: bool = False,
        assign_dir: str | None = None,
        euclidean: bool = False,
    ):
        import numpy as np

        # Metric: argmax-dot by default (unit-vector contract);
        # euclidean=True applies the ||c||²/2 bias (operators/kmeans.
        # _euclid_bias) so raw-coordinate streams cluster by true
        # Euclidean distance (review r6 — the CLI's CSV mode).
        self.euclidean = bool(euclidean)
        self.C = np.array(init_centroids, dtype="float64")  # k×d
        self.cids = np.array(cids)
        self.n = np.zeros(len(cids), dtype="int64")
        # Running per-cluster vector sums: C == S/n wherever n>0 (a
        # cluster with no members keeps its init/last centroid). Using
        # (S, n) as the state — the reference Feature add/subtract
        # arithmetic — is numerically IDENTICAL to the previous
        # C'=(C*n+sum)/(n+cnt) form when no point is ever removed, and
        # is what makes removal exact when one is.
        self.S = np.zeros_like(self.C)
        self.track = bool(track_assignments)
        if self.track and assign_dir is None:
            # The caller owns the state's lifetime: a default home would
            # need a sweep that guesses when another run's state is dead.
            raise ValueError("track_assignments=True requires an assign_dir")
        self._assign_dir = assign_dir if self.track else None
        self._assign_gen = -1  # generation of the live state parquet
        self._assign_df: DataFrame | None = None  # lazy, session-bound
        self.batches_seen = 0
        self.last_batch_id = -1
        self.state_path = state_path
        if state_path is not None and os.path.exists(state_path):
            self._load()

    # -- assignment state (parquet-backed keyed table) ----------------

    def _assign_state(self, spark) -> DataFrame:
        """The live (vec_id, cid) assignment table."""
        if self._assign_df is None:
            if self._assign_gen >= 0:
                # Explicit schema: the state layout is fixed by
                # _ASSIGN_SCHEMA — per-generation footer inference was
                # a driver-side job per batch (guide §6; r12).
                self._assign_df = spark.read.schema(_ASSIGN_SCHEMA).parquet(
                    self._gen_path(self._assign_gen)
                )
            else:
                self._assign_df = spark.createDataFrame([], _ASSIGN_SCHEMA)
        return self._assign_df

    def _gen_path(self, gen: int) -> str:
        return os.path.join(self._assign_dir, f"state-v{gen}")

    def assign_df(self, spark) -> DataFrame:
        """The assignment memory as a DataFrame — the production
        consumer surface (join against it; never collect it)."""
        if not self.track:
            raise ValueError("track_assignments is off")
        return self._assign_state(spark)

    def assign_count(self, spark) -> int:
        """Number of distinct points currently assigned (one scalar)."""
        return self.assign_df(spark).count()

    def assignments(self, spark) -> dict[int, int]:
        """Bounded test/evidence accessor: the assignment table as a
        dict. Collects O(points) — fine for the small evidence tables
        the tests drive; production consumers use :meth:`assign_df`."""
        return {
            int(r.vec_id): int(r.cid)
            for r in self.assign_df(spark).collect()
        }

    # -- durable centroid state --------------------------------------

    def _save(self) -> None:
        import numpy as np

        _write_npz(
            self.state_path,
            C=self.C,
            S=self.S,
            cids=self.cids,
            n=self.n,
            meta=np.array(
                [self.batches_seen, self.last_batch_id, self._assign_gen],
                dtype="int64",
            ),
            track=np.array([self.track], dtype="int64"),
        )

    def _load(self) -> None:
        import numpy as np

        with np.load(self.state_path) as d:
            self.C = d["C"]
            self.cids = d["cids"]
            self.n = d["n"]
            self.S = d["S"]
            # The state file's tracking mode must MATCH the instance's:
            # restoring tracked mass (n/S include every distinct point)
            # without the assignment table would double-count every
            # re-arrival, and restoring untracked state into a tracking
            # instance silently flips the arithmetic. Fail loudly.
            file_track = "track" in d.files and bool(d["track"][0])
            if file_track != self.track:
                raise ValueError(
                    f"state file track_assignments={file_track} does not"
                    f" match instance track_assignments={self.track}"
                    " — refusing to resume with inconsistent mass"
                    " accounting"
                )
            meta = [int(x) for x in d["meta"]]
            self.batches_seen, self.last_batch_id = meta[0], meta[1]
            if file_track:
                gen = meta[2]
                if gen >= 0 and not os.path.isdir(self._gen_path(gen)):
                    raise ValueError(
                        f"assignment state generation {gen} not found"
                        f" under {self._assign_dir} — pass the same"
                        " assign_dir the previous incarnation used"
                    )
                self._assign_gen = gen
                self._assign_df = None  # lazily re-read, session-bound

    # -- per-batch update --------------------------------------------

    def update_batch(self, batch_df: DataFrame) -> None:
        """foreachBatch body: combine-assign against current centroids,
        then apply the batch MacQueen update; a batch with no rows is
        not counted, in either mode.

        With ``track_assignments``, a re-arriving point that the moved
        centroids now place elsewhere is REMOVED from its old cluster
        (vector subtracted, count decremented) as it is added to the
        new one — the reference co-operator's add/remove arithmetic —
        so every centroid stays the exact mean of its CURRENT members
        and total mass equals the number of distinct points seen."""
        delta = (self._tracked_delta if self.track else self._delta)(batch_df)
        if delta is None:
            return
        sums, counts = delta
        self.S += sums
        self.n += counts
        nz = self.n > 0
        self.C[nz] = self.S[nz] / self.n[nz, None]
        self.batches_seen += 1

    def _delta(self, batch_df: DataFrame):
        """Untracked per-cluster (sums, counts) of the batch, or None
        for a batch with no rows. The batch is a one-pass fit input
        (operators/kmeans._FitInput): within the driver budget it is
        folded on the driver from one bounded Arrow collect, in vec_id
        order; a larger one takes one worker pass."""
        with _FitInput(batch_df, self.C.shape[1], cache=False) as fit:
            sums, counts = fit.stats(self.C, self.cids, self.euclidean)
        return None if counts.sum() == 0 else (sums, counts)

    def _tracked_delta(self, batch_df: DataFrame):
        """Tracked per-cluster (sums, counts) of the batch, removals
        subtracted, or None for a batch with no rows, which commits
        nothing. Otherwise the batch's assignments are committed as the
        next state generation: ``state anti-join batch ∪ batch``, so a
        re-arrival's row REPLACES its old one and a first arrival
        appends, entirely in Spark; nothing data-proportional reaches
        the driver."""
        state = self._assign_state(batch_df.sparkSession)
        joined = batch_df.select("vec_id", "embedding").join(
            state.withColumnRenamed("cid", "old_cid"), "vec_id", "left"
        )
        model = (self.C, self.cids, self.euclidean)
        with _reassign_pass(joined, *model) as (delta, new_assign):
            if delta is None:
                return None
            gen = self._assign_gen + 1
            merged = state.join(new_assign, "vec_id", "left_anti").unionByName(new_assign)
            merged.write.mode("overwrite").parquet(self._gen_path(gen))
        self._assign_gen = gen
        self._assign_df = None  # _assign_state reads generation gen
        # Prune generation gen-2: gen is live, gen-1 stays as the
        # crash-recovery fallback (a crash between this commit and the
        # npz _save leaves meta pointing at gen-1), so on-disk state is
        # <= 2 generations = O(distinct points).
        if gen >= 2:
            import shutil

            shutil.rmtree(self._gen_path(gen - 2), ignore_errors=True)
        return delta

    def foreach_batch(self):
        def fn(batch_df, batch_id):
            if batch_id <= self.last_batch_id:
                return  # re-delivered batch already applied — no-op
            self.update_batch(batch_df)
            self.last_batch_id = int(batch_id)
            if self.state_path is not None:
                self._save()

        return fn
