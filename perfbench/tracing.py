"""Spans around the benchmark's calls into each layer, plus Spark engine
counters attributed per span through job groups.

A span has a name, a layer, start and end (epoch seconds), a parent and
an operation id shared by the spans of one batch, fit or query. Spans
stay in memory and are written out once, at exit, with self time per
layer: a span's duration minus the part of it its children cover.

The disabled tracer is what the end-to-end measurement uses: every
call is a no-op, so untraced runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool = False):
        self.sc = None  # SparkContext, once the session exists (job groups)
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op=None, parent=None, group=False):
        """Record a span. ``parent`` overrides the calling thread's
        innermost open span (callbacks on Spark's stream thread pass the
        drive span). ``group=True`` runs the span's Spark jobs under a
        job group named after it, so engine counters can be scoped."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        par = parent if parent is not None else (stack[-1] if stack else None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": par["id"] if par else None,
            "op": op if op is not None else (par["op"] if par else None),
            "start": time.time(),
        }
        saved = None
        if group and self.sc is not None:
            saved = self.sc.getLocalProperty(_GROUP_KEY)
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if group and self.sc is not None:
                self.sc.setLocalProperty(_GROUP_KEY, saved)
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, layer: str, start: float, end: float, parent, op=None):
        """Record a span measured elsewhere (the engine's own triggers)."""
        if not self.enabled:
            return None
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": start,
            "end": end,
        }
        with self._lock:
            self.spans.append(rec)
        return rec

    def self_times(self, spans=None) -> dict[str, float]:
        """Summed self time per layer over ``spans`` (default: all)."""
        spans = self.spans if spans is None else spans
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = 0.0
            # Children may overlap (a synthesized trigger and the update
            # inside it share a parent only through nesting), so cover
            # the union of their clipped intervals.
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
            )
            cur_s = cur_e = None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(
                0.0, s["end"] - s["start"] - covered
            )
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times(), **extra},
                f,
                indent=1,
            )


class EngineCounters:
    """Spark engine counters read from the application status store
    (which exists with the UI disabled), summed over the jobs of the
    job groups passed to :meth:`harvest`."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "input_bytes",
        "spill_bytes",
    )

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.totals = dict.fromkeys(self.FIELDS, 0.0)
        self.skews: list[float] = []
        self._seen_jobs: set[int] = set()
        jvm = sc._gateway.jvm
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def harvest(self, group: str) -> list[float]:
        """Add the counters of ``group``'s not-yet-seen jobs to the
        totals; return those jobs' durations in seconds."""
        from py4j.protocol import Py4JJavaError

        durations = []
        for jid in self.job_ids(group):
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            try:
                job = self.store.job(jid)
            except Py4JJavaError:
                continue
            self.totals["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                durations.append(
                    (done.get().getTime() - sub.get().getTime()) / 1000.0
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(int(stage_ids.apply(i)), Py4JJavaError)
        return durations

    def _add_stage(self, sid: int, err) -> None:
        try:
            attempts = self.store.stageData(sid, False, None, False, None)
        except err:
            return  # skipped stage: never ran
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.numCompleteTasks() == 0:
                continue
            t = self.totals
            t["stages"] += 1
            t["tasks"] += st.numCompleteTasks()
            t["executor_run_s"] += st.executorRunTime() / 1e3
            t["executor_cpu_s"] += st.executorCpuTime() / 1e9
            t["gc_s"] += st.jvmGcTime() / 1e3
            t["shuffle_write_bytes"] += st.shuffleWriteBytes()
            t["shuffle_read_bytes"] += st.shuffleReadBytes()
            t["input_bytes"] += st.inputBytes()
            t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numCompleteTasks() > 1:
                try:
                    dist = self.store.taskSummary(sid, st.attemptId(), self._quantiles)
                except err:
                    continue
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, mx = float(run.apply(0)), float(run.apply(1))
                    if med > 0:
                        self.skews.append(mx / med)

    def per_op(self, n_ops: int, wall_s: float, cores: int) -> dict[str, float]:
        ops = max(1, n_ops)
        out = {f"spark.{k}": v / ops for k, v in self.totals.items()}
        out["spark.busy_ratio"] = (
            self.totals["executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
        )
        skews = sorted(self.skews)
        out["spark.task_skew"] = skews[int(0.9 * (len(skews) - 1))] if skews else 0.0
        return out


def progress_field(p, key: str, default=0):
    """Read a StreamingQueryProgress field (object or dict form)."""
    try:
        return p[key]
    except (TypeError, KeyError):
        return getattr(p, key, default)

