"""Tracing from outside the engine.

``Tracer`` replaces layer entry points of the engine package with wrappers
that record spans (name, start, end, parent, op id) and counts in memory.
It patches module attributes only, in every loaded package module that
binds the function, so both ``from x import f`` at import time and
``from x import f`` inside a function body reach the wrapper. ``restore``
puts the originals back.

``SparkOps`` reads Spark's own status store for the jobs of one op: every
op runs under its own job group, and a job outside the op groups (the
engine's background scratch writer runs on its own thread, a streaming
query on the stream's) is charged to the op during which it was
submitted.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "music_recommendation_service_spark"
# Job-group prefix of the ops a traced run times.
OP_GROUP = "perfbench:"

# (module, function, span name) for every layer boundary the traced run
# wraps. The span name's prefix before the last dot is the layer.
BOUNDARIES = (
    ("session", "get_spark", "session.get_spark"),
    ("sources.catalog", "load_table", "sources.catalog.load_table"),
    ("sources.catalog", "spread_if_narrow", "sources.catalog.spread_if_narrow"),
    ("sources.catalog", "rows_in_files", "sources.catalog.rows_in_files"),
    ("sources.catalog", "fits_broadcast", "sources.catalog.fits_broadcast"),
    ("sources.writers", "scratch_materialize", "sources.writers.scratch_materialize"),
    ("sources.writers", "scratch_lookup", "sources.writers.scratch_lookup"),
    ("sources.writers", "scratch_materialize_async", "sources.writers.scratch_materialize_async"),
    ("sources.writers", "scratch_drain_async", "sources.writers.scratch_drain_async"),
    ("sources.writers", "write_table", "sources.writers.write_table"),
    ("sources.writers", "write_partitioned", "sources.writers.write_partitioned"),
    ("sources.snapshots", "snapshot_merge", "sources.snapshots.snapshot_merge"),
)

# Plan modules whose public functions are wrapped as ``plans.<module>.<fn>``
# spans (the medallion pipeline calls the music_domain ones directly).
PLAN_MODULES = ("plans.music_domain",)


class Tracer:
    """In-memory span recorder. One instance per run; not reentrant across
    runs. Spans of one op share ``op``; ``parent`` is the enclosing span on
    the same thread."""

    def __init__(self, spark):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._next = 0
        self._group_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            "thread": threading.current_thread().name,
            **attrs,
        }
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def mark(self) -> int:
        """The id the next span will get: spans from here on have ids >= it."""
        return self._next

    def jobs_now(self) -> int:
        """Jobs launched so far under the current op's job group."""
        return len(self._group_jobs(OP_GROUP + self.op)) if self.op else 0

    # -- patching ------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                jobs0 = tracer.jobs_now()
                out = fn(*args, **kwargs)
                rec["jobs"] = tracer.jobs_now() - jobs0
                rec["hit"] = _is_hit(name, out, rec["jobs"])
                return out

        return traced

    def _patch_everywhere(self, fn, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        import importlib
        import inspect

        for mod_name, attr, span in BOUNDARIES:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            fn = getattr(mod, attr)
            self._patch_everywhere(fn, self._wrap(fn, span))
        for mod_name in PLAN_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    self._patch_everywhere(fn, self._wrap(fn, f"{mod_name}.{attr}"))

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()

    def dump(self, path: str, meta: dict) -> None:
        """Write the spans as JSON lines, the run's metadata first."""
        with open(path, "w") as fh:
            fh.write(json.dumps({"meta": meta}) + "\n")
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def _is_hit(name: str, out, jobs: int) -> bool | None:
    """A scratch read served from the cache: a lookup that found a copy, or
    a materialize that launched no Spark job (a miss writes the copy)."""
    if name.endswith("scratch_lookup"):
        return out is not None
    if name.endswith("scratch_materialize"):
        return jobs == 0
    return None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


class SparkOps:
    """Per-op job, stage and task metrics from Spark's status store.

    A job is charged to an op when it ran under the op's job group, or when
    it ran under no op's group (the engine's background scratch writer, a
    streaming query's micro-batches) and was submitted during the op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._next_job = 0
        self._foreign: dict[int, tuple[float, float]] = {}

    def begin(self, op: str) -> None:
        self.sc.setJobGroup(OP_GROUP + op, op)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def _window(jd) -> tuple[float, float] | None:
        sub = jd.submissionTime()
        if not sub.isDefined():
            return None
        done = jd.completionTime()
        end = done.get().getTime() / 1e3 if done.isDefined() else time.time()
        return sub.get().getTime() / 1e3, end

    def _scan_new_jobs(self) -> None:
        """Note every job submitted since the last scan that ran outside
        the op groups, with its [submitted, completed] epoch window."""
        from py4j.protocol import Py4JJavaError

        while True:
            try:
                jd = self.store.job(self._next_job)
            except Py4JJavaError:  # no such job (yet)
                return
            group = jd.jobGroup()
            if not (group.isDefined() and group.get().startswith(OP_GROUP)):
                w = self._window(jd)
                if w is not None:
                    self._foreign[self._next_job] = w
            self._next_job += 1

    def collect(self, op: str, t0: float, t1: float) -> dict:
        """Metrics of the jobs charged to ``op``, which ran over the epoch
        interval [t0, t1]. Also returns ``driver_gap_s``: the part of the
        interval not covered by any of those jobs."""
        self._scan_new_jobs()
        jobs = {}
        for j in self.tracker.getJobIdsForGroup(OP_GROUP + op):
            w = self._window(self.store.job(j))
            if w is not None:
                jobs[j] = w
        for j, w in list(self._foreign.items()):
            if t0 <= w[0] <= t1:
                jobs[j] = self._window(self.store.job(j)) or w
            if w[0] <= t1:
                del self._foreign[j]
        m = defaultdict(float)
        m["jobs"] = len(jobs)
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # a skipped stage has no attempt
                    continue
                m["stages"] += 1
                m["tasks"] += sd.numTasks()
                m["task_run_s"] += sd.executorRunTime() / 1e3
                m["task_cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        covered = 0.0
        cur_s = cur_e = None
        for s, e in sorted(jobs.values()):
            s, e = max(s, t0), min(e, t1)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        m["driver_gap_s"] = max(0.0, (t1 - t0) - covered)
        return dict(m)
