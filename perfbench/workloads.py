"""The benchmark's workloads.

Each workload drives the engine only through its public entry points and
repeats one unit of work until ``seconds`` have passed and a minimum
number of units ran:

- ``headline-warm``: a unit is one sweep of the 14 headline queries, each
  op one query run. Only warm sweeps are timed.
- ``ingest``: a unit is one medallion pipeline run followed by one stream
  drain; each op is one ``land()`` step or one micro-batch. The first unit
  in the fresh process is timed, the cost a once-a-day job pays.

Every op is timed, and an op that raises or times out is kept in the
sample as failed. With tracing on, the timed units alternate untraced and
traced, so JIT warm-up drifts both halves alike and ``trace.overhead_s``
compares like with like.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import host
from tracing import SparkOps, Tracer, self_times

OP_TIMEOUT_S = 90.0
# The first micro-batch of a drain starts the query and its state store;
# it counts as warm-up and stays out of the op sample.
WARMUP_BATCHES = 1

# Input sizes: small enough that one run of each workload stays near a
# minute on a 4-core host, where fixed per-query and per-job costs already
# dominate, while every path keeps its real shape.
HEADLINE_SF = 0.01
MUSIC = {"users": 150, "songs": 500, "events": 8_000}
PIPELINE_ANCHOR = "2024-02-08"
RECO_K = 5
STREAM = {"rows": 6_000, "users": 150, "files": 3}


@dataclass
class Op:
    name: str
    unit: int
    latency_s: float
    ok: bool
    error: str = ""


@dataclass
class Unit:
    wall_s: float
    traced: bool
    ops: list[Op] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    steal: float = 0.0


@dataclass
class Result:
    units: list[Unit] = field(default_factory=list)
    setup_end: float = 0.0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    report: list[str] = field(default_factory=list)
    steal: float = 0.0

    def timed(self, traced: bool = False) -> list[Unit]:
        return [u for u in self.units if u.traced == traced]


class Ctx:
    """What a workload gets from the runner."""

    def __init__(
        self, spark, work: str, data: str, input_rows: int, seed: int, seconds: float, trace: bool
    ):
        self.spark = spark
        self.work = work
        self.data = data
        self.input_rows = input_rows
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(spark) if trace else None
        self.sparkops = SparkOps(spark) if trace else None


class _Watchdog:
    """Cancels every running Spark job once ``seconds`` pass, so a stuck op
    fails instead of hanging the run."""

    def __init__(self, spark, seconds: float):
        self._timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)
        self._timer.daemon = True

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        self._timer.join()


def _run_units(ctx: Ctx, res: Result, unit_fn, min_units: int) -> None:
    """Call ``unit_fn(index, traced)`` until ``ctx.seconds`` have passed and
    ``min_units`` units ran; with tracing, alternate untraced and traced
    units, at least ``min_units`` of each. Each unit records the CPU seconds
    it used and the host's steal share while it ran."""
    jvm = ctx.spark.sparkContext._gateway.proc.pid
    t0 = time.perf_counter()
    _, start = host.cpu_now(jvm)
    i = 0
    while True:
        kinds = [u.traced for u in res.units]
        enough = kinds.count(False) >= min_units and (
            not ctx.trace or kinds.count(True) >= min_units
        )
        if enough and time.perf_counter() - t0 >= ctx.seconds:
            break
        traced = ctx.trace and i % 2 == 1
        if traced:
            ctx.tracer.install()
        cpu0, host0 = host.cpu_now(jvm)
        try:
            unit = unit_fn(i, traced)
        finally:
            if traced:
                ctx.tracer.restore()
        cpu1, host1 = host.cpu_now(jvm)
        unit.cpu_s, unit.steal = cpu1 - cpu0, host.steal(host0, host1)
        res.units.append(unit)
        i += 1
    res.steal = host.steal(start, host.cpu_now(jvm)[1])


# ----------------------------------------------------------------------
# shared per-layer aggregation over the spans of one traced unit
# ----------------------------------------------------------------------
SCRATCH_READS = ("sources.writers.scratch_materialize", "sources.writers.scratch_lookup")
FOOTER = ("sources.catalog.rows_in_files", "sources.catalog.fits_broadcast")


def span_layers(spans: list[dict]) -> dict:
    by_id = {s["id"]: s for s in spans}
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for s in spans:
        n, d = s["name"], s["end"] - s["start"]
        parent = by_id.get(s["parent"], {}).get("name")
        if n == "plans.build":
            add("plans.build_s", d)
            add("plans.build_jobs", s.get("jobs", 0))
        elif n in SCRATCH_READS or n == "sources.writers.scratch_materialize_async":
            add("sources.writers.scratch_calls", 1)
            add("sources.writers.scratch_hits", 1 if s.get("hit") else 0)
            add("sources.writers.scratch_s", d)
        elif n == "sources.writers.scratch_drain_async":
            add("sources.writers.scratch_async_wait_s", d)
        elif n == "sources.catalog.load_table":
            add("sources.catalog.load_calls", 1)
            add("sources.catalog.load_s", d)
        elif n in FOOTER and parent not in FOOTER:
            add("sources.catalog.footer_s", d)
        elif n == "sources.catalog.spread_if_narrow":
            add("sources.catalog.spread_s", d)
            add("sources.catalog.spread_jobs", s.get("jobs", 0))
        elif n in ("sources.writers.write_table", "sources.writers.write_partitioned"):
            add("sources.writers.write_s", d)
        elif n == "sources.snapshots.snapshot_merge":
            add("sources.snapshots.merge_calls", 1)
            add("sources.snapshots.merge_s", d)
    calls = m.get("sources.writers.scratch_calls", 0)
    if calls:
        m["sources.writers.scratch_hit_ratio"] = m["sources.writers.scratch_hits"] / calls
    return m


def _op(ctx: Ctx, name: str, unit: int, fn) -> Op:
    """Run one op, timed; with tracing, under its own job group and span."""
    tr, so = ctx.tracer, ctx.sparkops
    traced = tr is not None and tr.installed
    if traced:
        op_id = f"u{unit}:{name}"
        tr.op = op_id
        so.begin(op_id)
        e0 = time.time()
    t0 = time.perf_counter()
    ok, err = True, ""
    try:
        with _Watchdog(ctx.spark, OP_TIMEOUT_S):
            if traced:
                with tr.span("op", query=name):
                    fn()
            else:
                fn()
    except Exception as exc:  # the op failed: keep it in the sample
        ok, err = False, f"{type(exc).__name__}: {str(exc)[:200]}"
    latency = time.perf_counter() - t0
    if traced:
        e1 = time.time()
        so.end()
        op_spans = [s for s in tr.spans if s["op"] == op_id]
        root = next(s for s in op_spans if s["name"] == "op")
        root["spark"] = so.collect(op_id, e0, e1)
        tr.op = None
    return Op(name, unit, latency, ok, err)


def _spark_layers(spans: list[dict], cores: int, wall: float) -> dict:
    m: dict[str, float] = {}
    for s in spans:
        if s["name"] == "op":
            for k, v in s["spark"].items():
                m[f"spark.{k}"] = m.get(f"spark.{k}", 0.0) + v
    if "spark.task_run_s" in m:
        m["spark.core_busy_ratio"] = m["spark.task_run_s"] / (wall * cores)
    return m


def _trace_unit(ctx: Ctx, unit: Unit, first_span: int, cores: int) -> None:
    """Add the per-layer metrics of the spans recorded since ``first_span``."""
    spans = [s for s in ctx.tracer.spans if s["id"] >= first_span]
    unit.layers.update(span_layers(spans))
    unit.layers.update(_spark_layers(spans, cores, unit.wall_s))


# ----------------------------------------------------------------------
# headline-warm
# ----------------------------------------------------------------------
def _same_result(cols, rows, d_cols, d_rows) -> tuple[bool, str]:
    """Compare a Spark result with its DuckDB oracle in the canonical form
    of tests/oracle.py, by SHA-256 digest. When the digests differ, rows
    still match if every float agrees within a relative 1e-8: the two
    engines sum in different orders, and a sum that lands within an ulp of
    a rounding boundary (``round(x, 2)`` of 2394212.015) can round either
    way; the generated inputs hit such sums on some seeds."""
    from tests.oracle import _canon

    a, b = _canon(cols, rows), _canon(d_cols, d_rows)
    if _sha(a) == _sha(b):
        return True, "digest = oracle"
    if a[0] != b[0] or len(a[1]) != len(b[1]):
        return False, "digest != oracle (columns or row count differ)"
    for ra, rb in zip(a[1], b[1]):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-8):
                    return False, f"digest != oracle: {ra} vs {rb}"
            elif x != y:
                return False, f"digest != oracle: {ra} vs {rb}"
    return True, "digest != oracle, rows equal within 1e-8 relative"


def _sha(canon) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def headline_warm(ctx: Ctx, cores: int) -> Result:
    from music_recommendation_service_spark.plans import registry

    spark, data = ctx.spark, ctx.data
    queries = [q for _, q in sorted(registry().items()) if q.bench]
    res = Result()

    def sweep(unit: int, order, traced: bool, sink) -> Unit:
        first = ctx.tracer.mark() if traced else 0
        t0 = time.perf_counter()
        u = Unit(0.0, traced)
        for q in order:

            def run(q=q):
                if traced:
                    with ctx.tracer.span("plans.build", query=q.name) as rec:
                        j0 = ctx.tracer.jobs_now()
                        df = q.build(spark, data)
                        rec["jobs"] = ctx.tracer.jobs_now() - j0
                    with ctx.tracer.span("spark.execute", query=q.name):
                        sink(q, df)
                else:
                    sink(q, q.build(spark, data))

            u.ops.append(_op(ctx, q.name, unit, run))
        u.wall_s = time.perf_counter() - t0
        if traced:
            _trace_unit(ctx, u, first, cores)
        return u

    def noop(_q, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    results: dict[str, tuple[list[str], list[tuple]]] = {}

    def fetch(q, df) -> None:
        table = df.toArrow()
        rows = list(zip(*(c.to_pylist() for c in table.columns))) if table.num_columns else []
        results[q.name] = (table.column_names, rows)

    # Set-up: the first (cold) sweep in the fresh process, then a warm-up
    # sweep that fetches every result for the oracle checks, so the checks
    # cover the warm path the timed sweeps take. The third sweep onward is
    # where sweep times settle on a 4-core host (JIT still compiles q05
    # during the second).
    if ctx.trace:
        ctx.tracer.install()
    try:
        cold = sweep(-2, queries, ctx.trace, noop)
    finally:
        if ctx.trace:
            ctx.tracer.restore()
    warm_up = sweep(-1, queries, False, fetch)
    res.setup_end = time.perf_counter()

    rng = random.Random(ctx.seed)

    def timed(unit: int, traced: bool) -> Unit:
        order = list(queries)
        rng.shuffle(order)
        return sweep(unit, order, traced, noop)

    # A traced run alternates three untraced and three traced sweeps: the
    # per-query comparison below needs more than one sample a side.
    _run_units(ctx, res, timed, min_units=3 if ctx.trace else 1)

    # Checks, outside the timed region: every query's result digest against
    # its DuckDB oracle, and no empty results.
    from tests.oracle import duck_run

    for op in cold.ops + warm_up.ops:
        if not op.ok:
            res.checks.append((op.name, False, op.error))
    for q in queries:
        if q.name not in results:
            continue
        cols, rows = results[q.name]
        if not rows:
            res.checks.append((q.name, False, "empty result"))
            continue
        try:
            ok, how = _same_result(cols, rows, *duck_run(data, q.oracle))
        except Exception as exc:  # the oracle itself failed
            ok, how = False, repr(exc)[:200]
        res.checks.append((q.name, ok, f"{len(rows)} rows, {how}"))

    if ctx.trace:
        cold_l = cold.layers
        res.layers.update(
            {
                "cold.sweep_s": cold.wall_s,
                **{f"cold.{k}": cold_l.get(k, 0.0) for k in COLD_KEYS},
            }
        )
        for name in ("q05_hybrid_recommendations", "q27_ngram_jaccard_neardup"):
            res.layers.update(_query_layers(ctx, res, name))
        res.report += _attribution(ctx, res)
    return res


COLD_KEYS = (
    "plans.build_s",
    "plans.build_jobs",
    "sources.writers.scratch_calls",
    "sources.writers.scratch_hits",
    "sources.writers.scratch_s",
    "sources.catalog.load_s",
    "sources.catalog.footer_s",
    "spark.driver_gap_s",
    "spark.task_cpu_s",
)


def _query_layers(ctx: Ctx, res: Result, name: str) -> dict:
    """build_s, exec_s, task_cpu_s and spill_bytes of one query, medians
    over the traced sweeps."""
    short = name.split("_")[0]
    vals: dict[str, list[float]] = {}
    for u in res.timed(traced=True):
        op_id = f"u{u.ops[0].unit}:{name}"
        spans = [s for s in ctx.tracer.spans if s["op"] == op_id]
        get = {s["name"]: s for s in spans}
        row = {
            "build_s": get["plans.build"]["end"] - get["plans.build"]["start"],
            "exec_s": get["spark.execute"]["end"] - get["spark.execute"]["start"],
            "task_cpu_s": get["op"]["spark"].get("task_cpu_s", 0.0),
            "spill_bytes": get["op"]["spark"].get("spill_bytes", 0.0),
        }
        for k, v in row.items():
            vals.setdefault(k, []).append(v)
    return {f"{short}.{k}": statistics.median(v) for k, v in vals.items()}


def _attribution(ctx: Ctx, res: Result) -> list[str]:
    """Per query: span self times by layer (the root op span's own self
    time is the unattributed rest) and the driver gap, against the query's
    untraced median wall time."""
    untraced: dict[str, list[float]] = {}
    for u in res.timed():
        for op in u.ops:
            untraced.setdefault(op.name, []).append(op.latency_s)
    st = self_times(ctx.tracer.spans)
    lines = [
        "attribution (medians over sweeps): query | untraced wall_s | attributed_s "
        "| within 10% | share of traced wall | driver_gap_s | top self times"
    ]
    within = 0
    for name in sorted(untraced):
        att, gap, share, layer_self = [], [], [], {}
        for u in res.timed(traced=True):
            op_id = f"u{u.ops[0].unit}:{name}"
            spans = [s for s in ctx.tracer.spans if s["op"] == op_id]
            root = next(s for s in spans if s["name"] == "op")
            att.append(sum(st[s["id"]] for s in spans if s["name"] != "op"))
            share.append(att[-1] / (root["end"] - root["start"]))
            gap.append(root["spark"]["driver_gap_s"])
            for s in spans:
                if s["name"] != "op":
                    layer_self[s["name"]] = layer_self.get(s["name"], 0.0) + st[s["id"]]
        base = statistics.median(untraced[name])
        a = statistics.median(att)
        ok = abs(a - base) <= 0.1 * base
        within += ok
        n = len(att)
        top = sorted(layer_self.items(), key=lambda kv: -kv[1])[:3]
        tops = ", ".join(f"{k}={v / n:.3f}" for k, v in top)
        lines.append(
            f"  {name:40s} {base:7.3f} {a:7.3f} {'yes' if ok else 'NO ':3s} "
            f"{statistics.median(share):6.1%} {statistics.median(gap):7.3f}  {tops}"
        )
    lines.append(f"  {within}/{len(untraced)} queries attributed within 10% of untraced wall")
    return lines


# ----------------------------------------------------------------------
# ingest: the medallion pipeline, then the stream
# ----------------------------------------------------------------------
class _Pipeline:
    """``run_full_pipeline`` into a fresh lake; each op is one ``land()``
    step, timed between the ends of consecutive lake writes (the writes
    are observed by rebinding the two writer names ``pipelines`` uses)."""

    def __init__(self, ctx: Ctx, src: str):
        from music_recommendation_service_spark import pipelines

        self.ctx, self.src, self.lake = ctx, src, None
        self.src_bytes = host.dir_bytes(src)[1]
        self.marks: list[tuple[str, float]] = []
        self._pipelines = pipelines
        self._saved = (pipelines.write_table, pipelines.write_partitioned)
        pipelines.write_table = self._boundary("write_table")
        pipelines.write_partitioned = self._boundary("write_partitioned")

    def _boundary(self, writer: str):
        from music_recommendation_service_spark.sources import writers

        def write(df, path, *cols):
            getattr(writers, writer)(df, path, *cols)
            self.marks.append((path, time.perf_counter()))

        return write

    def close(self) -> None:
        self._pipelines.write_table, self._pipelines.write_partitioned = self._saved

    def unit(self, unit: int, u: Unit) -> None:
        if self.lake:
            shutil.rmtree(self.lake, ignore_errors=True)
        self.lake = os.path.join(self.ctx.work, f"lake-{unit}")
        self.marks.clear()
        t0 = time.perf_counter()

        def run():
            self._pipelines.run_full_pipeline(
                self.ctx.spark, self.src, self.lake, PIPELINE_ANCHOR, k=RECO_K
            )

        whole = _op(self.ctx, "run_full_pipeline", unit, run)
        prev = t0
        steps: dict[str, float] = {}
        for path, t in self.marks:
            name = os.path.relpath(path, self.lake)
            u.ops.append(Op(name, unit, t - prev, True))
            layer = f"pipelines.{name.split('/')[0]}_s"
            steps[layer] = steps.get(layer, 0.0) + t - prev
            prev = t
        if not whole.ok or len(self.marks) != 10:
            u.ops.append(Op("run_full_pipeline", unit, whole.latency_s, False, whole.error))
        u.layers.update(steps)
        lake_bytes = host.dir_bytes(self.lake)[1]
        u.layers["sources.writers.lake_bytes"] = lake_bytes
        u.layers["sources.writers.lake_bytes_per_input_byte"] = lake_bytes / self.src_bytes

    def checks(self) -> list[tuple[str, bool, str]]:
        """The tests/test_pipeline_e2e.py invariants on the last run's lake."""
        from pyspark.sql import functions as F

        spark, lake = self.ctx.spark, self.lake
        events = spark.read.parquet(f"{self.src}/fact_listening_events.parquet")
        bronze = spark.read.parquet(f"{lake}/bronze/fact_listening_events")
        gold = spark.read.parquet(f"{lake}/gold/hybrid_recommendations")
        n_src, n_bronze, n_gold = events.count(), bronze.count(), gold.count()
        most = gold.groupBy("user_id").count().agg(F.max("count")).first()[0] or 0
        likes = bronze.filter(F.col("event_type") == "like").select("user_id", "track_id").distinct()
        liked = gold.join(likes, ["user_id", "track_id"]).count()
        return [
            ("bronze rows == source rows", n_src == n_bronze, f"{n_bronze}/{n_src}"),
            ("gold non-empty", n_gold > 0, f"{n_gold} rows"),
            (f"<= {RECO_K} recos per user", 0 < most <= RECO_K, f"max {most}"),
            ("no liked track recommended", liked == 0, f"{liked} liked"),
        ]


def _event_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


KEYS = ("window_start", "event_type")

PROGRESS = {
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}


class _Stream:
    """One drain of the landing directory, one file per trigger, through
    ``tumbling_counts`` into ``foreach_batch_merge`` (update mode); each
    op is one micro-batch, timed by Spark's own ``triggerExecution``."""

    def __init__(self, ctx: Ctx, src: str):
        self.ctx, self.src, self.last = ctx, src, None
        self.schema = _event_schema()

    def unit(self, unit: int, u: Unit) -> None:
        from music_recommendation_service_spark.streaming.pipeline import (
            foreach_batch_merge,
            stream_from_directory,
            tumbling_counts,
        )

        if self.last:
            for d in self.last:
                shutil.rmtree(d, ignore_errors=True)
        table = os.path.join(self.ctx.work, f"table-{unit}")
        cp = os.path.join(self.ctx.work, f"checkpoint-{unit}")
        self.last = (table, cp)
        started = []

        def drain():
            stream = stream_from_directory(self.ctx.spark, self.src, self.schema, max_files_per_trigger=1)
            started.append(
                foreach_batch_merge(
                    tumbling_counts(stream), table, cp,
                    key_cols=KEYS, seq_col="n_events", output_mode="update",
                )
            )
            try:
                if not started[0].awaitTermination(OP_TIMEOUT_S):
                    raise TimeoutError("stream drain timed out")
            finally:
                if started[0].isActive:
                    started[0].stop()

        whole = _op(self.ctx, "stream_drain", unit, drain)
        progress = list(started[0].recentProgress) if started else []
        for p in progress[WARMUP_BATCHES:]:
            u.ops.append(Op(f"batch-{p['batchId']}", unit, p["durationMs"]["triggerExecution"] / 1e3, True))
        if not whole.ok:
            u.ops.append(whole)
        if progress:
            for k, v in PROGRESS.items():
                u.layers[k] = statistics.median(p["durationMs"].get(v, 0) for p in progress) / 1e3
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        if state:
            u.layers["streaming.state_rows"] = state[-1]["numRowsTotal"]
            u.layers["streaming.state_bytes"] = state[-1]["memoryUsedBytes"]
        files, size = host.dir_bytes(table)
        u.layers["sources.snapshots.table_files"] = files
        u.layers["sources.snapshots.table_bytes"] = size
        u.layers["streaming.batches"] = len(progress)

    def checks(self) -> list[tuple[str, bool, str]]:
        """The snapshot table equals the batch twin of tumbling_counts over
        the same events. Files replay in event-time order, so the watermark
        drops nothing and every window ends with its final count."""
        from music_recommendation_service_spark.sources.snapshots import snapshot_read
        from music_recommendation_service_spark.streaming.pipeline import tumbling_counts

        spark = self.ctx.spark
        twin = tumbling_counts(spark.read.schema(self.schema).json(self.src))
        want = {tuple(r[k] for k in KEYS): (r["n_events"], r["total_value"]) for r in twin.collect()}
        got = {
            tuple(r[k] for k in KEYS): (r["n_events"], r["total_value"])
            for r in snapshot_read(spark, self.last[0]).collect()
        }
        bad = [
            k for k in want
            if k not in got or want[k][0] != got[k][0] or abs(want[k][1] - got[k][1]) > 1e-6
        ]
        return [
            ("snapshot table non-empty", bool(got), f"{len(got)} windows"),
            (
                "snapshot table == batch twin",
                set(want) == set(got) and not bad,
                f"{len(got)} vs {len(want)} windows, {len(bad)} differ",
            ),
        ]


def ingest(ctx: Ctx, cores: int) -> Result:
    """One unit: the medallion pipeline run, then one stream drain. The
    first unit in the fresh process is timed: the cost a once-a-day job
    pays. A traced run warms up with one untimed unit first."""
    pipeline = _Pipeline(ctx, os.path.join(ctx.data, "music"))
    stream = _Stream(ctx, os.path.join(ctx.data, "stream"))
    res = Result()

    def unit_fn(unit: int, traced: bool) -> Unit:
        first = ctx.tracer.mark() if traced else 0
        u = Unit(0.0, traced)
        t0 = time.perf_counter()
        pipeline.unit(unit, u)
        stream.unit(unit, u)
        u.wall_s = time.perf_counter() - t0
        if traced:
            _trace_unit(ctx, u, first, cores)
            u.layers["sources.snapshots.merge_retries"] = max(
                0, u.layers.get("sources.snapshots.merge_calls", 0) - u.layers["streaming.batches"]
            )
        return u

    try:
        if ctx.trace:
            for op in unit_fn(-1, False).ops:
                if not op.ok:
                    res.checks.append((f"warm-up {op.name}", False, op.error))
        res.setup_end = time.perf_counter()
        _run_units(ctx, res, unit_fn, min_units=1)
    finally:
        pipeline.close()
    for part in (pipeline, stream):
        try:
            res.checks += part.checks()
        except Exception as exc:  # outputs missing or unreadable
            res.checks.append((f"{type(part).__name__[1:].lower()} checks", False, repr(exc)[:200]))
    return res


WORKLOADS = {
    "headline-warm": headline_warm,
    "ingest": ingest,
}
