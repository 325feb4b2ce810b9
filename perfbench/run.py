"""Benchmark of the music analytics engine, end to end and by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see ``workloads.py``):

- ``headline-warm``: the 14 ``bench=True`` registry queries, each op one
  ``QueryDef.build`` plus a noop write. Set-up holds the session start, the
  cold first sweep and a warm-up sweep that fetches every result for the
  DuckDB oracle check; the timed warm sweeps run in a seed-shuffled order.
- ``ingest``: ``pipelines.run_full_pipeline`` over a music source generated
  from the seed (each op one ``land()`` step), then seeded events replayed
  as JSON files, one file per trigger, through ``stream_from_directory ->
  tumbling_counts -> foreach_batch_merge`` (each op one micro-batch).

The run fits itself to the host: ``local[<cores>]`` with cores from the
CPU affinity mask, and a driver heap of a quarter of the host's memory
(1-8 GB), passed through the engine's ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``. Everything the run writes (inputs, scratch
cache, Spark local and temp dirs, lake tables) lives in a private
directory under ``.perfbench_work/`` that is deleted at the end; only the
traced run's span file is kept, in ``.perfbench_work/traces/``.

End-to-end metrics, the last line's gate: ``setup_s`` (process start
until the first timed op, input generation excluded) and ``cpu_s`` (median
CPU seconds a timed unit used: driver, JVM and Python workers). The report
before it also prints ``wall_s`` (median wall time of a timed unit),
``throughput_rows_s``, ``op_p50_s``, the tail percentile with at least ten
samples beyond it, ``error_rate``, the driver JVM's peak RSS and the host's
steal share. Wall times stay out of the gate because on a shared 4-core
VM the neighbours take CPU in bursts of minutes: measured there, a warm
sweep run in a burst was up to 60% slower and used about 20% more CPU.

With ``--trace 0`` the last stdout line is one JSON object carrying the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics,
read from spans that wrap the engine's layer entry points from outside
the package (``tracing.py``) and from Spark's status store. Lines before
it are a readable report. Exit code 0 means the run completed; its
``correct`` field says whether every output check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "music_recommendation_service_spark"

# (name, unit): the end-to-end metrics, reported by every workload.
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s", "s"),
)

# (name, unit): the per-layer metrics of a traced run. A metric that a
# workload does not exercise reads 0. Time and count metrics are per unit
# of work (one sweep, pipeline run or stream drain), medians over units.
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("sources.writers.scratch_calls", "count"),
    ("sources.writers.scratch_hits", "count"),
    ("sources.writers.scratch_hit_ratio", "ratio"),
    ("sources.writers.scratch_s", "s"),
    ("sources.writers.scratch_async_wait_s", "s"),
    ("sources.writers.scratch_bytes", "bytes"),
    ("sources.catalog.load_calls", "count"),
    ("sources.catalog.load_s", "s"),
    ("sources.catalog.footer_s", "s"),
    ("sources.catalog.spread_s", "s"),
    ("sources.catalog.spread_jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.core_busy_ratio", "ratio"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("q05.build_s", "s"),
    ("q05.exec_s", "s"),
    ("q05.task_cpu_s", "s"),
    ("q05.spill_bytes", "bytes"),
    ("q27.build_s", "s"),
    ("q27.exec_s", "s"),
    ("q27.task_cpu_s", "s"),
    ("q27.spill_bytes", "bytes"),
    ("pipelines.bronze_s", "s"),
    ("pipelines.silver_s", "s"),
    ("pipelines.gold_s", "s"),
    ("sources.writers.write_s", "s"),
    ("sources.writers.lake_bytes", "bytes"),
    ("sources.writers.lake_bytes_per_input_byte", "ratio"),
    ("sources.snapshots.merge_calls", "count"),
    ("sources.snapshots.merge_s", "s"),
    ("sources.snapshots.merge_retries", "count"),
    ("sources.snapshots.table_files", "count"),
    ("sources.snapshots.table_bytes", "bytes"),
    ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.commit_offsets_s", "s"),
    ("streaming.latest_offset_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "bytes"),
    ("trace.overhead_s", "s"),
    ("cold.sweep_s", "s"),
    ("cold.plans.build_s", "s"),
    ("cold.plans.build_jobs", "count"),
    ("cold.sources.writers.scratch_calls", "count"),
    ("cold.sources.writers.scratch_hits", "count"),
    ("cold.sources.writers.scratch_s", "s"),
    ("cold.sources.catalog.load_s", "s"),
    ("cold.sources.catalog.footer_s", "s"),
    ("cold.spark.driver_gap_s", "s"),
    ("cold.spark.task_cpu_s", "s"),
)

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(sorted_vals: list[float], p: float) -> float:
    """Linear-interpolated percentile of an ascending list."""
    k = (len(sorted_vals) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (k - lo)


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest ladder percentile with at least
    ten samples beyond it, or None when there are fewer than 20 samples."""
    n = len(latencies)
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= 10:
            return p, percentile(sorted(latencies), p)
    return None


def _environment(work: Path, cores: int, heap_gb: int) -> None:
    for d in ("scratch", "tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        SPARK_GRAFT_SCRATCH=str(work / "scratch"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--driver-java-options",
                shlex.quote(java_opts),
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={shlex.quote(str(work / 'warehouse'))}",
                "pyspark-shell",
            ]
        ),
    )


def _generate(workload: str, data: Path, seed: int) -> int:
    """Write the workload's inputs; return its input rows per unit."""
    import datagen
    import workloads as w

    if workload == "headline-warm":
        return sum(datagen.write_star_schema(str(data), seed, w.HEADLINE_SF).values())
    music = datagen.write_music_source(str(data / "music"), seed, **w.MUSIC)
    stream = data / "stream"
    datagen.write_event_files(str(stream), seed, **w.STREAM)
    # The file source replays in modification-time order: pin it to the
    # event-time order of the file names.
    for i, name in enumerate(sorted(os.listdir(stream))):
        os.utime(stream / name, (1_700_000_000 + i, 1_700_000_000 + i))
    return music["fact_listening_events"] + w.STREAM["rows"]


def _layer_values(res, extra: dict) -> dict:
    """Per-layer metric values: medians over units (untraced units where
    they carry the metric, else traced ones), then workload-level values."""
    vals: dict[str, float] = {}
    for key, _unit in PER_LAYER:
        for traced in (False, True):
            xs = [u.layers[key] for u in res.timed(traced) if key in u.layers]
            if xs:
                vals[key] = statistics.median(xs)
                break
    vals.update(res.layers)
    vals.update(extra)
    if res.timed(True) and res.timed(False):
        vals["trace.overhead_s"] = statistics.median(
            u.wall_s for u in res.timed(True)
        ) - statistics.median(u.wall_s for u in res.timed(False))
    return {k: float(vals.get(k, 0.0)) for k, _ in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still stops Spark and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import host
    import workloads as w

    if args.workload not in w.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(w.WORKLOADS)}", file=sys.stderr)
        return 2

    cores, heap_gb = host.fit_host()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cores, heap_gb)
    data = work / "data"
    spark = None
    try:
        t = time.perf_counter()
        input_rows = _generate(args.workload, data, args.seed)
        gen_s = time.perf_counter() - t

        from music_recommendation_service_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        master = spark.sparkContext.master

        ctx = w.Ctx(
            spark, str(work), str(data), input_rows, args.seed, args.seconds, bool(args.trace)
        )
        res = w.WORKLOADS[args.workload](ctx, cores)

        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss = host.jvm_peak_rss_mb(jvm.pid) if jvm else 0.0
        scratch_bytes = host.dir_bytes(str(work / "scratch"))[1]
        span_file = None
        if args.trace:
            traces = ROOT / ".perfbench_work" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            span_file = traces / f"{args.workload}-seed{args.seed}.jsonl"
            ctx.tracer.dump(
                str(span_file),
                {"workload": args.workload, "seed": args.seed, "master": master,
                 "cores": cores, "heap": f"{heap_gb}g"},
            )
    finally:
        try:
            if spark is not None:
                host.stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    timed = res.timed(False)
    ops = [op for u in timed for op in u.ops]
    ok_lat = sorted(op.latency_s for op in ops if op.ok)
    # A failed op stays in the sample, above every completed one.
    worst = max(u.wall_s for u in timed)
    lat = ok_lat + [worst] * sum(not op.ok for op in ops)
    failed_checks = sum(not ok for _, ok, _ in res.checks)
    attempted = len(ops) + len(res.checks)
    failed = sum(not op.ok for op in ops) + failed_checks
    wall = statistics.median(u.wall_s for u in timed)
    e2e = {
        "setup_s": res.setup_end - T_START - gen_s,
        "cpu_s": statistics.median(u.cpu_s for u in timed),
    }
    tl = tail(lat)

    out = print
    out(f"perfbench {args.workload} seed={args.seed} master={master} cores={cores} "
        f"heap={heap_gb}g units={len(timed)} ops={len(ops)} inputs={input_rows} rows "
        f"(generated in {gen_s:.2f} s, not in setup_s)")
    for name, unit in END_TO_END:
        out(f"  {name:20s} {e2e[name]:14.4f} {unit}")
    out(f"  {'wall_s':20s} {wall:14.4f} s")
    out(f"  {'throughput_rows_s':20s} {input_rows / wall:14.4f} 1/s")
    out(f"  {'op_p50_s':20s} {percentile(lat, 50):14.4f} s   (n={len(lat)})")
    if tl:
        out(f"  {'op_tail_s':20s} {tl[1]:14.4f} s   (p{tl[0]:g} of n={len(lat)})")
    else:
        out(f"  {'op_tail_s':20s} {'n/a':>14s}     (n={len(lat)} < 20 samples)")
    out(f"  {'error_rate':20s} {failed / attempted:14.4f} ratio ({failed} failed of {attempted}: "
        f"{len(ops)} ops + {len(res.checks)} checks)")
    out(f"  {'peak_rss_mb':20s} {peak_rss:14.1f} MB  (driver JVM VmHWM)")
    out(f"  host steal: {res.steal:.1%} over the timed phase; per unit "
        + ", ".join(f"{u.steal:.1%}" for u in timed))
    for name, ok, detail in res.checks:
        out(f"  check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for op in ops:
        if not op.ok:
            out(f"  op FAIL {op.name} (unit {op.unit}): {op.error}")
    for line in res.report:
        out(line)

    if args.trace:
        layers = _layer_values(
            res,
            {"session.start_s": session_s, "session.jvm_peak_rss_mb": peak_rss,
             "sources.writers.scratch_bytes": scratch_bytes},
        )
        out(f"  spans: {span_file} ({len(ctx.tracer.spans)} spans)")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    out(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
