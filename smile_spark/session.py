"""SparkSession factory tuned for the engine.

Replaces the reference's session bootstrap — thread-pool startup +
buffer-pool open (/root/reference/src/tasking/tasking.cpp:188-210,
/root/reference/src/memory/buffer_pool.cpp:61-101).  In Spark those
layers are the scheduler and the unified memory manager; what remains
for us is choosing configs that scale: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the Python boundary, and
a UTC session timezone so timestamp semantics are stable across
engines and clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a real cluster the
# caller passes master/shuffle-partitions suited to the executor count.
# All scale-sensitive knobs are here, in one place.
_DEFAULT_CONFS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, demote/promote join strategies with real stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for pandas UDFs / toPandas: the fast Python
    # boundary (row-at-a-time pickling is the slow path we never take).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic cross-engine timestamp semantics (DuckDB oracle reads
    # the same parquet as naive timestamps).
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dimension tables (region/nation/customer/
    # supplier/part at test SFs; real dims at 100 TB) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # events.parquet carries TIMESTAMP(NANOS); Spark has no ns type, so
    # read as long and convert (smile_spark.tables truncates to µs).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep parquet scans columnar and pruned.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Don't let tiny test files produce one-partition plans that would
    # hide scale bugs; on a cluster this is the default 128MB anyway.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Generated-class cache, sized to the working set.  Spark's default
    # of 100 entries thrashes: a pass of the perfbench workloads
    # compiles 126 (olap_scan_agg) or 191 (dedup_nightly_daily)
    # distinct classes, and the whole test suite at most 4807, so every
    # pass recompiled them all with Janino at 12-16 ms each.  The bound
    # is about twice the suite's count.  Static: it only applies when
    # this dict configures the JVM's first session.
    "spark.sql.codegen.cache.maxEntries": "10000",
    # AQE numbers whole-stage codegen stages in the order its query
    # stages finish, so with the id in the class name one pipeline got
    # a new source text, and a recompile, whenever that order changed.
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.ui.enabled": "false",
}


def _default_driver_memory() -> str:
    """Two-thirds of the memory this process may use — the smaller of
    physical memory and a readable cgroup v2 ``memory.max`` — capped
    at 64g.  The remaining third is for the JVM's off-heap memory
    and the Python workers."""
    cap = 64 << 30
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = min(limit, int(f.read()))
    except (OSError, ValueError):  # absent, or "max" (no limit)
        pass
    return f"{min(cap, limit * 2 // 3) >> 20}m"


# local[*] runs driver+executors in ONE JVM whose heap defaults to 1g —
# 32 concurrent tasks OOM in any spilling sort/agg at sf0.1.  Size the
# heap to the machine (cluster deployments set executor memory via
# spark-submit instead; this only applies when WE launch the JVM).
_DRIVER_MEMORY = (
    os.environ.get("SPARK_GRAFT_DRIVER_MEMORY") or _default_driver_memory()
)


def get_spark(
    app_name: str = "smile-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``; on a cluster, pass the real master / rely on
    spark-submit.  ``shuffle_partitions`` defaults to 2× the local
    parallelism — at 100 TB you'd size this (or leave AQE's initial
    partition number high) so each task shuffles 100-200 MB.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_DEFAULT_CONFS)
    if master.startswith("local"):
        # Must be set before the JVM starts; no-op via .config on an
        # already-running session (getOrCreate reuses it then).
        confs["spark.driver.memory"] = _DRIVER_MEMORY
        confs["spark.driver.maxResultSize"] = "4g"
        # G1 keeps pause times sane on a multi-ten-GB heap; the default
        # collector's full GCs show up as multi-second timing outliers.
        confs["spark.driver.extraJavaOptions"] = "-XX:+UseG1GC"
    if shuffle_partitions is None:
        try:
            par = int(cpus) if cpus else os.cpu_count() or 8
        except ValueError:
            par = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * par)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def unpersist_checkpoint(df) -> None:
    """Free the block-manager storage behind a ``localCheckpoint``-ed
    DataFrame.

    ``DataFrame.unpersist()`` only evicts CacheManager entries
    (``.cache()``/``.persist()``); a local checkpoint instead persists
    its internal RDD directly, reachable only through the analyzed
    ``LogicalRDD``.  Session memos that discard checkpointed
    DataFrames (the bench's cold ``*_build`` rebuild loops, ADVICE r08
    #4) must release those blocks explicitly or they occupy executor
    storage for the rest of the application.

    The checkpointed data becomes UNRECOVERABLE (lineage was
    truncated) — only call this on DataFrames no live consumer will
    touch again.  Best-effort: py4j internals may shift across Spark
    versions, and a leak is preferable to a crash — but a broken py4j
    path warns ONCE so a silently-regressed no-op is detectable
    (ADVICE r09 #3) instead of reporting the leak class as fixed.
    """
    global _UNPERSIST_WARNED
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001 — leak beats crash here
        if not _UNPERSIST_WARNED:
            _UNPERSIST_WARNED = True
            import warnings

            warnings.warn(
                "unpersist_checkpoint is a no-op on this Spark build"
                f" ({type(exc).__name__}: {exc}); checkpointed blocks"
                " will leak for the life of the application",
                RuntimeWarning,
                stacklevel=2,
            )


_UNPERSIST_WARNED = False


def checkpoint_observed(df, keep=None, **aggs):
    """``localCheckpoint`` ``df`` and compute the aggregates ``aggs``
    (name -> aggregate Column) over its rows in the SAME job.

    Returns ``(checkpointed frame, {name: value})``.  This is the one
    halting idiom of the iterative loops: a round's convergence count
    rides along on the checkpoint that materializes the round (the
    Pregelix superstep aggregate) instead of costing a second
    ``count()``/``isEmpty()`` job over the checkpointed result.
    ``keep`` (column names) narrows what is stored, after the
    aggregates have seen every column: a flag that only feeds the
    count is never checkpointed, and the result stays a bare
    checkpoint that :func:`unpersist_checkpoint` can release.  With
    no aggregates it is a plain ``localCheckpoint`` that observed ``{}``.
    """
    from pyspark.sql import Observation

    obs = Observation()
    if aggs:
        df = df.observe(obs, *(agg.alias(name) for name, agg in aggs.items()))
    if keep is not None:
        df = df.select(*keep)
    return df.localCheckpoint(), obs.get if aggs else {}


def _release_checkpoint_group(group: list) -> None:
    while group:
        unpersist_checkpoint(group.pop())


def release_checkpoints_on_gc(result, checkpoints) -> None:
    """Tie the lifetime of ``localCheckpoint``-ed intermediates to a
    result DataFrame: their block-manager storage is released when
    ``result`` is garbage-collected (deterministic under CPython
    refcounting once the caller drops the frame).

    CONTRACT FOR CONSUMERS: derived DataFrames do NOT keep their
    Python parent alive — a query that derives from a
    checkpoint-owning frame and drops the parent before evaluating
    would hit unrecoverable missing-block errors.  Any such composer
    must call :func:`keep_alive` on its own returned frame, naming
    every checkpoint-owning parent it derives from (ADVICE r11 #4).
    """
    import weakref

    weakref.finalize(result, _release_checkpoint_group, list(checkpoints))


_SCRATCH_DIRS: list[str] = []


def _purge_scratch_dirs() -> None:
    import shutil

    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """``mkdtemp`` that is guaranteed removed at interpreter exit —
    the ONE sanctioned way for operators to land scratch data (dirty-
    CSV certificates, IVF index directories).  Purge runs at exit
    rather than per-result GC because the returned frames are LAZY:
    landed files must stay readable for as long as any derived plan
    might still evaluate, which only the interpreter lifetime bounds
    safely (VERDICT r11 What's-wrong #4)."""
    import atexit
    import tempfile

    if not _SCRATCH_DIRS:
        atexit.register(_purge_scratch_dirs)
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


def release_checkpoint_when_gc(df) -> None:
    """Defer a checkpoint release to the frame's OWN garbage
    collection: the block-manager storage behind a
    ``localCheckpoint``-ed DataFrame is freed when the LAST Python
    reference to it drops (memo eviction plus every consumer
    keep-alive), not at eviction time.

    This is the safe eviction device for memoized frames that prior
    consumers may still hold via :func:`keep_alive` (ADVICE r13 #3):
    an immediate :func:`unpersist_checkpoint` on eviction would fail
    those consumers with lost-checkpoint-block errors, while this
    defers the release until CPython refcounting proves nobody can
    evaluate the frame again.  The JVM-side RDD handle is captured
    eagerly so the finalizer holds NO reference to the Python frame
    (a self-referencing finalizer would keep it alive forever).
    Best-effort on py4j internals, mirroring
    :func:`unpersist_checkpoint`'s warn-once contract.
    """
    global _UNPERSIST_WARNED
    import weakref

    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
    except Exception as exc:  # noqa: BLE001 — leak beats crash here
        if not _UNPERSIST_WARNED:
            _UNPERSIST_WARNED = True
            import warnings

            warnings.warn(
                "release_checkpoint_when_gc is a no-op on this Spark"
                f" build ({type(exc).__name__}: {exc}); checkpointed"
                " blocks will leak for the life of the application",
                RuntimeWarning,
                stacklevel=2,
            )
        return

    def _unp(j=jrdd):
        try:
            j.unpersist(False)
        except Exception:  # noqa: BLE001 — interpreter/JVM may be gone
            pass

    weakref.finalize(df, _unp)


def keep_alive(result, *parents):
    """Attach checkpoint-owning ``parents`` to ``result`` so their
    blocks survive for as long as the returned frame does.

    This is the ONE sanctioned device for composing over frames whose
    checkpoints are released by :func:`release_checkpoints_on_gc`
    (derived DataFrames do not keep their Python parent alive on
    their own).  Appends to any keep-alives already attached, so
    chained compositions stack rather than overwrite.  Returns
    ``result`` for call-site chaining.
    """
    existing = getattr(result, "_smile_keepalive", ())
    if not isinstance(existing, tuple):
        existing = (existing,)
    result._smile_keepalive = existing + tuple(parents)
    return result
