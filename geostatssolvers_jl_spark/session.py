"""SparkSession factory tuned for the engine.

Arrow transfer on (all UDF stages are pandas/Arrow batched — no per-row
Python anywhere, per the engine contract), AQE on (runtime re-planning +
skew-join mitigation), modest shuffle partitions for local mode (overridden
by cluster conf in production).  Also home of `pinned`, the engine's one
build-once/query-many memo for shared pinned relations.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# default shuffle parallelism = the session's core count, DERIVED from
# the master string (r7): the old literal 32 merely coincided with the
# bench core count.  A 4× default was tried and measured: it cost the
# multi-pass tiled kNN ladder ~0.8-1 s of pure task overhead per entry
# at sf0.1 (knn_join_tiled 1.81 s at 1× vs 2.64 s at 4×, min-of-3
# A/B) and bought nothing at sf1.0 once the candidate-ranking redesign
# removed the only wide exchange (its probe repartition carries its own
# explicit 4× factor).  Clusters override via SPARK_SHUFFLE_PARTITIONS
# or session conf exactly as before; AQE coalescing stays on.
DEFAULT_SHUFFLE_PARTITIONS = 0  # 0 → derive from the master's core count


def get_spark(
    app_name: str = "geostatssolvers-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In the sandbox we run ``local[N]``; on a real cluster the same confs
    apply (AQE handles the runtime partition coalescing at 1000-executor
    scale, maxRecordsPerBatch bounds Arrow batch memory inside pandas UDFs).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # make the engine package importable on executor Python workers; on a
    # real cluster the same is done via `spark-submit --py-files pkg.zip`
    # one BLAS thread per task: parallelism comes from Spark partitions;
    # nested OpenBLAS/OMP threading across 32 workers thrashes the cores
    # (mirrors the reference's own FFTW-threads-vs-partitions tradeoff,
    # SURVEY.md §4)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{pypath}" if pypath else pkg_parent
        )
    local = master.startswith("local[")
    try:  # "local[32]" → 32; "local[*]" / cluster masters → os cpus
        ncores = int(master.split("[")[1].rstrip("]"))
    except (IndexError, ValueError):
        ncores = os.cpu_count() or 8
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    ) or ncores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # small single-file parquet inputs otherwise scan as 1-2 tasks
        # and every no-shuffle chain downstream (explode scoring, kernel
        # mapInPandas) inherits that width.  16m splits a ~100 MB input
        # across the local cores; production bulk scans override UP
        # (512m-1g per guide §6) via SPARK_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get(
            "SPARK_MAX_PARTITION_BYTES", "16m"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    # local-mode JVM = driver AND all executors: size the heap to the
    # TASK count, not to a driver's usual footprint (guide §5).  8g
    # across 32 concurrent tasks left ~150 MB of execution memory
    # each — wide aggregations spilled every run.  ~0.75 GB/task,
    # env-overridable.  Cluster masters size spark.executor.memory
    # instead; their driver heap is the submit-time default unless
    # SPARK_DRIVER_MEM says otherwise (the submit host's core count
    # says nothing about the driver's needs).
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or (
        f"{max(8, (3 * ncores) // 4)}g" if local else None)
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# the single build-once/query-many memo: (applicationId, slot) →
# (ident, pinned DataFrame, owning SparkSession, view name or None)
_PINNED: dict = {}
_PINNED_LOCK = threading.RLock()


def pinned(spark: SparkSession, slot: str, ident,
           build: Callable[[], DataFrame],
           view: str | None = None) -> DataFrame:
    """Keep ONE live pinned relation per ``(applicationId, slot)`` and
    return it.

    The live relation is reused only when ``ident`` equals the identity
    it was built under (``None`` never matches: such a slot rebuilds on
    every call) AND it was built by this very ``spark`` object — temp
    views are session-scoped, so a hit recorded by session A must
    rebuild for session B (B's catalog cannot resolve A's view).
    Otherwise the old relation is released, its view is dropped when it
    belongs to this session, entries of other (stopped) applications
    are purged — a stopped context would otherwise stay pinned forever
    — and ``build()`` runs; its result is registered as ``view`` when
    one is given, stored and returned.

    ``build`` returns the relation ALREADY pinned; the callers pin
    differently on purpose:

    * ``localCheckpoint()`` (eager): Spark's CacheManager fails to
      substitute an InMemoryRelation into consumers that reference a
      view from inside a WITH clause — ``SELECT ... FROM view`` plans an
      InMemoryTableScan, but the same view inside a CTE-shaped consumer
      RE-PLANS the view's full subtree, so a cached view silently
      recomputes its upstream per query.  A checkpointed DataFrame is a
      LogicalRDD leaf with no subtree to re-plan.  Releasing it frees
      its blocks, so a result still built over an evicted checkpoint
      fails instead of recomputing.
    * ``cache()`` / ``persist()``: these keep lineage, so a result
      still held over an evicted relation lazily recomputes instead.

    The whole check → release → build → store sequence runs under one
    lock: callers run concurrently, and an unsynchronized sequence
    leaks an extra pinned relation per race or releases one an
    in-flight caller depends on.  The lock is re-entrant, so a build
    may itself use another slot."""
    app = spark.sparkContext.applicationId
    key = (app, slot)
    with _PINNED_LOCK:
        old = _PINNED.pop(key, None)
        if old is not None:
            old_ident, old_df, old_spark, old_view = old
            if (ident is not None and ident == old_ident
                    and old_spark is spark):
                _PINNED[key] = old
                return old_df
            _release(old_df)
            if old_view is not None and old_spark is spark:
                try:
                    spark.catalog.dropTempView(old_view)
                except Exception:
                    pass
        for k in [k for k in _PINNED if k[0] != app]:
            del _PINNED[k]
        df = build()
        if view is not None:
            df.createOrReplaceTempView(view)
        _PINNED[key] = (ident, df, spark, view)
        return df


def _release(df: DataFrame) -> None:
    """Unpersist ``df`` — and, when it is a checkpoint, the checkpointed
    RDD itself: ``DataFrame.unpersist`` only drops CacheManager entries,
    which leaves a localCheckpoint's blocks pinned."""
    try:
        df.unpersist()
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
