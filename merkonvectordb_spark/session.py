"""SparkSession bootstrap tuned for both local testing and cluster scale.

Local runs are ``local[$SPARK_GRAFT_CPUS]`` (default all cores) — one JVM,
N executor threads.  The config below is chosen so the *same* logical plans
scale to a 1000-executor cluster: AQE re-plans shuffles at runtime
(coalescing small partitions, splitting skewed ones), shuffle partition
count is a hint not a hard-code, and Arrow is on for the few pandas_udf
paths.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "merkonvectordb_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism.  All settings are
    plan-shaping (AQE, broadcast threshold, Arrow) rather than
    local-mode-specific, so operator code written against this session
    behaves identically on a real cluster.

    One setting is a worker cost, not a plan shape: Python workers fork
    from ``merkonvectordb_spark.worker_daemon``, which stops pyspark's
    per-task ``importlib.invalidate_caches()`` from re-reading the Spark
    install's zip archives.  That cuts the fixed cost of every Python
    task (a warm 1-task RDD stage: ~275 → ~100 ms at
    ``local[4]``).  The package's parent directory is put on the
    workers' ``PYTHONPATH`` so the daemon imports from any driver
    working directory (the session is local, so workers see the
    driver's files).  Both are static SparkContext settings: a session
    that already exists keeps the stock daemon.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS): read as LONG nanos
        # (normalized to a micros TIMESTAMP in schema.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 32 MB broadcast threshold: dimension tables (region/nation/part/
        # supplier at any realistic SF) and query-vector sets broadcast,
        # fact-fact joins still shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # parquet scan parallelism: 128 MB splits is the cluster default;
        # keep it explicit so bench numbers are reproducible.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # driver-collect ceiling (Spark default 1g).  Opt-in lever for
        # scale probes: the few queries whose REGISTERED form collects
        # corpus-proportional output to the driver (memory-sink
        # streaming oracles) hit the 1g ceiling around sf30, which
        # measures the harness sink, not the operator — production
        # forms writeStream to real sinks.  Default stays Spark's.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
        .config("spark.ui.enabled", "false")
        # Python worker daemon without the per-task zip re-read (see the
        # docstring)
        .config("spark.python.daemon.module", "merkonvectordb_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate silently ignores builder configs when a session already
    # exists in the JVM (e.g. the driver harness made one first).  The confs
    # below are runtime-settable and correctness-critical (timestamp
    # rendering must be UTC for oracle hash parity), so assert them here.
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def free_persisted_blocks(spark: SparkSession) -> int:
    """Unpersist EVERY persistent RDD in the context — including
    ``localCheckpoint`` blocks, which ``spark.catalog.clearCache()``
    does NOT touch (it clears only catalog-cached relations).

    Why this exists: 30+ operators in this package cut multi-consumer
    lineage with eager ``localCheckpoint`` and return a LAZY frame, so
    the checkpoint blocks cannot be unpersisted inside the operator —
    they stay pinned in executor storage after the caller materializes
    the result, for the lifetime of the session (measured round 8:
    ``getPersistentRDDs`` grows by 2 per ``pagerank`` call, never
    shrinks; a 184-query sweep accumulates hundreds of dead block sets,
    and the resulting storage/GC pressure is the documented ±30-50 %
    tail noise — one instrumented pagerank run crawled 6 s → 14.3 s
    under accumulated blocks).  Harnesses that run INDEPENDENT queries
    back-to-back (bench.py, tools/scale_probe.py, long-lived services
    issuing repeated analytic calls) should call this between queries,
    after the previous result is fully materialized and no longer
    needed.

    UNSAFE while any lazy frame is still unconsumed (ADVICE r8): a
    reaped ``localCheckpoint`` block is that frame's ONLY data source —
    lineage was truncated — so the next action on it hard-fails with
    "Checkpoint block not found", an unrecoverable job error, not a
    slowdown.  This is a quiesce-point operation, not a background
    reaper; there is deliberately no keep-alive list because the JVM
    cannot know which Python-side frames are still live.

    Catalog-cached relations are cleared FIRST (``catalog.clearCache``):
    RDD-level unpersist bypasses the CacheManager, so reaping without it
    would leave cached plans routed through dead InMemoryRelations that
    recompute on every use and never re-cache.

    Returns the number of RDDs unpersisted (non-blocking)."""
    spark.catalog.clearCache()
    # Py4J exposes the JavaSparkContext's java.util.Map as a dict-like
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for jrdd in rdds:
        jrdd.unpersist(False)
    return len(rdds)


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the blocks behind a frame made by ``localCheckpoint``,
    for the operator that made it and knows no lazy frame still reads
    it.  ``DataFrame.unpersist`` does not reach them (it clears cached
    plans only); the checkpointed RDD is the frame's logical plan."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def with_caller_context(spark: SparkSession, fn: Callable) -> Callable:
    """Wrap ``fn`` for a helper thread so the jobs it starts carry the
    calling thread's job group, job description and session tags.  A
    plain pool thread starts with empty local properties, so its jobs
    would otherwise be ungrouped and unattributed.

    Each call takes its own copy of the caller's properties: Spark SQL
    sets per-thread properties (the execution id) while a query runs,
    and two threads sharing one copy would see each other's."""
    wrap = inheritable_thread_target(spark)
    # without pinned threads pyspark returns its argument unchanged;
    # then there is no per-thread context to carry
    return fn if wrap is spark else wrap(fn)
