"""SparkSession factory.

One place to configure the engine for both local testing (local[N]) and a
real cluster. Every knob here is scale-motivated:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast demotion/promotion based on observed sizes).
- shuffle partitions sized to the parallelism actually available locally;
  on a 1000-executor cluster this would be set to ~2-3x total cores (AQE
  coalesces down, it can't split a too-coarse shuffle cheaply).
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  any other engine reading the same parquet.
- Arrow enabled for the few pandas_udf paths (vectorized, not per-row).
- No per-Column call-site capture (``dataFrameDebugging`` off). With it
  on, PySpark 4 wraps every Column call in an ``inspect.stack()`` plus
  about six JVM calls to record the user's file and line. Turning it off
  cut the py4j round trips of building a plan from 485 to 150 for
  ``tpch-q3`` and from 2,667 to 839 for the old ``dedup-near-minhash``
  plan (perfbench seed-7 tables, ``local[4]``). PySpark caches the flag
  at the first Column built in the process, so it is set here, in the
  builder, not later. The trade: an
  ``AnalysisException`` no longer names the Python file and line that
  built the failing Column; its error class and message are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

FILE_STREAM_SINK_LOGGER = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"


def get_spark(
    app_name: str = "transit-scrape-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert (sources.tables truncates to micros, matching SQL engines)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # split-size floor: maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/parallelism)). The 4 MB default
        # caps a single ~10 MB fixture file at 3 splits, leaving 29 of 32
        # cores idle on CPU-bound scans (measured r4: agg-percentile
        # 1.63s -> 1.11s with the lower floor). On a real cluster reading
        # 100 TB, bytesPerCore >> openCost so this floor never binds —
        # it only matters for small single-file local reads.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # NOTE(r11): spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # = true was TRIED (it lets AQE coalesce cached-plan output, which
        # helped several small persisted summaries: e.g. isolated
        # rec-coverage-novelty 2.1 s -> 1.35 s) and REVERTED: it also
        # coalesces caches that feed parallel-heavy consumers, and
        # dedup-near-minhash (headline) regressed 1.33 s -> 2.6-3.8 s
        # consistently across three conf-on sweeps — the persisted
        # signature relation collapsed to few partitions and serialized
        # the band self-join (that op has since dropped both the cache
        # and the self-join). Default (false) keeps cached plans at the
        # static width.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # A glob read (``dir/*.geojson``) makes the file-stream-sink metadata
    # probe look for the glob as a literal directory; it logs the miss as
    # a WARN with a FileNotFoundException stack trace on every such read.
    _quiet_logger(spark, FILE_STREAM_SINK_LOGGER)
    return spark


def cache_width(spark: SparkSession) -> int:
    """Partition count for a persisted summary-level relation.

    An InMemoryRelation keeps the static shuffle-partition count
    (`canChangeCachedPlanOutputPartitioning` is false by default — see
    the NOTE in get_spark): a small persisted summary built under a
    32-partition session is stored as 32 near-empty partitions and
    every consumer drags 32-task exchanges through build and read. AQE
    would coalesce the uncached plan by observed bytes; this helper is
    the cached-plan equivalent the optimizer cannot apply itself
    (r11 measured ~15 persists flipping from regression to win once
    their cache width was allowed to shrink).

    max(8, defaultParallelism // 4) scales with the cluster — on
    local[32] it is 8; on a 2 000-core cluster, 500 — so it is a width
    POLICY, not a local[32] constant. Use it for relations that scale
    with the data but are summary-sized (per-user/per-item rollups).
    Relations bounded by calendar/vocabulary (<= ~10k rows at ANY scale)
    can use an explicit coalesce(1) instead; relations whose consumers
    are compute-bound (e.g. a self-join fan-out) should keep the full
    session width. Streaming queries size their state-store partitions
    with it too (``queries.streaming._state_partitions_sized_to_cluster``).
    """
    return max(8, spark.sparkContext.defaultParallelism // 4)


def release_caches(spark: SparkSession) -> int:
    """Drop every cached/persisted relation from the session.

    Registry-level teardown hygiene: several ops legitimately persist
    their working set for multi-action algorithms (IVF k-means training,
    graph components, triangle counting) and hand the still-cached final
    DataFrame to the caller — unpersisting inside the op would defeat
    the cache before the caller materializes. A long-lived session
    sweeping the full 280-op registry (bench, parity tests, the driver)
    would otherwise accumulate executor storage memory. Call this after
    each op's output is materialized.

    Returns the number of RDDs that were persisted on entry (so tests
    can observe that teardown had something to do and assert
    ``persistent_rdd_count(spark) == 0`` afterwards).
    """
    n = persistent_rdd_count(spark)
    # DataFrame.persist() registers with the CacheManager: clearCache()
    # releases all of those (and their underlying RDD blocks) in one call.
    spark.catalog.clearCache()
    # belt-and-braces for raw RDD persists (none in the package today);
    # py4j's JavaMap speaks the Python Mapping protocol
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    return n


def persistent_rdd_count(spark: SparkSession) -> int:
    """How many RDDs the context currently tracks as persisted."""
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def quiet_bounded_window_warnings(spark: SparkSession) -> bool:
    """Silence WindowExec's 'No Partition Defined' WARN for BENCH runs.

    The remaining empty-partition windows in the registry are all pinned
    bounded frames (<=10k-row summaries — tools/audit_plans.py counts and
    stale-checks every pin from PLAN TEXT, not logs, so this log filter
    cannot hide a real global window from the audit). A full sweep prints
    the warning hundreds of times, burying real signals in the bench
    tail (VERDICT r5 #6). Returns True if the log4j2 category level was
    applied.
    """
    return _quiet_logger(spark, "org.apache.spark.sql.execution.window.WindowExec")


def _quiet_logger(spark: SparkSession, name: str) -> bool:
    """Set the log4j2 logger ``name`` to ERROR; True if it was applied."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        configurator.setLevel(name, jvm.org.apache.logging.log4j.Level.ERROR)
        return True
    except Exception:
        return False  # non-log4j2 backend: warnings stay, nothing breaks
