"""SparkSession factory tuned for the frontier workload.

Local mode is a stand-in for a multi-executor cluster: every knob below is
chosen to also be correct at 1000 executors / 100 TB (AQE, skew-join
handling, partition counts sized by data not by default-200).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_memory() -> str:
    """A quarter of physical memory, capped at 48g: the JVM heap must
    leave room for the Python workers and the OS, or the kernel kills
    the driver partway through a long session."""
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return "4g"
    return f"{max(1024, min(total_mb // 4, 48 * 1024))}m"


def get_spark(
    app_name: str = "tripwire_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); the bench
    harness uses two levels (e.g. 8 vs 32) to evidence the N->4N scaling
    criterion from BASELINE.json.  ``SPARK_DRIVER_MEMORY`` overrides the
    heap size (default: a quarter of physical memory, capped at 48g).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cores, DEFAULT_SHUFFLE_PARTITIONS)))
    )
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Fixed Arrow batch size: per-row Python/Arrow overhead must not
        # depend on partition size, or throughput comparisons across
        # cluster sizes (the N->4N scaling criterion) are biased toward
        # fewer, fatter partitions.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Cached page/state blocks trade memory for CPU: columnar-cache
        # compression costs ~3x the build time (measured 68 s -> 23 s on
        # a 1 GB pages table) and every read pays the decompress, while
        # the dominant cached column (html binary, already snappy'd in
        # parquet) barely compresses again.  Executors sized for crawl
        # extraction have the headroom; spill still compresses on disk.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _invalidate_stale_udf_wrappers(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# applicationId of the context the last session was built against — a
# change means every cached UDF JVM wrapper is stale (see below).
_LAST_APP_ID: str | None = None


def _invalidate_stale_udf_wrappers(spark: SparkSession) -> None:
    """Drop cached ``_judf`` wrappers after a SparkContext restart.

    ``UserDefinedFunction._judf`` is cached per UDF OBJECT, and this
    library (like most) defines its pandas UDFs at module import time.
    The cached JVM wrapper embeds the Python-accumulator server of the
    context that first used the UDF; after ``spark.stop()`` +
    ``get_spark()`` (the bench harness does this per measurement
    window), every task completion tries to ack the DEAD server —
    ``Failed to update accumulator N (PythonAccumulatorV2)`` spam, and
    each failure costs the serial DAGScheduler event loop a broken
    socket round-trip while a window is being timed.  Resetting
    ``_judf_placeholder`` makes the next use re-wrap against the live
    context.  No-op in the common one-context process.
    """
    global _LAST_APP_ID
    app_id = spark.sparkContext.applicationId
    if _LAST_APP_ID in (None, app_id):
        _LAST_APP_ID = app_id
        return
    _LAST_APP_ID = app_id
    import gc

    from pyspark.sql.udf import UserDefinedFunction

    for obj in gc.get_objects():
        if isinstance(obj, UserDefinedFunction):
            obj._judf_placeholder = None
