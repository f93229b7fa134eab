"""SparkSession factory with the configs the engine assumes.

Local-mode sandbox runs on a single JVM; on a real cluster the same
builder is used minus the ``master`` override (spark-submit supplies it).
AQE is on so hot-host skew joins get split at runtime in addition to the
explicit salting done by the politeness scheduler.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory: in local mode the driver JVM also
    runs the executors, and a heap sized past physical memory lets the JVM
    grow until the OS kills it instead of collecting garbage."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "licenta_crawler_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session.

    parallelism: local[N] thread count; None -> local[*] (all cores).
    shuffle_partitions: defaults to parallelism (local mode wants
    ~cores, not the 200 default).
    extra_conf: applied last, so it overrides any config set here —
    e.g. ``{"spark.driver.memory": "1g"}`` instead of the default heap of
    half the host's physical memory.
    """
    master = f"local[{parallelism}]" if parallelism else "local[*]"
    n_shuffle = shuffle_partitions or parallelism or 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet timestamps as TIMESTAMP_MICROS, not the deprecated
        # stats-less INT96 — per-file min/max bounds on ts columns are
        # what lets the catalog's range_filter prune time ranges
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.locality.wait", "0s")
        .config("spark.driver.memory", _default_driver_memory())
    )
    # JVM flag hook (GC experiments — tools/stage_breakdown.py findings):
    # local mode runs executors inside the driver JVM, so driver opts
    # govern the whole job
    jopts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if jopts:
        b = b.config("spark.driver.extraJavaOptions", jopts)
    # profiling hook (tools/stage_breakdown.py): event-log the app so
    # per-stage wall/cpu/GC can be compared across parallelism levels
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
