"""SparkSession factory with scale-oriented defaults.

All entry points (tests, bench, __spark_entry__) go through here so the
Arrow/AQE configuration is identical everywhere.  Designed for a real
multi-executor cluster; in the sandbox we run local[N] with the same settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _usable_cpus() -> int:
    """Cores this process may run on: its CPU affinity where the platform
    reports one (``taskset -c 0,1`` gives 2 on a 4-core host), else the
    host's CPU count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "trident-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults: Arrow-vectorized Python UDF transport, AQE with skew-join
    handling (first line of defense for hub-entity skew), and shuffle
    partition count sized for the cores this process may run on (its CPU
    affinity, not the host's CPU count).  On a real cluster, leave
    ``shuffle_partitions`` unset and let AQE coalesce.

    Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``, a
    static conf) holds 1000 classes instead of Spark's 100.  One build
    compiles about 145 classes and one round of the benchmark's query deck
    over 100, so under an LRU of 100 a class is evicted before its next
    use and each repeat recompiles most of them.  A retained class costs
    about 0.13 MB of RSS.  Like every static conf it takes effect only when
    this call starts the JVM's SparkContext.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", _usable_cpus()))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # sandbox inputs are single small parquet files; split them finely so
        # scans parallelize across all cores (a real 100TB corpus arrives in
        # thousands of files — keep the 128MB default there via env override)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # well above a build's ~145 generated classes (see the docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
