"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the config is written for a 1000-executor
cluster (AQE, skew-join handling, pruned scans) and degrades gracefully to
``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "nginx_log_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults fit the machine: ``local[N]`` over the cores this process may
    run on, and a driver heap of a quarter of physical memory. The
    environment overrides them (``SPARK_GRAFT_MASTER``,
    ``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20  # MemTotal
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # local[N] → one JVM; match shuffle width to cores. On a real cluster this
    # would be ~2-3x total cores and AQE coalesces the rest.
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else cpus
        except ValueError:
            n = cpus
        shuffle_partitions = max(n, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{mem_mb // 4}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # long-lived local sessions: keep the status stores small and GC
        # broadcast/shuffle state periodically (they otherwise accumulate
        # across the many short jobs a report/bench run issues)
        .config("spark.sql.ui.retainedExecutions", "10")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.cleaner.periodicGC.interval", "30s")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # v2 output committer: task-side renames instead of a sequential
        # driver-side rename of every file at job commit — a partitioned
        # fan-out write produces hundreds of sink files, and v1 serialized
        # their commit on the driver (guide: commit protocol shows up as
        # driver-side dead time at the end of a write). Local/HDFS-class
        # filesystems only; an object-store deployment would use a
        # manifest committer instead.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
