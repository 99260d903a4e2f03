"""SparkSession factory with engine-tuned defaults.

Local mode is a proxy for the multi-executor target: shuffle partitions sized
to cores, AQE on (skew-join splitting + partition coalescing), Arrow enabled
for every pandas-UDF boundary, UTC session timezone for oracle comparisons.
On a real cluster the same function is used by ``spark-submit --py-files``
jobs (jobs/crawl_job.py); Iceberg catalog configs would be layered on top
(the sandbox image has no Iceberg runtime jar — see
``kit_spark.sources.tables`` for the snapshot-table fallback that keeps the
same API).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kit_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    # a quarter of physical memory, capped at 12g: a second session fits
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled",
                os.environ.get("KIT_SPARK_AQE", "true"))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes partitions by BYTES; our rows are narrow but Python-UDF
        # cost per row is high, so 64MB targets would serialize pandas-UDF
        # stages onto one task.  8MB keeps post-shuffle parallelism.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: 8192 keeps string-UDF overhead low; jobs
        # moving large image payloads should lower this per-session
        # (KIT_SPARK_ARROW_BATCH) so batches stay within executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("KIT_SPARK_ARROW_BATCH", "8192"))
        .config("spark.driver.memory", os.environ.get(
            "KIT_SPARK_DRIVER_MEM", f"{min(phys_mb // 4, 12 << 10)}m"))
        # local-mode shuffle medium: tmpfs when available (a cluster would
        # use NVMe + network; spinning /tmp serializes shuffle-heavy stages)
        .config("spark.local.dir",
                os.environ.get("KIT_SPARK_LOCAL_DIR",
                               "/dev/shm/kit-spark-tmp"
                               if os.path.isdir("/dev/shm") else "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
