"""SparkSession factory.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime skew-join + partition coalescing), shuffle
partitions sized to cores (overridable via env for scale-up), UTC session
timezone so results compare exactly against the DuckDB oracle, Arrow enabled
for every pandas UDF boundary. The driver heap defaults to half the host's
physical memory (at most 32g): a heap larger than RAM never triggers a full
collection before the kernel's OOM killer ends the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_DRIVER_MEM_MB = 32 * 1024


def mem_total_mb() -> int | None:
    """Physical memory (MemTotal of /proc/meminfo) in MB, None where the
    file is absent."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else min(32g, MemTotal / 2)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    total = mem_total_mb()
    if total is None:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, total // 2)}m"


def get_spark(
    app_name: str = "character_identification_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode (``local[cores]``).  The benchmark
    harness passes 8 vs 32 to evidence the N→4N scaling criterion.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
