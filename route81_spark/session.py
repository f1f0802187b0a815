"""SparkSession factory tuned for the harness (local[N]) but configured
so the same plans scale to a multi-executor cluster: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow enabled for
the few pandas-UDF paths, UTC session time zone for deterministic date
semantics against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(total_bytes: int | None = None) -> str:
    """SPARK_GRAFT_DRIVER_MEM, else half of MemTotal capped at 16g."""
    total_bytes = total_bytes or os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(total_bytes // 2**21, 16 * 1024)}m")


def get_spark(app_name: str = "route81_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
