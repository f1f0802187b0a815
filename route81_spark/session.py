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


# Entries in the JVM's cache of compiled generated classes; see get_spark.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(app_name: str = "route81_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """The session every program entry point uses (local[$SPARK_GRAFT_CPUS]).

    Codegen cache (`spark.sql.codegen.cache.maxEntries`, Spark's default
    100): it holds the largest working set of generated classes that the
    program runs again and again, with headroom, so a repeated query or
    stream trigger pays no Janino compile (10-13 ms each, mostly in task
    threads) after its first run. Measured working sets on local[4]: one
    `query_mix` pass over its six queries generates 111 distinct classes,
    and the default cache recompiled 70 of them on every warm pass; one pass of
    bench.py's query list generates 965 at sf0.001 plus 25 more at
    sf0.01, and the default cache recompiled about 1,270 (14 s of compile
    time) on every pass. CODEGEN_CACHE_ENTRIES is about twice the larger
    set. Memory: the classes live in metaspace; a probe compiling 1,200
    distinct projections grew it 11.7 MB with the default cache and 16.5
    MB with 2,000 entries. It is a static conf, read once per JVM when
    CodeGenerator first loads, so it goes in the builder."""
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_totals(spark: SparkSession | None = None) -> dict[str, int]:
    """The JVM's generated-code compiles since it started: the Janino
    compile count (`CodegenMetrics`) and their total milliseconds
    (`CodeGenerator.compileTime`). A count that keeps rising while the
    same queries repeat means the codegen cache is too small. Empty when
    no SparkContext is running."""
    from pyspark import SparkContext

    sc = spark.sparkContext if spark is not None else SparkContext._active_spark_context
    if sc is None:
        return {}
    jvm = sc._jvm
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return {
        "codegen_compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        "codegen_compile_ms": gen.compileTime() // 1_000_000,
    }
