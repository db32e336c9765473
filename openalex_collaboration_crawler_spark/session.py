"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would submit cluster-side via
``spark-submit --py-files`` (AQE on, shuffle partitions sized to
parallelism, Arrow enabled, UTC session TZ for oracle parity).

The codegen cache holds the engine's whole compiled-code working set, so
repeated queries and steady-state crawl batches run classes that are
already compiled and JIT-warm. Spark's default of 100 entries does not: a
pass over the 50 registry queries at sf0.001 compiles 1349 distinct
classes, and a second pass in the same session recompiled 1747 classes at
100 entries, 1179 at 1000 and 100 at 2048 (4 cores, local[4]). Those 100
come from about 11 queries whose generated source changes every run. In a
4-batch crawl of the parity tests' 300-page world, batches 3 and 4 each
compiled 63 classes at 100 entries and 0 at 2048. The cache costs
metaspace for the classes it keeps; the benchmark's peak RSS did not move.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# one full registry pass plus one crawl (see the module docstring)
CODEGEN_CACHE_ENTRIES = 2048


def _default_driver_memory() -> str:
    """min(48g, half the physical RAM): the local-mode driver JVM holds
    every executor too, and a heap larger than the machine lets it grow
    until the OS kills it instead of spilling."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    return f"{min(48 << 10, half_mb)}m"


def get_spark(
    app_name: str = "openalex_collaboration_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this is instead sized to ~2-3x total executor cores and AQE
    coalesces the rest.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster would use dynamic sizing + AQE.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory())
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.driver.extraJavaOptions", "-XX:+UseG1GC -XX:MaxGCPauseMillis=400"
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
