"""Crawl-only scaling probe.

Same crawl configuration as tools/scaling_job.py (the measured
surface), minus the queries phase — for fast iteration on the
per-batch serial floor. Usage:

    spark-submit --master local[N] --py-files engine.zip \
        tools/crawl_probe.py N <pages_path> <state_dir>

Env: SPARK_GRAFT_BENCH_PAGES, SPARK_GRAFT_SCALE_SEEDS as in
scaling_job. For per-phase timings run
``python3 perfbench/run.py --workload crawl_bulk --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    cores = int(sys.argv[1])
    pages_path = sys.argv[2]
    state_dir = sys.argv[3]

    builder = (
        SparkSession.builder.appName(f"crawl_probe_{cores}")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", os.environ.get("SPARK_GRAFT_AQE", "true"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    evlog = os.environ.get("SPARK_GRAFT_EVLOG")  # dir → event log for job census
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evlog)
            # plain single-file JSON so tools/analyze_eventlog.py can
            # read it without a python zstd codec
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as _F

    spark.range(1 << 20).select(_F.md5(_F.col("id").cast("string"))).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(1000).toPandas()

    from openalex_collaboration_crawler_spark.sources.pages import (
        build_politeness,
        build_seeds,
    )
    from openalex_collaboration_crawler_spark.streaming.frontier import CrawlEngine

    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "20000"))
    n_seeds = int(os.environ.get("SPARK_GRAFT_SCALE_SEEDS", "65536"))
    eng = CrawlEngine(
        spark=spark,
        state_dir=state_dir,
        pages_path=pages_path,
        politeness=build_politeness(spark, (1 << 31) - 1, (1 << 31) - 1),
        robots=None,
        default_per_host=(1 << 31) - 1,
        bloom_parts=16,
    )
    eng.init_from_seeds(build_seeds(spark, n_pages=n_pages, n_seeds=n_seeds))
    t0 = time.time()
    metrics = eng.run(max_batches=30)
    crawl_sec = time.time() - t0
    crawl_urls = sum(m.get("fetched", 0) + m.get("deduped", 0) for m in metrics)
    print(
        json.dumps(
            {
                "cores": cores,
                "crawl_sec": round(crawl_sec, 2),
                "crawl_urls": crawl_urls,
                "batches": len([m for m in metrics if m.get("fetched")]),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
