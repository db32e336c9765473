from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

# this checkout's package, not whichever copy another path provides
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from openalex_collaboration_crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def compiled_classes(spark):
    """Reader of the JVM's codegen compile count (``CodegenMetrics``; in
    local mode the tasks compile in the driver JVM too). Each read first
    waits until no job is active, so a job still finishing cannot add
    compiles after the read."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    tracker = spark.sparkContext.statusTracker()

    def read() -> int:
        deadline = time.monotonic() + 120
        while tracker.getActiveJobsIds():
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs still active: {tracker.getActiveJobsIds()}")
            time.sleep(0.05)
        return int(cm.METRIC_COMPILATION_TIME().getCount())

    return read
