from __future__ import annotations

import sys
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
