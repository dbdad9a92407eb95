from __future__ import annotations

import os

import pytest

from dmp_crawler_spark.session import get_spark

# the session default heap (16g) is sized for the bench box; a test JVM
# that large on a 16 GB host without swap gets OOM-killed mid-suite
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="dmp_crawler_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()
