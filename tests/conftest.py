import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from connapse_spark.session import get_spark

    # one JVM serves the whole suite (~5k stages). The heap is sized to a
    # 16 GB host: the r7 suite's crossing of a 16g heap "mid-run (OOM in
    # test_pq)" was the 10**9-slot top-k buffer that get_spark's
    # topKSortFallbackThreshold now keeps out of the plan, and a 24g heap
    # let the lazily collected JVM grow past the host's memory.
    s = get_spark(
        app_name="connapse-tests", cpus="4", shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
