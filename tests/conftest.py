import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from meza_spark.session import get_spark

    s = get_spark("meza_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), number of Spark jobs fn launched)``."""
    sc = spark.sparkContext
    bus, tracker = sc._jsc.sc().listenerBus(), sc.statusTracker()

    def count(fn):
        # job starts reach the status store through the listener bus;
        # drain it so a job that just ended is counted
        bus.waitUntilEmpty(60_000)
        before = set(tracker.getJobIdsForGroup())
        out = fn()
        bus.waitUntilEmpty(60_000)
        return out, len(set(tracker.getJobIdsForGroup()) - before)

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
