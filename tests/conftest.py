import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_store_2_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("fs2-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)`` -> (Spark jobs ``fn()`` launched, its
    result). Jobs are counted by job group; a sentinel job in a second
    group, awaited in the status tracker, proves every earlier job start
    has been delivered to it."""

    def run(fn):
        sc = spark.sparkContext
        probe, sentinel = f"probe-{uuid.uuid4()}", f"sentinel-{uuid.uuid4()}"
        try:
            sc.setJobGroup(probe, "job probe")
            out = fn()
            sc.setJobGroup(sentinel, "job probe sentinel")
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(sentinel), "sentinel job never reported"
        return len(tracker.getJobIdsForGroup(probe)), out

    return run
