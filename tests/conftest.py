from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from walrus_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("WALRUS_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("WALRUS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("walrus-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def job_probe(spark):
    """A callable that runs a one-job Spark action and returns its job
    id. Spark numbers jobs globally in start order, so two probe() calls
    return ids exactly one apart when no job started between them, in
    any thread. The probe's own job group keeps it findable whatever
    group an earlier test left on this thread; it is cleared again after
    the probe job so it does not leak into later tests."""
    sc = spark.sparkContext

    def probe() -> int:
        sc.setJobGroup("job-probe", "job-probe")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setJobGroup("", "")
        return max(sc.statusTracker().getJobIdsForGroup("job-probe"))

    return probe
