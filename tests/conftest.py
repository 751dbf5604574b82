from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MED = os.environ.get("SPARK_GRAFT_SF_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from pygdf_spark import get_spark

    s = get_spark("pygdf-spark-tests")
    yield s


@pytest.fixture(scope="session")
def jobs(spark):
    """``jobs(fn)`` → (fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext

    def count(fn):
        group = f"test-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-counting test")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED
