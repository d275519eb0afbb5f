from __future__ import annotations

import itertools
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from lakerunner_spark.session import get_spark

    s = get_spark(app_name="lakerunner_tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


_GROUPS = itertools.count()


def jobs_in_group(spark, fn):
    """Run ``fn()`` under a fresh Spark job group; return its result and
    the number of jobs the group ran."""
    sc = spark.sparkContext
    group = f"jobs-in-group-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(0.5)  # the status listener drains asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
