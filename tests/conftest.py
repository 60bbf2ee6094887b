"""Shared pytest fixtures (SURVEY.md §5.5 pre-driver test layer)."""

from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sparkstreaming_mq_spark.session import get_spark

    s = get_spark(app_name="sparkgraft-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def duck():
    from sparkstreaming_mq_spark.oracle import duckdb_connect

    return duckdb_connect(SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (Spark jobs that ``fn()`` started, its
    result), counted under a job group of their own."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn):
        group = f"count_jobs_{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    return run
