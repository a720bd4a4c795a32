from __future__ import annotations

import itertools

import pytest

from realestate_engine.session import create_session

SF_DIR = "/root/testdata/sf0.001"

_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    s = create_session("realestate_engine_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` → (number of Spark jobs ``fn()`` launched, its
    return value), counted under a job group of its own."""
    sc = spark.sparkContext

    def count(fn):
        group = f"count_jobs_{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count
