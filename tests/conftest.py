from __future__ import annotations

import os
import sys

import pytest
from hypothesis import settings

# Property tests draw the same examples on every run and on every host:
# examples come from a fixed seed derived from each test, and no example
# database carries failures from one run into the next. Per-test
# ``@settings(...)`` still set the example counts and deadlines.
settings.register_profile("reproducible", derandomize=True, database=None)
settings.load_profile("reproducible")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from backend_model_spark.session import get_spark

    spark = get_spark("backend_model_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def group_jobs(spark, group, run) -> int:
    """Spark jobs that ``run()`` starts under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
