from __future__ import annotations

import os

import pytest

from tiledspark.session import get_spark
from tiledspark import synth

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SYNTH_CACHE = os.path.join(os.path.dirname(__file__), "..", ".synth_cache")


def jobs_in_group(sc, group, fn):
    """(fn(), the number of Spark jobs fn ran), counted by the status
    tracker under a job group of its own. The listener bus is drained
    before counting, so no job fn started is missed."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="tiledspark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def pages_path():
    return synth.ensure_pages(SYNTH_CACHE, 5_000)


@pytest.fixture(scope="session")
def zones_path():
    return synth.ensure_zones(SYNTH_CACHE)


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")
