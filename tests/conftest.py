from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esxsnmp_tsdb_spark.session import get_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_session("tests")
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(group, action)``: the jobs ``action()`` submits, read
    from the status tracker under its own job group once the listener
    bus has delivered every event."""
    sc = spark.sparkContext

    def count(group: str, action) -> int:
        sc.setJobGroup(group, group, False)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
