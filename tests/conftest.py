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


@pytest.fixture(scope="session")
def sf_nanos(tmp_path_factory):
    """A copy of sf0.001 with every timestamp column stored as parquet
    TIMESTAMP(NANOS) — the encoding the catalog reads as nano-longs and
    rebuilds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from esxsnmp_tsdb_spark.sources.catalog import TABLES

    dst = str(tmp_path_factory.mktemp("sf_nanos"))
    for name in TABLES:
        table = pq.read_table(os.path.join(SF_SMOKE, f"{name}.parquet"))
        nanos = pa.schema(
            f.with_type(pa.timestamp("ns")) if pa.types.is_timestamp(f.type) else f
            for f in table.schema
        )
        pq.write_table(table.cast(nanos), os.path.join(dst, f"{name}.parquet"))
    return dst


@pytest.fixture(params=["stored", "nanos"])
def sf_encodings(request):
    """``SF_ORACLE`` with its timestamps as stored, then ``sf_nanos``: the
    catalog's two timestamp branches."""
    if request.param == "stored":
        return SF_ORACLE
    return request.getfixturevalue("sf_nanos")


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
