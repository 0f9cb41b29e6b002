"""The shuffle-volume audit (scripts/shuffle_audit.py) reads actual
SQLMetrics out of the final adaptive plan — pin that the extraction
works (py4j plan-walk API drift would silently zero every number) and
that it agrees with the structural assertions the plan tests make."""

import pytest

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.session import get_session
from scripts.shuffle_audit import audit

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    registry.load_all()
    return get_session()


def test_audit_sees_real_shuffle_volume(spark):
    # ts_downsample_avg is the one-exchange flagship: the audit must see
    # exactly that exchange carrying the partial-aggregated rows
    a = audit(registry.QUERIES["ts_downsample_avg"](spark, SF))
    assert a["exchanges"] == 1
    assert a["shuffle_records"] > 0 and a["shuffle_bytes"] > 0
    assert a["result_rows"] > 0 and a["scan_rows"] > 0


def test_audit_zero_for_scan_only_plan(spark):
    # ts_range_scan is shuffle-free; a nonzero reading means the walk is
    # picking up metrics from the wrong nodes
    a = audit(registry.QUERIES["ts_range_scan"](spark, SF))
    assert a["exchanges"] == 0
    assert a["shuffle_bytes"] == 0 and a["shuffle_records"] == 0


def test_bucketed_twin_shuffles_zero_bytes(spark):
    # the metrics-level form of the routed zero-exchange plan test: the
    # registered op routed onto the bucketed obs layout moves NOTHING
    # over the wire
    from esxsnmp_tsdb_spark.operators.storage2 import bucketed_obs_table
    from esxsnmp_tsdb_spark.sources import ROUTE_BUCKETED_CONF

    bucketed_obs_table(spark, SF)
    spark.conf.set(ROUTE_BUCKETED_CONF, "true")
    try:
        a = audit(registry.QUERIES["ts_agg_cascade"](spark, SF))
    finally:
        spark.conf.unset(ROUTE_BUCKETED_CONF)
    assert a["exchanges"] == 0
    assert a["shuffle_bytes"] == 0
    assert a["result_rows"] > 0
