"""Opt-in bucketed-obs routing (sources/catalog.py · load_obs, VERDICT
r11 item 3): with ``ROUTE_BUCKETED_CONF`` on and a matching ``bkt_obs``
table present, every routed §2.1/§2.2 op must (1) return EXACTLY the
flat-path values, (2) actually read the bucketed table, and (3) keep the
bench-proven exchange win on the consolidation shapes.  With the flag
off — the driver's posture — ``load_obs`` must be the flat path even
when the table exists, and routing must refuse a table built for a
DIFFERENT sf_dir (silent cross-fixture serves are the failure mode that
would poison every routed op at once)."""

from __future__ import annotations

import pytest

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.plans import plan_str
from esxsnmp_tsdb_spark.session import get_session
from esxsnmp_tsdb_spark.sources import ROUTE_BUCKETED_CONF, load_obs

SF = "/root/testdata/sf0.001"


def _routed_keys() -> list[str]:
    """Every op key registered by the four routed modules."""
    registry.load_all()
    mods = {
        "esxsnmp_tsdb_spark.operators.timeseries",
        "esxsnmp_tsdb_spark.operators.aggregator",
        "esxsnmp_tsdb_spark.operators.aggregator2",
        "esxsnmp_tsdb_spark.operators.analytics",
    }
    return sorted(
        k for k, fn in registry.QUERIES.items() if fn.__module__ in mods
    )


@pytest.fixture(scope="module")
def spark():
    registry.load_all()
    return get_session()


@pytest.fixture(scope="module")
def bkt(spark):
    """bkt_obs built for SF; routing flag managed per-test."""
    from esxsnmp_tsdb_spark.operators.storage2 import bucketed_obs_table

    bucketed_obs_table(spark, SF)
    yield
    spark.conf.set(ROUTE_BUCKETED_CONF, "false")


def _routed(spark, flag: str):
    spark.conf.set(ROUTE_BUCKETED_CONF, flag)


def _canon(df):
    """Driver-style canonical rows: columns sorted by name, rows sorted
    by their full string form — exact, no float tolerance (the routed
    table is a byte-faithful parquet round-trip of the same rows, so
    the values must be identical, not merely close)."""
    cols = sorted(df.columns)
    rows = [tuple(map(repr, r)) for r in df.select(*cols).collect()]
    return cols, sorted(rows)


def test_flag_off_is_flat_even_with_table(spark, bkt):
    _routed(spark, "false")
    plan = plan_str(load_obs(spark, SF), "simple")
    assert "bkt_obs" not in plan
    assert "events" in plan


def test_flag_on_reads_bucketed_table(spark, bkt):
    _routed(spark, "true")
    try:
        plan = plan_str(load_obs(spark, SF), "simple")
        assert "bkt_obs" in plan
        assert "events.parquet" not in plan
    finally:
        _routed(spark, "false")


def test_cross_fixture_stamp_refuses_routing(spark, bkt):
    _routed(spark, "true")
    try:
        # bkt_obs was built for SF; a load for another fixture is flat
        plan = plan_str(load_obs(spark, "/root/testdata/sf0.01"), "simple")
        assert "bkt_obs" not in plan  # other fixture -> flat fallback
        assert "sf0.01/events.parquet" in plan
        assert "bkt_obs" in plan_str(load_obs(spark, SF), "simple")
    finally:
        _routed(spark, "false")


def test_rebuild_never_reads_the_routed_table(spark, bkt, monkeypatch):
    """``bucketed_obs_table`` drops bkt_obs and rewrites it, so its source
    must be the events fixture even while routing is on and the table is
    stamped for this sf_dir — a routed read would scan the table the
    DROP removes."""
    from esxsnmp_tsdb_spark.operators import storage2

    sources = []
    write = storage2._bucketed_table

    def spy(spark, df, *args):
        sources.append(plan_str(df, "simple"))
        return write(spark, df, *args)

    monkeypatch.setattr(storage2, "_bucketed_table", spy)
    _routed(spark, "true")
    try:
        assert "bkt_obs" in plan_str(load_obs(spark, SF), "simple")
        rebuilt = storage2.bucketed_obs_table(spark, SF).count()
    finally:
        _routed(spark, "false")
    assert len(sources) == 1
    assert "events.parquet" in sources[0]
    assert "bkt_obs" not in sources[0]
    assert rebuilt == load_obs(spark, SF).count()


def test_consolidation_shapes_lose_their_exchanges(spark, bkt):
    """The headline win: the per-series windows and the groupBy(path,
    slot) consolidations over the routed layout plan with ZERO exchanges
    (bucket hash on path covers the partition/grouping key).  ts_bin_split
    is routed too, but keeps the exchange of its explicit fan_out
    repartition."""
    for key in ("ts_slot_dedup", "ts_rate", "ts_downsample_avg", "ts_agg_cascade"):
        _routed(spark, "false")
        flat_ex = plan_str(registry.QUERIES[key](spark, SF), "simple").count(
            "Exchange"
        )
        _routed(spark, "true")
        try:
            routed_plan = plan_str(registry.QUERIES[key](spark, SF), "simple")
        finally:
            _routed(spark, "false")
        assert "bkt_obs" in routed_plan, key
        assert routed_plan.count("Exchange") == 0 < flat_ex, key


@pytest.mark.parametrize("key", _routed_keys())
def test_routed_op_value_parity(spark, bkt, key):
    _routed(spark, "false")
    flat = _canon(registry.QUERIES[key](spark, SF))
    _routed(spark, "true")
    try:
        routed = _canon(registry.QUERIES[key](spark, SF))
    finally:
        _routed(spark, "false")
    assert flat[0] == routed[0], f"{key}: column drift"
    assert flat[1] == routed[1], f"{key}: value drift flat vs routed"
