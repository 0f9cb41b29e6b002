"""The one RRD consolidation partial (``functions/tsdb.py``): every
consumer — ``downsample``, the ladder, its stored levels and their
upkeep, the façade — holds the same state and gives the same answer."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.api import TSDB
from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.functions.tsdb import ROW_VALID
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.sources import ladder_sql
from esxsnmp_tsdb_spark.sources.ladder import build_ladder
from esxsnmp_tsdb_spark.streaming.maintenance import read_level, upsert_level

OBS_SCHEMA = "path string, tse long, value double, flags int, event_id long"
# hour 0 holds a 10.0 and a NULL; hour 1 holds only NULLs
NULL_ROWS = [(0, 10.0), (300, None), (3600, None), (3900, None)]
# (average, n) per hour: a NULL value is an unknown sample
WANT = {0: (10.0, 1), 3600: (None, 0)}


def _by_slot(df, value="average"):
    return {r.slot: (r[value], r.n) for r in df.collect()}


def test_null_value_is_an_unknown_sample(spark, tmp_path):
    obs = local_frame(
        spark,
        [("s", t, v, ROW_VALID, i) for i, (t, v) in enumerate(NULL_ROWS)],
        OBS_SCHEMA,
    )
    assert _by_slot(tsdb.downsample(obs, 3600)) == WANT
    assert _by_slot(build_ladder(obs, (300, 3600))[3600]) == WANT
    level = str(tmp_path / "level=3600")
    upsert_level(spark, level, obs, 3600)
    assert _by_slot(read_level(spark, str(tmp_path), 3600)) == WANT

    db = TSDB.create(spark, str(tmp_path / "tsdb"))
    var = db.add_set("r").add_var("v", step=300)
    var.add_aggregate("+1h")
    var.insert_batch([(t, v, ROW_VALID) for t, v in NULL_ROWS])
    var.update_all_aggregates()
    # the stored +1h aggregate, as stored and re-consolidated to 2h
    assert _by_slot(var.timerange(0, 7200, step=3600), "value") == WANT
    assert _by_slot(var.timerange(0, 7200, step=7200), "value") == {0: (10.0, 1)}
    # the raw level (600 is not a multiple of the +1h level)
    raw = _by_slot(var.timerange(0, 7200, step=600), "value")
    assert raw == {0: (10.0, 1), 3600: (None, 0)}


def test_store_takes_upserts_in_its_own_format(spark):
    """A store built by ``materialize_ladder`` from on-time rows, then
    given a late batch through ``upsert_level``, routes every cf like a
    store built from all the rows: one stored level format."""
    rows = [
        (p, t, float((t // 300) % 17), ROW_VALID, k * 100_000 + i)
        for k, p in enumerate(("s1", "s2"))
        for i, t in enumerate(range(0, 3 * 86400, 300))
    ]
    obs = local_frame(spark, rows, OBS_SCHEMA)
    late = F.col("event_id") % 7 == 0
    levels = (300, 3600)

    def routed() -> dict:
        out = {}
        for cf in tsdb.CF_COLUMN:
            sql = ladder_sql.route_sql(7200, 0, 3 * 86400, cf=cf, levels=levels)
            rows = spark.sql(sql).collect()
            out[cf] = {(r.path, r.slot): (r.value, r.n) for r in rows}
        return out

    with tempfile.TemporaryDirectory() as d:
        upkept, full = os.path.join(d, "upkept"), os.path.join(d, "full")
        ladder_sql.materialize_ladder(spark, obs.filter(~late), upkept, levels)
        upsert_level(spark, f"{upkept}/agg_3600", obs.filter(late), 3600)
        ladder_sql.register_level(spark, f"{upkept}/agg_3600", 3600)
        got = routed()
        ladder_sql.materialize_ladder(spark, obs, full, levels)
        want = routed()
    assert set(got["average"]) == set(want["average"])
    for cf in want:
        for k, (value, n) in want[cf].items():
            assert got[cf][k][0] == pytest.approx(value), (cf, k)
            assert got[cf][k][1] == n, (cf, k)
