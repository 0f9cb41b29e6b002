"""Format round-trips: every supported interchange format preserves the
obs layout exactly (schema-pinned reads, no inference)."""

from __future__ import annotations

import os
import tempfile

import pytest

from esxsnmp_tsdb_spark.sources import formats
from esxsnmp_tsdb_spark.session import local_frame


@pytest.fixture(scope="module")
def obs(spark):
    rows = [
        ("a/click", 1704067200 + i * 300, float(i % 7), 1, i) for i in range(200)
    ]
    return local_frame(
        spark, rows, "path string, tse long, value double, flags int, event_id long"
    )


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip(spark, obs, fmt):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, fmt)
        formats.write_obs_as(obs, fmt, path)
        back = formats.read_obs(spark, fmt, path)
        assert back.schema == formats.OBS_SCHEMA
        a = sorted(map(tuple, obs.collect()))
        b = sorted(map(tuple, back.collect()))
        assert a == b


def test_unsupported_format(spark, obs):
    with pytest.raises(ValueError, match="unsupported format"):
        formats.write_obs_as(obs, "avro", "/tmp/x")


def test_delta_gate():
    with pytest.raises(NotImplementedError, match="Delta Lake"):
        formats.delta_table()
