"""The catalog's one timestamp contract (sources/catalog.py): schemas come
from the parquet footer, so opening a table runs no Spark job, and the
time-range ops answer the same on either stored timestamp encoding —
the fixtures' TIMESTAMP(MICROS) columns, read as TIMESTAMP_NTZ, and
TIMESTAMP(NANOS) columns, read as nano-longs and rebuilt."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.sources.catalog import (
    load_events_range,
    load_table,
    register_views,
)
from esxsnmp_tsdb_spark.streaming.runner import events_stream
from tests.conftest import SF_SMOKE
from tests.oracle_harness import duck_connection, run_op

registry.load_all()


@pytest.mark.parametrize(
    "key", ["ts_range_scan", "ts_point_lookup", "ts_last_known", "projection_filter"]
)
def test_range_ops_match_oracle_on_nanos(spark, sf_nanos, key):
    """The NANOS twin of ``test_oracle``'s check of these ops on the
    fixtures as stored."""
    fn, sql = registry.QUERIES[key], registry.ORACLE[key]
    problems = run_op(spark, duck_connection(sf_nanos), fn, sql, sf_nanos, key)
    assert not problems, problems


def test_events_stream_types_match_across_encodings(spark, sf_nanos):
    assert events_stream(spark, sf_nanos).dtypes == events_stream(spark, SF_SMOKE).dtypes


def test_catalog_opens_run_no_jobs(spark, count_jobs, tmp_path, sf_encodings):
    """A fresh directory misses every memo entry, so each open below is
    cold; none may run a schema-inference job."""
    sf = str(tmp_path / "sf")
    shutil.copytree(sf_encodings, sf)
    opens = {
        "views": lambda: register_views(spark, sf),
        "range": lambda: load_events_range(spark, sf, 0, 2**31),
        "stream": lambda: events_stream(spark, sf),
    }
    for name, open_ in opens.items():
        assert count_jobs(f"{sf}:{name}", open_) == 0, name


def test_spark_written_table_reads_with_its_spark_schema(spark, tmp_path):
    """Spark writes timestamps as INT96, which the parquet types alone
    would report as nanoseconds; the footer's Spark schema says what
    Spark reads them as, and the catalog takes that."""
    sf = str(tmp_path)
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    events.withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    assert dict(load_table(spark, sf, "events").dtypes)["ts"] == "timestamp"
    assert load_events_range(spark, sf, 0, 2**31).count() == events.count()
