"""Cross-sf view re-keying: one session serving queries at DIFFERENT
fixture scales must re-point its temp views when ``sf_dir`` changes and
skip re-registration when it does not (sources/catalog.py ·
register_views, whose one ``"views"`` memo entry records the ``sf_dir``
and table stamps the views were registered from).

The driver runs every op through one SparkSession; the verify recipe
(.claude/skills/verify/SKILL.md) probes this by hand — "call the same
query at two sf dirs and back".  This test pins it in CI: a stale view
would silently serve sf0.001 row counts to an sf0.01 query, which the
per-op oracles cannot catch (they pass sf_dir explicitly and would both
read the stale view through any SQL-path operator)."""

from __future__ import annotations

import duckdb
import pytest

from esxsnmp_tsdb_spark.sources.catalog import register_views

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _view_count(spark, table: str) -> int:
    return spark.sql(f"SELECT count(*) AS n FROM {table}").collect()[0].n


@pytest.mark.parametrize("table", ["events", "lineitem"])
def test_views_follow_sf_dir_and_back(spark, table):
    want_a = duckdb.sql(
        f"SELECT count(*) FROM '{SF_A}/{table}.parquet'"
    ).fetchone()[0]
    want_b = duckdb.sql(
        f"SELECT count(*) FROM '{SF_B}/{table}.parquet'"
    ).fetchone()[0]
    assert want_a != want_b, "fixture scales must differ for this test"

    register_views(spark, SF_A)
    assert _view_count(spark, table) == want_a
    register_views(spark, SF_B)
    assert _view_count(spark, table) == want_b, (
        "view not re-keyed on sf_dir change — stale-scale reads"
    )
    register_views(spark, SF_A)  # and back again
    assert _view_count(spark, table) == want_a
    assert spark.conf.get("spark.esxsnmp_tsdb.viewSfDir", None) is None


def test_same_sf_dir_skips_reregistration(spark):
    register_views(spark, SF_A)
    # Replace one view behind register_views' back; a second call with
    # the SAME sf_dir must be a no-op (the documented idempotent-cheap
    # contract), so the marker survives.  The restore runs in a finally:
    # a failing assertion mid-test must not leave the
    # marker view registered to poison later SQL-path tests sharing the
    # session.
    try:
        spark.sql("SELECT 42 AS marker").createOrReplaceTempView("region")
        register_views(spark, SF_A)
        assert "marker" in spark.table("region").columns
        # ...and a DIFFERENT sf_dir must stomp the marker with the real
        # table.
        register_views(spark, SF_B)
        assert "marker" not in spark.table("region").columns
    finally:
        # Force re-registration of the REAL views regardless of which
        # assertion (if any) failed: flip to the other sf_dir, then back.
        # Restoration ONLY here — an assert inside the finally would
        # mask the original in-body failure.
        register_views(spark, SF_B)
        register_views(spark, SF_A)
    assert "marker" not in spark.table("region").columns
