"""Fixture-derived state follows its fixture.

Everything the engine keeps for reuse — persisted indexes, the temp
views, the routed ``bkt_obs`` table — is held in the per-session memo and
stamped with the fixture files it came from
(``sources.catalog.fixture_memo``).  Each test here builds that state on
a private copy of the fixture, rewrites the table under it, and checks the
next read answers from the rewritten bytes; the last one checks the
engine leaves no conf key of its own in the caller's session.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.operators.storage2 import bucketed_obs_table
from esxsnmp_tsdb_spark.sources import (
    ROUTE_BUCKETED_CONF,
    flat_obs,
    load_obs,
    register_views,
)
from tests.conftest import SF_SMOKE
from tests.oracle_harness import duck_connection, run_op


@pytest.fixture
def sf(tmp_path):
    """A private copy of the fixture, so tables can be rewritten freely."""
    dst = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, dst)
    return dst


def _truncate(sf_dir: str, table: str, n: int) -> None:
    path = os.path.join(sf_dir, f"{table}.parquet")
    pq.write_table(pq.read_table(path).slice(0, n), path)


def _oracle_problems(spark, sf_dir: str, key: str) -> list[str]:
    registry.load_all()
    return run_op(
        spark,
        duck_connection(sf_dir),
        registry.QUERIES[key],
        registry.ORACLE[key],
        sf_dir,
        key,
    )


@pytest.mark.parametrize(
    "key, table",
    [
        ("dedup_minhash_indexed", "documents"),
        ("dedup_semantic_indexed", "embeddings"),
    ],
)
def test_index_follows_rewritten_corpus(spark, sf, key, table):
    assert _oracle_problems(spark, sf, key) == []  # index built and memoized
    _truncate(sf, table, 50)
    assert _oracle_problems(spark, sf, key) == []


def _sql_count(spark, table: str) -> int:
    return spark.sql(f"SELECT count(*) AS n FROM {table}").collect()[0].n


def test_view_sees_part_file_added_to_directory_table(spark, sf):
    path = os.path.join(sf, "orders.parquet")
    rows = pq.read_table(path)
    os.remove(path)
    os.makedirs(path)
    pq.write_table(rows, os.path.join(path, "part-00000.parquet"))
    try:
        register_views(spark, sf)
        assert _sql_count(spark, "orders") == rows.num_rows
        pq.write_table(rows.slice(0, 10), os.path.join(path, "part-00001.parquet"))
        dfs = register_views(spark, sf)
        assert dfs["orders"].count() == rows.num_rows + 10
        assert _sql_count(spark, "orders") == rows.num_rows + 10
    finally:
        register_views(spark, SF_SMOKE)  # later SQL-path tests read the views


def _rows(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


def test_routed_obs_follows_rewritten_events(spark, sf):
    bucketed_obs_table(spark, sf)
    _truncate(sf, "events", 100)
    spark.conf.set(ROUTE_BUCKETED_CONF, "true")
    try:
        routed = _rows(load_obs(spark, sf))
    finally:
        spark.conf.set(ROUTE_BUCKETED_CONF, "false")
    assert routed == _rows(flat_obs(spark, sf))
    assert len(routed) == 100


def test_no_engine_conf_key_left_in_session(spark):
    register_views(spark, SF_SMOKE)
    bucketed_obs_table(spark, SF_SMOKE)
    for key in ("spark.esxsnmp_tsdb.viewSfDir", "spark.esxsnmp_tsdb.bktObsSfDir"):
        assert spark.conf.get(key, None) is None, key
