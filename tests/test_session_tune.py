"""``session.tune`` applies ``RUNTIME_CONF`` once per session: a conf set
after it — by a caller, a test, ``cluster.apply`` or an op — stays set
through every later load, and a session the engine did not build is
tuned by its first load."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from esxsnmp_tsdb_spark import cluster, registry
from esxsnmp_tsdb_spark.session import tune
from esxsnmp_tsdb_spark.sources.catalog import (
    load_events_range,
    load_obs,
    load_table,
    register_views,
)
from esxsnmp_tsdb_spark.streaming.runner import events_stream
from tests.conftest import SF_SMOKE

registry.load_all()

SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture()
def fresh(spark):
    """A new session on the suite's context, not built by ``get_session``."""
    yield spark.newSession()
    # The memo holds one session at a time; mark the suite's session
    # tuned again so later tests never see it re-tuned mid-test.
    tune(spark)


@pytest.fixture()
def caller_confs(spark):
    """Set confs as a caller would, restoring the session's own after."""
    saved: dict[str, str] = {}

    def set_(confs: dict[str, str]) -> None:
        tune(spark)
        for k, v in confs.items():
            saved.setdefault(k, spark.conf.get(k))
            spark.conf.set(k, v)

    yield set_
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_caller_conf_survives_every_load(spark, caller_confs):
    caller_confs({SHUFFLE: "7"})
    loads = {
        "tune": lambda: tune(spark),
        "register_views": lambda: register_views(spark, SF_SMOKE),
        "load_table": lambda: load_table(spark, SF_SMOKE, "events"),
        "load_events_range": lambda: load_events_range(spark, SF_SMOKE, 0, 2**31),
        "load_obs": lambda: load_obs(spark, SF_SMOKE),
        "events_stream": lambda: events_stream(spark, SF_SMOKE),
    }
    for name, load in loads.items():
        load()
        assert spark.conf.get(SHUFFLE) == "7", name


def test_first_load_tunes_a_vanilla_session(fresh):
    """The driver's contract: its own session is tuned by its first
    load, and only by that one."""
    fresh.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    fresh.conf.set("spark.sql.session.timeZone", "America/New_York")
    events = load_table(fresh, SF_SMOKE, "events")
    assert events.count() > 0
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    fresh.conf.set(SHUFFLE, "7")
    load_table(fresh, SF_SMOKE, "orders")
    assert fresh.conf.get(SHUFFLE) == "7"


def test_cluster_profile_survives_first_load(fresh):
    cluster.apply(fresh)
    load_table(fresh, SF_SMOKE, "events")
    profile = cluster.cluster_profile()
    for k in (
        SHUFFLE,
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
    ):
        assert fresh.conf.get(k) == profile[k], k


def test_connected_components_leaves_session_confs(spark, caller_confs):
    confs = {"spark.sql.adaptive.enabled": "true", SHUFFLE: "7"}
    caller_confs(confs)
    registry.QUERIES["dedup_connected_components"](spark, SF_SMOKE).collect()
    assert {k: spark.conf.get(k) for k in confs} == confs


def test_stream_schema_follows_rewritten_events(spark, tmp_path):
    path = os.path.join(tmp_path, "events.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), path)
    assert "extra" not in events_stream(spark, str(tmp_path)).columns
    table = pq.read_table(path)
    pq.write_table(
        table.append_column("extra", pa.array([1] * table.num_rows, pa.int64())),
        path,
    )
    assert "extra" in events_stream(spark, str(tmp_path)).columns


def test_sqrtn_stride_follows_rewritten_embeddings(spark, tmp_path):
    from esxsnmp_tsdb_spark.operators.dedup2 import sqrtn_stride

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    register_views(spark, sf)

    def engine_keys():
        return {k for k in spark.conf.getAll if k.startswith("spark.esxsnmp_tsdb.")}

    keys = engine_keys()
    assert sqrtn_stride(spark, sf) == 23  # ceil(sqrt(500))
    path = os.path.join(sf, "embeddings.parquet")
    pq.write_table(pq.read_table(path).slice(0, 10), path)
    assert sqrtn_stride(spark, sf) == 4  # ceil(sqrt(10))
    assert engine_keys() == keys, "the stride memo must not live in a session conf"
