"""Aggregate ladder + storage layout tests (sources/ladder.py,
sources/compaction.py): cascade losslessness, level routing, compaction
round-trips."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.sources import compaction
from esxsnmp_tsdb_spark.sources.ladder import build_ladder, pick_level, timerange
from esxsnmp_tsdb_spark.session import local_frame

OBS_SCHEMA = "path string, tse long, value double, flags int, event_id long"


@pytest.fixture(scope="module")
def obs(spark):
    rows = [
        ("a", t, float((t * 7) % 113), 1, i)
        for i, t in enumerate(range(0, 200_000, 137))
    ] + [
        ("b", t, float((t * 13) % 71), 1, 10_000 + i)
        for i, t in enumerate(range(50, 200_000, 211))
    ]
    return local_frame(spark, rows, OBS_SCHEMA)


def test_ladder_cascade_lossless(spark, obs):
    ladder = build_ladder(obs, levels=(300, 3600))
    direct = tsdb.downsample(obs, 3600)
    got = {(r.path, r.slot): r for r in ladder[3600].collect()}
    want = {(r.path, r.slot): r for r in direct.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].average == pytest.approx(want[k].average)
        assert got[k].vmin == want[k].vmin
        assert got[k].vmax == want[k].vmax
        assert got[k].last == want[k].last  # last survives the cascade
        assert got[k].n == want[k].n


def test_ladder_level_validation():
    with pytest.raises(ValueError, match="not a multiple"):
        build_ladder(None, levels=(300, 450))


def test_pick_level():
    assert pick_level((300, 3600, 86400), 7200) == 3600
    assert pick_level((300, 3600, 86400), 300) == 300
    assert pick_level((300, 3600, 86400), 86400 * 7) == 86400
    with pytest.raises(ValueError, match="no stored level"):
        pick_level((300, 3600), 450)


def test_timerange_routing_and_cfs(spark, obs):
    ladder = build_ladder(obs, levels=(300, 3600))
    # begin/end aligned to the requested step: the ladder serves whole
    # stored slots, exactly like the reference's aggregate-var select.
    routed = timerange(ladder, 0, 93_600, step=7200, cf="average")
    direct = (
        obs.filter((F.col("tse") >= 0) & (F.col("tse") < 93_600))
        .groupBy("path", tsdb.slot_of(F.col("tse"), 7200).alias("slot"))
        .agg(F.avg("value").alias("value"), F.count(F.lit(1)).alias("n"))
    )
    got = {(r.path, r.slot): (r.value, r.n) for r in routed.collect()}
    want = {(r.path, r.slot): (r.value, r.n) for r in direct.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0])
        assert got[k][1] == want[k][1]
    with pytest.raises(ValueError, match="unknown consolidation"):
        timerange(ladder, 0, 1, step=300, cf="median")


def test_write_obs_and_compact(spark, obs):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "obs")
        # two appends → at least 2 files per touched day partition
        compaction.write_obs(obs, path)
        compaction.write_obs(obs, path)
        n_before = spark.read.parquet(path).count()
        counts_before = compaction.partition_file_counts(spark, path)
        assert max(counts_before.values()) >= 2
        # A partition the data does not reach is left as it is: the
        # overwrite is dynamic per write, and the session mode unchanged.
        keep = os.path.join(path, "day=1969-12-30", "_keep")
        os.makedirs(os.path.dirname(keep))
        open(keep, "w").close()
        mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        compaction.compact(spark, path, target_file_bytes=1 << 30)
        assert os.path.exists(keep)
        assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode
        after = spark.read.parquet(path)
        assert after.count() == n_before  # lossless rewrite
        counts_after = compaction.partition_file_counts(spark, path)
        assert sum(counts_after.values()) < sum(counts_before.values())


def test_partition_pruning_on_day_layout(spark, obs):
    # The production layout's whole point: a time-range query against the
    # day-partitioned store must prune partitions (the reference's chunk
    # mapping), visible as PartitionFilters on the scan.
    import re

    from esxsnmp_tsdb_spark.plans import plan_str

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "obs")
        compaction.write_obs(obs, path)
        df = spark.read.parquet(path).filter(
            F.col("day") == "1970-01-02"
        )
        plan = plan_str(df, "formatted")
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "day" in m.group(1), plan
        # and only that day's rows come back
        days = {r.day for r in df.select("day").distinct().collect()}
        assert {str(x) for x in days} == {"1970-01-02"}


def test_write_obs_bucketed_roundtrip(spark, obs):
    table = "obs_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    compaction.write_obs_bucketed(obs, table, n_buckets=4)
    back = spark.table(table)
    assert back.count() == obs.count()
    # Bucketed table: a groupBy on the bucket key plans without an Exchange.
    from esxsnmp_tsdb_spark.plans import plan_str

    plan = plan_str(back.groupBy("path").agg(F.count(F.lit(1))), "simple")
    assert "Exchange" not in plan
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sql_ladder_routing_scans_routed_level_only(spark, obs):
    """Ladder routing reaches raw SQL too: a 1h-step query must scan the
    1h ladder table — not raw obs, not a finer level."""
    from esxsnmp_tsdb_spark.plans import plan_str
    from esxsnmp_tsdb_spark.sources import ladder_sql

    with tempfile.TemporaryDirectory() as d:
        ladder_sql.materialize_ladder(spark, obs, d, levels=(300, 3600))
        df = spark.sql(ladder_sql.route_sql(3600, 0, 93_600, levels=(300, 3600)))
        plan = plan_str(df)
        assert f"{d}/agg_3600" in plan          # scans the 1h table
        assert f"{d}/agg_300" not in plan       # not the finer level
        assert "agg_300" not in plan

        # Values equal the DataFrame-API router on the same ladder.
        api = timerange(build_ladder(obs, levels=(300, 3600)), 0, 93_600,
                        step=3600, cf="average")
        got = {(r.path, r.slot): (r.value, r.n) for r in df.collect()}
        want = {(r.path, r.slot): (r.value, r.n) for r in api.collect()}
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == pytest.approx(want[k][0])
            assert got[k][1] == want[k][1]


def test_sql_ladder_routing_reconsolidates(spark, obs):
    """A 2h request routes to the 1h level and re-consolidates in SQL."""
    from esxsnmp_tsdb_spark.sources import ladder_sql

    with tempfile.TemporaryDirectory() as d:
        ladder_sql.materialize_ladder(spark, obs, d, levels=(300, 3600))
        df = spark.sql(ladder_sql.route_sql(7200, 0, 93_600, levels=(300, 3600)))
        api = timerange(build_ladder(obs, levels=(300, 3600)), 0, 93_600,
                        step=7200, cf="average")
        got = {(r.path, r.slot): (r.value, r.n) for r in df.collect()}
        want = {(r.path, r.slot): (r.value, r.n) for r in api.collect()}
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == pytest.approx(want[k][0])
            assert got[k][1] == want[k][1]


def test_ladder_route_sql_op_prunes_day_partitions(spark):
    """The registered op's raw-SQL route must scan the persisted 1h store
    (never raw events) AND partition-prune its day layout via the derived
    day predicate route_sql emits."""
    import re

    from esxsnmp_tsdb_spark import registry
    from esxsnmp_tsdb_spark.plans import plan_str
    from tests.conftest import SF_SMOKE

    registry.load_all()
    df = registry.QUERIES["ts_ladder_route_sql"](spark, SF_SMOKE)
    plan = plan_str(df)
    assert "agg_3600" in plan, plan  # routed to the stored 1h level...
    assert "agg_300" not in plan  # ...not a finer one
    assert "events.parquet" not in plan  # ...and never raw
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan


def test_ladder_store_serves_requested_levels(spark):
    """The store is built per level set: a ``(600,)`` call after a
    default-levels call serves ``obs_agg_600`` as ``build_ladder`` does."""
    from esxsnmp_tsdb_spark.sources import flat_obs
    from esxsnmp_tsdb_spark.sources.ladder_sql import register_ladder_store
    from tests.conftest import SF_SMOKE

    register_ladder_store(spark, SF_SMOKE)
    assert register_ladder_store(spark, SF_SMOKE, (600,)) == {600: "obs_agg_600"}
    got = {(r.path, r.slot): r for r in spark.table("obs_agg_600").collect()}
    want = build_ladder(flat_obs(spark, SF_SMOKE), (600,))[600]
    want = {(r.path, r.slot): r for r in want.collect()}
    assert got and set(got) == set(want)
    for k, w in want.items():
        for c in ("average", "total", "vmin", "vmax", "last", "n"):
            assert got[k][c] == pytest.approx(w[c]), (k, c)
