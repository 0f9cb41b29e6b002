"""Incremental ladder maintenance: streaming foreachBatch upserts must
converge to exactly the batch-built ladder (SURVEY.md §3.2)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.sources import register_views
from esxsnmp_tsdb_spark.streaming import events_stream
from esxsnmp_tsdb_spark.streaming.maintenance import maintain_levels, read_level
from esxsnmp_tsdb_spark.session import local_frame

SF = "/root/testdata/sf0.001"


def test_streaming_maintenance_equals_batch(spark):
    out = tempfile.mkdtemp(prefix="ladder_out_")
    obs = tsdb.obs_from_events(events_stream(spark, SF))
    maintain_levels(obs, out, levels=(3600,))  # runs to completion

    maintained = read_level(spark, out, 3600)
    batch_obs = tsdb.obs_from_events(register_views(spark, SF)["events"])
    direct = tsdb.downsample(batch_obs, 3600)

    got = {(r.path, r.slot): r for r in maintained.collect()}
    want = {(r.path, r.slot): r for r in direct.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].average == pytest.approx(want[k].average)
        assert got[k].vmin == want[k].vmin
        assert got[k].vmax == want[k].vmax
        assert got[k].n == want[k].n


def test_merge_partials_is_algebraic(spark):
    """Partials of a 3-way split, merged in two different groupings at
    the same step, finish to the direct consolidation — all six columns,
    ``last`` included."""
    rows = [("s", t, float(t % 13), 1, i) for i, t in enumerate(range(0, 5000, 37))]
    df = local_frame(
        spark, rows, "path string, tse long, value double, flags int, event_id long"
    )
    parts = [
        tsdb.consolidation_partial(df.filter(F.col("event_id") % 3 == k), 300)
        for k in range(3)
    ]
    left = tsdb.merge_partial(
        tsdb.merge_partial(parts[0].unionByName(parts[1]), 300).unionByName(
            parts[2]
        ),
        300,
    )
    right = tsdb.merge_partial(
        parts[2].unionByName(parts[1]).unionByName(parts[0]), 300
    )
    direct = tsdb.downsample(df, 300)
    cols = ("average", "total", "vmin", "vmax", "last", "n")
    want = {(r.path, r.slot): r for r in direct.collect()}
    for merged in (left, right):
        got = {(r.path, r.slot): r for r in tsdb.finish_partial(merged).collect()}
        assert set(got) == set(want)
        for k in want:
            for c in cols:
                assert got[k][c] == pytest.approx(want[k][c]), (k, c)


def test_expire_late_arrival_backfill_converges(spark):
    """The classic TSDB operational race, staged deterministically:
    (1) the ladder is maintained from in-time data, (2) retention expires
    the oldest day partition, (3) LATE data arrives spanning both the
    expired day and a retained day, (4) the retention-aware maintenance
    merges it, (5) compaction rewrites the level.  The ladder must
    converge to the batch twin over retained-window data only — the
    expired day stays expired (never resurrected by the late batch), the
    retained day absorbs the backfill exactly."""
    import os
    import shutil

    from esxsnmp_tsdb_spark.sources import compaction
    from esxsnmp_tsdb_spark.streaming.maintenance import (
        read_level,
        upsert_level,
    )

    out = tempfile.mkdtemp(prefix="ladder_expire_")
    level = f"{out}/level=3600"
    step = 3600
    day = 86400
    # 3 days of two series, one sample per 300s; every 7th sample is "late"
    rows = [
        (p, t, float((t // 300) % 17), 1, i)
        for p in ("s1", "s2")
        for i, t in enumerate(range(0, 3 * day, 300))
    ]
    schema = "path string, tse long, value double, flags int, event_id long"
    obs = local_frame(spark, rows, schema)
    on_time = obs.filter(F.col("event_id") % 7 != 0)
    late = obs.filter(F.col("event_id") % 7 == 0)

    # (1) initial maintenance from the on-time feed
    upsert_level(spark, level, on_time, step)
    assert os.path.isdir(f"{level}/day=1970-01-01")
    # (2) retention expires day 0 (directory drop, the O(1) expiry)
    shutil.rmtree(f"{level}/day=1970-01-01")
    cutoff = "1970-01-02"
    # (3)+(4) the late batch — including rows for the EXPIRED day —
    # merges under the retention policy
    upsert_level(spark, level, late, step, retention_cutoff=cutoff)
    # (5) compaction rewrites what remains, losslessly
    compaction.compact(spark, level, sort_cols=("path", "slot"))

    # expired day stayed expired: no resurrection by the late arrivals
    assert not os.path.exists(f"{level}/day=1970-01-01")
    # and the store converges to the batch twin over the retained window
    maintained = read_level(spark, out, step)
    direct = tsdb.downsample(obs.filter(F.col("tse") >= day), step)
    got = {(r.path, r.slot): r for r in maintained.collect()}
    want = {(r.path, r.slot): r for r in direct.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].average == pytest.approx(want[k].average)
        assert got[k].vmin == want[k].vmin
        assert got[k].vmax == want[k].vmax
        assert got[k].n == want[k].n


def test_ladder_backfill_replaces_only_its_days(spark, monkeypatch):
    """``ts_ladder_backfill`` rewrites the day partition it repairs and no
    other, through a per-write overwrite option: the session's
    ``partitionOverwriteMode`` is left as it was."""
    from esxsnmp_tsdb_spark.operators import _workdirs
    from esxsnmp_tsdb_spark.operators._shared import BUCKET
    from esxsnmp_tsdb_spark.operators.aggregator2 import ts_ladder_backfill

    op_dir = _workdirs.op_dir
    # keep the level between the two calls, as a stored ladder is kept
    monkeypatch.setattr(
        _workdirs, "op_dir", lambda name, fresh=True: op_dir(name, fresh=False)
    )
    out = os.path.join(op_dir("ladder_backfill"), f"level={BUCKET}")
    n = ts_ladder_backfill(spark, SF).count()
    (touched,) = [d for d in os.listdir(out) if d.startswith("day=")]
    untouched = os.path.join(out, "day=2000-01-01")
    shutil.copytree(os.path.join(out, touched), untouched)
    kept = sorted(os.listdir(untouched))
    before = sorted(os.listdir(os.path.join(out, touched)))
    conf = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(conf)

    back = ts_ladder_backfill(spark, SF)
    assert sorted(os.listdir(untouched)) == kept
    assert sorted(os.listdir(os.path.join(out, touched))) != before
    assert back.count() == 2 * n  # the repaired day plus the kept copy
    assert spark.conf.get(conf) == mode
