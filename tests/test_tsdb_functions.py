"""Reference-semantics edge cases on tiny literal DataFrames
(SURVEY.md §5.2 / FIXTURES.md 'edge-case unit fixtures'):
counter wrap at 2³² and 2⁶⁴ (Decimal), heartbeat gap == vs > threshold,
delta spanning bucket boundaries, last-write-wins overwrite, empty-slot
spine, cascade(fine) == direct(coarse).
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.session import local_frame

OBS_SCHEMA = "path string, tse long, value double, flags int, event_id long"


def obs_df(spark, rows):
    return local_frame(spark, rows, OBS_SCHEMA)


def test_counter32_wrap(spark):
    # 2³²-10 → 5 across one step: true delta is 15, not -4294967291.
    df = local_frame(
        spark,
        [("s", 0, 2**32 - 10, 0), ("s", 300, 5, 1)],
        "path string, tse long, counter long, event_id long",
    )
    out = tsdb.counter_rate(df, "counter", modulus=tsdb.COUNTER32_MAX).collect()
    row = [r for r in out if r.tse == 300][0]
    assert row.wrapped_delta == 15
    assert row.rate == pytest.approx(15 / 300)


def test_counter64_wrap_needs_decimal(spark):
    # Counter64 wrap math overflows doubles (2⁶⁴ ≈ 1.8e19 > 2⁵³ precision);
    # DecimalType(38,0) carries it exactly (SURVEY.md §7 hard parts).
    big = 2**64 - 3
    df = local_frame(
        spark,
        [("s", 0, Decimal(big), 0), ("s", 300, Decimal(7), 1)],
        T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("tse", T.LongType()),
                T.StructField("counter", T.DecimalType(38, 0)),
                T.StructField("event_id", T.LongType()),
            ]
        ),
    )
    d = tsdb.deltas(df, "counter")
    wrapped = d.withColumn(
        "wd", tsdb.wrap_correct(F.col("delta"), tsdb.COUNTER64_MAX)
    )
    row = [r for r in wrapped.collect() if r.tse == 300][0]
    assert int(row.wd) == 10  # (7 - (2^64-3)) + 2^64


@pytest.mark.parametrize("modulus", [tsdb.COUNTER32_MAX, tsdb.COUNTER64_MAX])
def test_counter_rate_same_second_is_null(spark, modulus):
    # Two samples in one second (dt = 0) rate NULL instead of raising
    # DIVIDE_BY_ZERO, on the long path and on the decimal(38,0) Counter64
    # path, and the rate keeps the type plain division gives it.
    df = local_frame(
        spark,
        [("s", 0, 5, 0), ("s", 0, 9, 1), ("s", 300, 12, 2)],
        "path string, tse long, counter long, event_id long",
    )
    out = tsdb.counter_rate(df, "counter", modulus=modulus)
    rows = {r.event_id: r for r in out.collect()}
    assert rows[1].dt == 0 and int(rows[1].wrapped_delta) == 4
    assert rows[1].rate is None
    assert float(rows[2].rate) == pytest.approx(3 / 300)

    if modulus > 2**63 - 1:
        df = df.withColumn("counter", F.col("counter").cast("decimal(38,0)"))
    corrected = tsdb.wrap_correct(F.col("delta"), modulus)
    plain = tsdb.deltas(df, "counter").select((corrected / F.col("dt")).alias("r"))
    assert out.schema["rate"].dataType == plain.schema["r"].dataType


def test_heartbeat_boundary(spark):
    # gap == heartbeat stays valid; gap > heartbeat invalidates.
    df = local_frame(
        spark,
        [("s", 0, 0.0, 0), ("s", 900, 90.0, 1), ("s", 1801, 180.0, 2)],
        "path string, tse long, counter double, event_id long",
    )
    out = tsdb.counter_rate(df, "counter", modulus=2**32, heartbeat=900)
    rows = {r.tse: r for r in out.collect()}
    assert rows[900].rate == pytest.approx(0.1)  # gap == 900: valid
    assert rows[1801].rate is None  # gap 901 > 900: invalid
    assert rows[0].rate is None  # first sample: no previous


def test_bin_split_proportional(spark):
    # delta=100.0 observed over (50, 250], bucket=100 →
    # bucket 0 gets 50/200, bucket 100 gets 100/200, bucket 200 gets 50/200.
    df = obs_df(spark, [("s", 50, 0.0, 1, 0), ("s", 250, 100.0, 1, 1)])
    d = tsdb.deltas(df)
    out = {
        r.bucket: r.delta_alloc for r in tsdb.bin_split(d, bucket=100).collect()
    }
    assert out == {
        0: pytest.approx(25.0),
        100: pytest.approx(50.0),
        200: pytest.approx(25.0),
    }
    # conservation: allocations sum to the original delta
    assert sum(out.values()) == pytest.approx(100.0)


def test_bin_split_within_bucket(spark):
    # interval fully inside one bucket → everything lands there
    df = obs_df(spark, [("s", 110, 0.0, 1, 0), ("s", 190, 40.0, 1, 1)])
    d = tsdb.deltas(df)
    out = tsdb.bin_split(d, bucket=100).collect()
    assert len(out) == 1 and out[0].bucket == 100
    assert out[0].delta_alloc == pytest.approx(40.0)


def test_slot_dedup_last_write_wins(spark):
    # same slot written twice → latest (tse, event_id) wins, like the
    # reference's positional overwrite (TSDBVar.insert †).
    df = obs_df(
        spark,
        [
            ("s", 10, 1.0, 1, 0),
            ("s", 20, 2.0, 1, 1),   # same slot (step=300), later ts wins
            ("s", 20, 3.0, 1, 2),   # same ts, larger event_id wins
            ("s", 310, 4.0, 1, 3),  # next slot untouched
        ],
    )
    out = {r.slot: r.value for r in tsdb.slot_dedup(df, step=300).collect()}
    assert out == {0: 3.0, 300: 4.0}


def test_time_spine_materializes_empty_slots(spark):
    # slots with no data appear as invalid rows — TSDBVar.select returns
    # invalid rows for never-written slots †.
    df = obs_df(spark, [("s", 0, 1.0, 1, 0), ("s", 700, 2.0, 1, 1)])
    out = tsdb.time_spine(df, begin=0, end=900, step=300).collect()
    by_slot = {r.slot: r for r in out}
    assert sorted(by_slot) == [0, 300, 600]
    assert by_slot[0].valid and by_slot[0].average == pytest.approx(1.0)
    assert not by_slot[300].valid and by_slot[300].average is None
    assert by_slot[300].n == 0
    assert by_slot[600].valid and by_slot[600].average == pytest.approx(2.0)


def test_cascade_equals_direct(spark):
    # avg/min/max consolidated 300s → 3600s via the cascade must equal the
    # direct 3600s consolidation (update_all_aggregates invariant †).
    rows = [
        ("a", t, float((t * 7) % 113), 1, i)
        for i, t in enumerate(range(0, 7200, 137))
    ] + [
        ("b", t, float((t * 13) % 71), 1, 1000 + i)
        for i, t in enumerate(range(50, 7200, 211))
    ]
    df = obs_df(spark, rows)
    fine = tsdb.downsample(df, 300)
    cascade = (
        fine.groupBy("path", tsdb.slot_of(F.col("slot"), 3600).alias("slot"))
        .agg(
            (F.sum("total") / F.sum("n")).alias("average"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("n").alias("n"),
        )
    )
    direct = tsdb.downsample(df, 3600)
    c = {(r.path, r.slot): r for r in cascade.collect()}
    d = {(r.path, r.slot): r for r in direct.collect()}
    assert set(c) == set(d)
    for k in c:
        assert c[k].average == pytest.approx(d[k].average)
        assert c[k].vmin == d[k].vmin
        assert c[k].vmax == d[k].vmax
        assert c[k].n == d[k].n


def test_valid_only_bitmask(spark):
    df = obs_df(
        spark,
        [("s", 0, 1.0, 0, 0), ("s", 300, 2.0, 1, 1), ("s", 600, 3.0, 3, 2)],
    )
    vals = sorted(r.value for r in tsdb.valid_only(df).collect())
    assert vals == [2.0, 3.0]  # flags 1 and 3 carry ROW_VALID; 0 does not


def test_range_scan_half_open(spark):
    df = obs_df(
        spark,
        [("s", 99, 1.0, 1, 0), ("s", 100, 2.0, 1, 1), ("s", 200, 3.0, 1, 2)],
    )
    vals = sorted(r.value for r in tsdb.range_scan(df, 100, 200).collect())
    assert vals == [2.0]  # begin inclusive, end exclusive


def test_downsample_hot_path_salting_identical_and_two_phase(spark):
    """The skew opt-in: naming a hot series must not change a single
    value (all five CFs are algebraic), and the hot branch's plan must
    aggregate in two phases on the salted key."""
    from esxsnmp_tsdb_spark.plans import plan_str

    rows = [
        (p, t, float((t * 7 + i) % 101), 1, i)
        for i, (p, t) in enumerate(
            [("hot", t) for t in range(0, 40_000, 10)]
            + [("cold", t) for t in range(0, 40_000, 400)]
        )
    ]
    obs = local_frame(
        spark, rows, "path string, tse long, value double, flags int, event_id long"
    )
    plain = tsdb.downsample(obs, 3600)
    salted = tsdb.downsample(obs, 3600, hot_paths=("hot",))
    got = {(r.path, r.slot): r for r in salted.collect()}
    want = {(r.path, r.slot): r for r in plain.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].average == pytest.approx(want[k].average)
        assert got[k].total == pytest.approx(want[k].total)
        assert got[k].vmin == want[k].vmin
        assert got[k].vmax == want[k].vmax
        assert got[k].last == want[k].last
        assert got[k].n == want[k].n
    # two-phase on the salted key: the partial exchange partitions on
    # (path, slot, _salt), the final on (path, slot)
    plan = plan_str(salted, "simple")
    assert "_salt" in plan, plan
    import re

    assert re.search(r"hashpartitioning\([^)]*_salt", plan), plan
