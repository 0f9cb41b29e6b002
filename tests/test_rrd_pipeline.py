"""Composed-pipeline invariants (operators/rrd_pipeline.py): the stored
1 h level's delta CF must equal `ts_bin_split`-style re-aggregation of
the same wrap-corrected, heartbeat-filtered deltas (the pipeline may not
drift from the per-op path it composes), plus conservation and
visibility identities."""

from __future__ import annotations

from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import BUCKET, HEARTBEAT, SYNTH_WRAP
from esxsnmp_tsdb_spark.operators.aggregator import _counter
from esxsnmp_tsdb_spark.operators.rrd_pipeline import (
    MICRO,
    ladder_full_pipeline,
    ts_flag_visibility,
)
from tests.conftest import SF_SMOKE


def _obs(spark):
    from esxsnmp_tsdb_spark.sources import register_views

    return tsdb.obs_from_events(register_views(spark, SF_SMOKE)["events"])


def test_stored_1h_delta_equals_bin_split_reagg(spark):
    """The pipeline's stored 1 h delta CF == tsdb.bin_split re-aggregated
    to 1 h over the SAME spans (wrapped counter, heartbeat-filtered) —
    the composed ladder loses nothing vs the piecewise stages."""
    obs = _obs(spark)
    stored = ladder_full_pipeline(obs)

    cnt = _counter(obs).withColumn("counter", F.col("counter") % SYNTH_WRAP)
    d = tsdb.deltas(cnt, "counter").filter(F.col("dt") <= HEARTBEAT)
    d = d.withColumn(
        "delta",
        tsdb.wrap_correct(F.col("delta"), SYNTH_WRAP).cast("double"),
    )
    reagg = (
        tsdb.bin_split(d, BUCKET)
        .groupBy("path", F.col("bucket").alias("slot"))
        .agg(F.sum("delta_alloc").alias("delta_direct"))
    )
    got = {(r.path, r.slot): r.delta_micro / MICRO for r in stored.collect()}
    want = {(r.path, r.slot): r.delta_direct for r in reagg.collect()}
    assert set(got) == set(want)
    for k, v in want.items():
        # integer-division truncation loses < 1 micro-unit per exploded
        # fine-bucket row; a 1 h slot holds <= 12 fine buckets x spans.
        assert abs(got[k] - v) < 1e-2, (k, got[k], v)


def test_pipeline_conserves_total_delta(spark):
    """Sum of all allocated micro-deltas == sum of the raw wrap-corrected
    deltas (up to div truncation) — allocation neither invents nor drops
    counter change."""
    obs = _obs(spark)
    stored = ladder_full_pipeline(obs)
    total_alloc = stored.agg(F.sum("delta_micro")).collect()[0][0]
    n_exploded = stored.agg(F.sum("n_spans")).collect()[0][0]

    cnt = _counter(obs).withColumn("counter", F.col("counter") % SYNTH_WRAP)
    d = tsdb.deltas(cnt, "counter").filter(
        F.col("delta").isNotNull() & (F.col("dt") > 0) & (F.col("dt") <= HEARTBEAT)
    )
    total_raw = (
        d.select(
            tsdb.wrap_correct(F.col("delta"), SYNTH_WRAP).cast("bigint").alias("wd")
        )
        .agg(F.sum("wd"))
        .collect()[0][0]
    )
    # each exploded row truncates < 1 micro-unit
    assert 0 <= total_raw * MICRO - total_alloc < n_exploded


def test_pipeline_plan_single_window_exchange(spark):
    """Plan shape: exactly one hashpartitioning exchange on path (the lag
    window); both ladder group-bys ride partial aggregation, and the
    explode is JVM `sequence` (no Python stage)."""
    plan = ladder_full_pipeline(_obs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the window exchange plus the two aggregate exchanges at most; the
    # load-bearing assertion is no *extra* exchange between fine and 1h
    # beyond hash partitioning (fine (path,fbucket) does not co-locate
    # (path,slot) in general).
    assert plan.count("Exchange hashpartitioning") <= 3


def test_visibility_census_identities(spark):
    rep = ts_flag_visibility(spark, SF_SMOKE)
    bad = rep.filter(
        (F.col("n_visible_valid") > F.col("n_valid"))
        | (F.col("n_valid") > F.col("n_total"))
        | (F.col("n_hidden") > F.col("n_total"))
        # visible_valid = valid - (valid AND hidden) >= valid - hidden
        | (F.col("n_visible_valid") < F.col("n_valid") - F.col("n_hidden"))
    )
    assert bad.count() == 0
    # the fixture plants both bits: some rows hidden, some invalid
    tot = rep.agg(
        F.sum("n_total").alias("t"),
        F.sum("n_valid").alias("v"),
        F.sum("n_hidden").alias("h"),
        F.sum("n_visible_valid").alias("vv"),
    ).collect()[0]
    assert 0 < tot.h < tot.t
    assert 0 < tot.vv < tot.v


def test_stream_pipeline_equals_batch_and_replay_idempotent(spark):
    """The streaming twin's stored level == the batch op's, cell for
    cell (exact integers); and re-delivering an epoch's fold changes
    nothing (epoch-keyed partials overwrite themselves)."""
    from esxsnmp_tsdb_spark.operators import rrd_pipeline as rp

    got = rp.stream_ladder_full_pipeline(spark, SF_SMOKE)
    want = rp.ts_ladder_full_pipeline(spark, SF_SMOKE)
    cols = ("path", "slot", "delta_micro", "fine_min_micro",
            "fine_max_micro", "n_fine", "n_spans")
    g = {tuple(r[c] for c in cols) for r in got.collect()}
    w = {tuple(r[c] for c in cols) for r in want.collect()}
    assert g == w

    # replay: drive the whole op a second time over the same session —
    # fresh staging + checkpoint must converge to the same stored level
    # (the epoch-keyed partials make any re-delivery self-overwriting)
    again = rp.stream_ladder_full_pipeline(spark, SF_SMOKE)
    g2 = {tuple(r[c] for c in cols) for r in again.collect()}
    assert g2 == w
