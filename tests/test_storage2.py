"""Layout-level proofs for the storage batch-2 ops: the oracle gate
shows the values survive; these tests show the LAYOUT does what the
docstrings claim (no exchange under the bucketed join, dimensionally
tight z-ordered files, union schema with NULL backfill)."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators import storage2
from tests.conftest import SF_SMOKE


def test_bucketed_join_has_no_exchange(spark):
    df = storage2.storage_bucketed_join(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the join consumes the bucket layout: nothing shuffles under it
    join_part = plan[plan.index("SortMergeJoin") :]
    assert "Exchange" not in join_part


def test_zorder_files_are_tight_in_both_dims(spark):
    import glob
    import os

    storage2.storage_zorder_scan(spark, SF_SMOKE).collect()
    from esxsnmp_tsdb_spark.operators._workdirs import op_dir

    out = op_dir("zorder_obs", fresh=False)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) > 1
    spans = []
    g_min, g_max = None, None
    for f in files:
        t = pq.read_table(f, columns=["tse"])
        col = t["tse"].to_pylist()
        lo, hi = min(col), max(col)
        spans.append(hi - lo)
        g_min = lo if g_min is None else min(g_min, lo)
        g_max = hi if g_max is None else max(g_max, hi)
    # every z-ordered file covers a strictly smaller time span than the
    # dataset: time-range predicates can skip files
    assert all(s < (g_max - g_min) for s in spans)


def test_schema_evolution_backfills_nulls(spark):
    df = storage2.storage_schema_evolution(spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n_quality < r.n  # old generation really is NULL


def test_bucketed_obs_consolidation_has_no_exchange(spark):
    """The §2.2 consolidation family on the bucketed
    obs layout (bucketBy(hash(path)).sortBy(path, tse)) must plan with
    ZERO hashpartitioning exchange — both the (path, slot) group-by
    (bucket hash on path co-locates every grouping key) and the
    per-series lag window (reads pre-sorted buckets)."""
    from pyspark.sql import Window

    from esxsnmp_tsdb_spark.functions import tsdb
    from esxsnmp_tsdb_spark.operators.storage2 import bucketed_obs_table
    from esxsnmp_tsdb_spark.plans import plan_str

    obs = bucketed_obs_table(spark, SF_SMOKE)

    # downsample-avg shape: groupBy (path, slot)
    ds = obs.groupBy("path", tsdb.slot_of(F.col("tse"), 3600).alias("slot")).agg(
        F.avg("value").alias("average"), F.count(F.lit(1)).alias("n")
    )
    p = plan_str(ds)
    assert "Exchange hashpartitioning" not in p, p

    # rate shape: per-series lag window
    w = Window.partitionBy("path").orderBy("tse", "event_id")
    d = obs.select(
        "path", "tse", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )
    p2 = plan_str(d)
    assert "Exchange hashpartitioning" not in p2, p2

    # and the values are the raw-parquet values (layout changed the
    # physics, not the answer)
    from esxsnmp_tsdb_spark.sources import register_views

    raw = tsdb.obs_from_events(register_views(spark, SF_SMOKE)["events"])
    want = raw.groupBy("path").agg(F.sum("value").alias("s")).collect()
    got = obs.groupBy("path").agg(F.sum("value").alias("s")).collect()
    assert {(r.path, round(r.s, 6)) for r in got} == {
        (r.path, round(r.s, 6)) for r in want
    }


def test_bin_split_bucketed_zero_exchange_and_values_match(spark):
    """The proportional bin-split on the bucketed obs
    layout plans with ZERO Exchange of any kind (windows read the bucket
    sort, the explode is row-local, hash(path) satisfies the (path,
    bucket) allocation group-by) — and the values are exactly
    `ts_bin_split`'s."""
    from esxsnmp_tsdb_spark.operators.aggregator import ts_bin_split
    from esxsnmp_tsdb_spark.plans import plan_str

    df = storage2.ts_bin_split_bucketed(spark, SF_SMOKE)
    p = plan_str(df)
    assert "Exchange" not in p, p

    want = {
        (r.path, r.bucket): r.delta_alloc
        for r in ts_bin_split(spark, SF_SMOKE).collect()
    }
    got = {(r.path, r.bucket): r.delta_alloc for r in df.collect()}
    assert got == want
