"""Unit tests for functions/topk.py — the top-k that never funnels its
input through one task via a global window, and the bounded running
frame."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.functions.topk import bounded_running, ranked_topk
from esxsnmp_tsdb_spark.plans import GLOBAL_WINDOW_RE, plan_str


def _scored(spark):
    # 1000 rows, 8 partitions, deliberate ties in the score column.
    return (
        spark.range(0, 1000)
        .repartition(8)
        .withColumn("score", (F.col("id") * 7919) % 50)
    )


def test_ranked_topk_matches_window_rank(spark):
    df = _scored(spark)
    order = [F.col("score").desc(), F.col("id")]
    got = ranked_topk(df, 7, order).collect()
    w = Window.orderBy(F.col("score").desc(), F.col("id"))
    want = (
        df.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 7)
        .collect()
    )
    assert sorted((r.id, r.score, r.rank) for r in got) == sorted(
        (r.id, r.score, r.rank) for r in want
    )


def test_ranked_topk_plans_take_ordered_without_window(spark):
    df = _scored(spark)
    out = ranked_topk(df, 7, [F.col("score").desc(), F.col("id")])
    plan = plan_str(out, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert not GLOBAL_WINDOW_RE.search(plan)


def test_ranked_topk_deterministic_across_runs(spark):
    df = _scored(spark)
    order = [F.col("score").desc(), F.col("id")]
    a = ranked_topk(df, 5, order).collect()
    b = ranked_topk(df.repartition(3), 5, order).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bounded_running_no_single_partition_exchange(spark):
    h = (
        spark.range(0, 1000)
        .groupBy((F.col("id") % 10).alias("bucket"))
        .count()
    )
    out = h.withColumn(
        "cum", F.sum("count").over(bounded_running(F.col("bucket"), [F.col("bucket")]))
    )
    plan = plan_str(out, "simple")
    assert not GLOBAL_WINDOW_RE.search(plan)
    rows = {r.bucket: r.cum for r in out.collect()}
    assert rows[0] == 100 and rows[9] == 1000


def test_attestation_ordering_unattested_first():
    """The driver contract hands out the registry's ops, keys and order
    unchanged."""
    import __spark_entry__

    keys = list(__spark_entry__.queries())
    assert keys == list(registry.queries())
    assert list(__spark_entry__.oracle_sql()) == list(registry.oracle_sql())
    assert set(keys) == set(registry.QUERIES)
