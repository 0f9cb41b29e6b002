"""Pin the r14 single-pass threshold-sweep aggregate (`_sweep_counts`)
against the shape it replaced (crossJoin(taus) + per-tau countDistinct).

The rewrite claims value identity: n_pairs(τ) as a
per-va conditional count summed globally, n_left_docs(τ) as a count over
per-va maxima.  These tests prove it on a constructed pair stream with
the edge cases the fixture cannot exercise — zero input pairs (the
oracle's cross join emits NO rows), NULL cosines (zero-norm vectors),
and a va whose every pair misses every threshold (still absent from
n_left_docs at each τ, still present in the per-τ row set)."""

from __future__ import annotations

from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.curation4 import COS_TAUS, _sweep_counts
from esxsnmp_tsdb_spark.session import local_frame


def _old_shape(spark, pairs):
    taus = local_frame(spark, [(t,) for t in COS_TAUS], "tau double")
    hit = F.col("cos_r") >= F.col("tau")
    return (
        pairs.crossJoin(F.broadcast(taus))
        .groupBy("tau")
        .agg(
            F.count(F.when(hit, 1)).alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("va"))).alias("n_left_docs"),
        )
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_matches_old_shape_on_mixed_stream(spark):
    pairs = local_frame(
        spark,
        [
            (1, 0.40),   # above every tau
            (1, 0.10),   # below every tau
            (2, 0.22),   # between taus
            (2, 0.22),   # duplicate cosine, same va
            (3, 0.05),   # va with no hit at any tau
            (4, None),   # NULL cosine (zero-norm vector)
            (5, 0.15),   # exactly ON a tau boundary (>= is inclusive)
        ],
        "va bigint, cos_r double",
    )
    assert _sorted_rows(_sweep_counts(pairs)) == _sorted_rows(
        _old_shape(spark, pairs)
    )


def test_empty_pairs_yield_zero_rows(spark):
    pairs = local_frame(spark, [], "va bigint, cos_r double")
    assert _sweep_counts(pairs).count() == 0
    assert _old_shape(spark, pairs).count() == 0


def test_schema_matches_old_shape(spark):
    pairs = local_frame(spark, [(1, 0.3)], "va bigint, cos_r double")
    new = _sweep_counts(pairs)
    old = _old_shape(spark, pairs)
    assert dict(new.dtypes) == dict(old.dtypes)
    assert new.count() == len(COS_TAUS)
