"""Tolerance twins: the approx estimators hash-checked as claims against
their exact counterparts, so only genuinely unoracleable ops stay
rows-only."""

from __future__ import annotations

from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.relational import distinct_agg
from esxsnmp_tsdb_spark.operators.relational import percentiles
from esxsnmp_tsdb_spark.operators.sketches import (
    approx_distinct_check,
    approx_percentiles_check,
)
from tests.conftest import SF_SMOKE


def test_approx_distinct_check_matches_exact_twin(spark):
    """Every group's sketch lands in tolerance, and the exact side is
    byte-identical to `distinct_agg`'s count_distinct."""
    out = approx_distinct_check(spark, SF_SMOKE).cache()
    assert out.filter(~F.col("est_ok")).count() == 0
    exact = {
        r.event_type: r.n_users
        for r in distinct_agg(spark, SF_SMOKE).collect()
    }
    for r in out.collect():
        assert r.n_exact == exact[r.event_type]


def test_approx_percentiles_check_brackets_hold(spark):
    """Both rank-error brackets hold per group, the exact columns match
    the `percentiles` op, and p50 ≤ p95."""
    out = approx_percentiles_check(spark, SF_SMOKE).cache()
    assert out.filter(~F.col("p50_ok") | ~F.col("p95_ok")).count() == 0
    exact = {
        r.o_orderpriority: (r.p50, r.p95, r.n)
        for r in percentiles(spark, SF_SMOKE).collect()
    }
    for r in out.collect():
        assert (r.p50, r.p95, r.n) == exact[r.o_orderpriority]
        assert r.p50 <= r.p95
