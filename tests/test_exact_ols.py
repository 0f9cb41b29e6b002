"""`ts_linear_trend` and `term_zipf_slope` fit with exact integer power
sums instead of regr_* over doubles, so a fit must not depend on
partition layout (engine-order double summation is one partition-order
change away from a last-digit flip of an exact value hash).  These tests
pin that layout invariance and sanity-check the fits against an
independent float OLS."""

from __future__ import annotations

import math

from esxsnmp_tsdb_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()
QUERIES = registry.QUERIES


def _rows(df, key_cols):
    return {
        tuple(r[k] for k in key_cols): r.asDict() for r in df.collect()
    }


def _with_shuffle_partitions(spark, n, fn):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        out = fn()
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_linear_trend_partition_invariant(spark):
    """Identical output at 1 vs 32 shuffle partitions — the exact
    integer sums are order-free, so the fit cannot depend on how rows
    were distributed (the failure class regr_* had)."""
    a = _with_shuffle_partitions(
        spark, 1, lambda: _rows(QUERIES["ts_linear_trend"](spark, SF_SMOKE), ["path"])
    )
    b = _with_shuffle_partitions(
        spark, 32, lambda: _rows(QUERIES["ts_linear_trend"](spark, SF_SMOKE), ["path"])
    )
    assert a == b


def test_zipf_slope_partition_invariant(spark):
    a = _with_shuffle_partitions(
        spark, 1, lambda: _rows(QUERIES["term_zipf_slope"](spark, SF_SMOKE), ["lang"])
    )
    b = _with_shuffle_partitions(
        spark, 32, lambda: _rows(QUERIES["term_zipf_slope"](spark, SF_SMOKE), ["lang"])
    )
    assert a == b


def test_linear_trend_matches_float_ols(spark):
    """The integer-grid fit agrees with a plain float OLS recomputed
    from the raw obs rows to well within one output-grid step (the
    quantization moved values, never the fit)."""
    from esxsnmp_tsdb_spark.functions import tsdb
    from esxsnmp_tsdb_spark.operators._shared import T_JAN01
    from esxsnmp_tsdb_spark.sources import register_views

    got = _rows(QUERIES["ts_linear_trend"](spark, SF_SMOKE), ["path"])
    obs = tsdb.obs_from_events(register_views(spark, SF_SMOKE)["events"])
    pts: dict[str, list[tuple[float, float]]] = {}
    for r in obs.select("path", "tse", "value").collect():
        pts.setdefault(r.path, []).append((float(r.tse - T_JAN01), float(r.value)))
    checked = 0
    for path, xy in pts.items():
        row = got[(path,)]
        n = len(xy)
        assert row["n"] == n
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxx = sum(x * x for x, _ in xy)
        sxy = sum(x * y for x, y in xy)
        syy = sum(y * y for _, y in xy)
        den = n * sxx - sx * sx
        if den <= 0:
            assert row["slope"] is None and row["r2"] is None
            continue
        slope = (n * sxy - sx * sy) / den
        intercept = (sy * sxx - sx * sxy) / den
        assert math.isclose(row["slope"], slope, abs_tol=1.1e-6)
        assert math.isclose(row["intercept"], intercept, abs_tol=1.1e-4)
        deny = n * syy - sy * sy
        if deny > 0:
            r2 = (n * sxy - sx * sy) ** 2 / (den * deny)
            assert math.isclose(row["r2"], r2, abs_tol=1.1e-4)
        checked += 1
    assert checked > 0


def test_zipf_slope_negative_and_r2_bounded(spark):
    """Zipf slopes on ranked term frequencies are non-positive by
    construction (frequency is non-increasing in rank) and r² is a
    proper fraction on the 1e-4 grid."""
    rows = QUERIES["term_zipf_slope"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.zipf_slope is not None:
            assert r.zipf_slope <= 0
        if r.r2 is not None:
            assert 0 <= r.r2 <= 1.0 + 1e-9
        assert 1 <= r.n_terms
