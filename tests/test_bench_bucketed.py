"""bench.py's bucketed_vs_flat block times each BUCKETED_KEYS op as its
registered query with `sources.load_obs` routed onto the bucketed obs
layout (`storage2.bucketed_obs_table`).  Those numbers are trustworthy
only if (1) the routed op computes EXACTLY its flat registered op — same
values, not just same shape — and (2) the bucketed layout actually
removes every exchange.  Both are pinned here at sf0.001 so a routing or
layout regression fails CI instead of silently mis-labelling the bench
numbers."""

import pytest

from bench import BUCKETED_KEYS
from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.plans import plan_str
from esxsnmp_tsdb_spark.session import get_session
from esxsnmp_tsdb_spark.sources import ROUTE_BUCKETED_CONF

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from esxsnmp_tsdb_spark.operators.storage2 import bucketed_obs_table

    registry.load_all()
    spark = get_session()
    bucketed_obs_table(spark, SF)
    yield spark
    spark.conf.set(ROUTE_BUCKETED_CONF, "false")


def bucketed_variant(spark, key):
    """The frame bench.py times as `bucketed_s`: the registered op with
    routing on.  Its plan must read bkt_obs, or the bench would record a
    flat time under the bucketed label."""
    spark.conf.set(ROUTE_BUCKETED_CONF, "true")
    try:
        df = registry.QUERIES[key](spark, SF)
    finally:
        spark.conf.set(ROUTE_BUCKETED_CONF, "false")
    assert "bkt_obs" in plan_str(df, "simple"), key
    return df


@pytest.mark.parametrize("key", sorted(BUCKETED_KEYS))
def test_variant_matches_registered_op(spark, key):
    import numpy as np
    from pandas.api.types import is_float_dtype

    flat = registry.QUERIES[key](spark, SF).toPandas()
    bkt = bucketed_variant(spark, key).toPandas()
    cols = sorted(flat.columns)
    assert cols == sorted(bkt.columns)
    # sort on ALL columns (keys first): where key columns repeat
    # (ts_bin_split has several deltas per (path, bucket)) the float
    # sort aligns near-equal rows.  Floats sort on a 5-decimal ROUNDED
    # key, coarser than the 2e-6 comparison atol: raw-float sorting
    # could swap two rows that near-tie on an EARLIER float column but
    # differ on a later one — the swap is tolerance-bounded only on the
    # column sorted on, so the later column would fail spuriously.
    # Rounding collapses near-ties to equal sort keys in both frames;
    # rows still distinct after rounding differ by more than the atol
    # and sort identically.
    keys = [c for c in cols if not is_float_dtype(flat[c])]
    floats = [c for c in cols if c not in keys]

    def sortable(df):
        out = df.reindex(cols, axis=1).copy()
        for c in floats:
            out[f"__sk_{c}"] = out[c].round(5)
        return (
            out.sort_values(keys + [f"__sk_{c}" for c in floats])
            .drop(columns=[f"__sk_{c}" for c in floats])
            .reset_index(drop=True)
        )

    a = sortable(flat)
    b = sortable(bkt)
    assert len(a) == len(b), key
    for c in cols:
        if is_float_dtype(flat[c]):
            assert np.allclose(
                a[c].to_numpy(dtype=float),
                b[c].to_numpy(dtype=float),
                rtol=0,
                atol=2e-6,
                equal_nan=True,
            ), f"{key}.{c}: bucketed variant drifted beyond rounding"
        else:
            assert a[c].astype(str).equals(b[c].astype(str)), (
                f"{key}.{c}: bucketed variant drifted from the registered op"
            )


@pytest.mark.parametrize("key", sorted(BUCKETED_KEYS))
def test_variant_plans_zero_exchanges(spark, key):
    if key == "ts_bin_split":
        # The registered op keeps the exchange of its explicit fan_out
        # repartition (bench.py records bucketed_exchanges 1); the same
        # allocation over the bucketed layout without that fan-out is
        # storage2.ts_bin_split_bucketed.
        from esxsnmp_tsdb_spark.operators.storage2 import ts_bin_split_bucketed

        df = ts_bin_split_bucketed(spark, SF)
    else:
        df = bucketed_variant(spark, key)
    plan = plan_str(df, "simple")
    assert "bkt_obs" in plan, plan
    assert plan.count("Exchange") == 0, plan
