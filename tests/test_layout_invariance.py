"""Layout-invariance pin for a representative float-emitting cross-section.

docs/DETERMINISM_r10.json records the registry-wide audit: all 304 ops
produce byte-identical canonical value hashes under two deliberately
different physical layouts (scripts/determinism_audit.py — engine
defaults vs narrow-reduce/small-split/no-AQE-coalesce).  That artifact is
a point-in-time sweep; this test keeps the property ENFORCED for a
rotating cross-section of the ops most exposed to the hazard class
(double-valued aggregates: rates, z-scores, percentiles, log-ratios,
vector folds) so a future edit that reintroduces engine-order float
summation fails CI, not a driver attestation round.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest

from esxsnmp_tsdb_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()

# One op per exposed family: counter→rate doubles, mean/std anomaly
# scores, percentile billing, tf-idf log-ratios, BM25 scores, cosine
# folds over float vectors (both the top-k ranking and the thresholded
# near-dup pair shapes), token-stat ratios, and a classic multi-agg
# scan (sum/avg at TPC-H Q1 shape).
REPRESENTATIVES = [
    "ts_rate",
    "ts_anomaly_zscore",
    "ts_billing_p95",
    "tfidf_topterms",
    "bm25_topdocs",
    "sim_search_topk",
    "dedup_embedding_cosine",
    "text_tokenize_stats",
    "tpch_q1",
]

LAYOUT_B = {
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.files.maxPartitionBytes": "256k",
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@contextmanager
def _layout(spark, overrides: dict[str, str]):
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _canonical(df) -> list[str]:
    """Exact canonical row strings — floats via hex, no tolerance (the
    driver's value hash is exact, so the test bar must be too)."""

    def cell(v):
        if v is None:
            return "\x01null"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else v.hex()
        if isinstance(v, list):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)

    cols = sorted(df.columns)
    rows = ["\x00".join(cell(r[c]) for c in cols) for r in df.collect()]
    return sorted(rows)


@pytest.mark.parametrize("key", REPRESENTATIVES)
def test_layout_invariant(spark, key):
    fn = registry.QUERIES[key]
    base = _canonical(fn(spark, SF_SMOKE))
    with _layout(spark, LAYOUT_B):
        alt = _canonical(fn(spark, SF_SMOKE))
        # the op's own loads left layout B in effect
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert base == alt, f"{key}: values depend on partition layout"
    assert base, f"{key}: empty result at {SF_SMOKE}"
