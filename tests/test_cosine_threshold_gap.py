"""dedup_embedding_cosine threshold knife-edge guard: no fixture pair may
sit close enough to the cutoff for float summation order to flip it.

The 0.35 cutoff was anchored at the p99.9 of the fixture within-label
cosine distribution, so a pair COULD in principle sit close enough to the
threshold that Spark's `aggregate` fold and DuckDB's `list_sum` disagree
on which side it lands (fold-order drift is ~1e-15 relative; membership
flips, not last digits, are what break the value hash).  This pins the
actual fixture geometry: every within-label pair's cosine stays at least
EPS away from the threshold at every fixture SF — 50× the measured
worst case (5.4e-5 at sf0.1), 10 orders above fold drift.

DuckDB-only on purpose: the guard is about the FIXTURE's distance to the
cutoff, not about either engine's arithmetic (the oracle compare already
covers that)."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

COS_THRESHOLD = 0.35
EPS = 1e-6


def test_threshold_constant_matches_op():
    """If the op's cutoff moves, this file's guard must move with it."""
    import inspect

    from esxsnmp_tsdb_spark import registry
    from esxsnmp_tsdb_spark.operators import dedup

    src = inspect.getsource(dedup.dedup_embedding_cosine)
    assert f">= {COS_THRESHOLD}" in src
    registry.load_all()
    sql = registry.oracle_sql()["dedup_embedding_cosine"]
    assert f"dot / (na * nb) >= {COS_THRESHOLD}" in sql


@pytest.mark.parametrize("sf_dir", sorted(glob.glob("/root/testdata/sf0.*")))
def test_no_pair_within_eps_of_threshold(sf_dir):
    p = os.path.join(sf_dir, "embeddings.parquet")
    (gap,) = duckdb.sql(
        f"""
WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS d FROM '{p}'),
pairs AS (
  SELECT list_sum(list_transform(range(1, a.d + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
         (sqrt(list_sum(list_transform(range(1, a.d + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
          sqrt(list_sum(list_transform(range(1, b.d + 1),
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS c
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT min(abs(c - {COS_THRESHOLD})) FROM pairs
"""
    ).fetchone()
    assert gap > EPS, (
        f"{sf_dir}: a within-label pair's cosine sits {gap} from the "
        f"{COS_THRESHOLD} cutoff — cross-engine membership knife edge; "
        "move the threshold into a sparser region"
    )
