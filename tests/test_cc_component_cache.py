"""Pin the CC family's per-session label memo.

`dedup_connected_components` and `dedup_cluster_size_stats` share one
converged (doc_id, component) frame per (session, corpus stamp), held in
`sources.catalog.session_memo` under ``("cc_components", abspath(sf_dir))``:
the CC op always computes and overwrites the entry; the impact report
serves it when the `documents` stamp still matches.  These tests pin the
three contracts the reuse must never buy away:

1. value parity with a fresh-computed run, in BOTH op orders;
2. a stale stamp is refused (recompute + re-stamp);
3. the CC op NEVER reads the memo — a bogus frame under a valid stamp
   must not leak into its output (its repeats time the real operator).
"""

from __future__ import annotations

import os
import shutil

import pytest

from esxsnmp_tsdb_spark.operators import dedup as D
from esxsnmp_tsdb_spark.sources import catalog
from esxsnmp_tsdb_spark.session import local_frame
from tests.conftest import SF_ORACLE as SF


def _key(sf: str) -> tuple:
    return ("cc_components", os.path.abspath(sf))


def _entry(spark, sf: str):
    """The memo's ``(stamp, frame)`` for ``sf``, or None."""
    return catalog._MEMO.get(spark, {}).get(_key(sf))


def _forget(spark, sf: str) -> None:
    catalog._MEMO.get(spark, {}).pop(_key(sf), None)


def _plant(spark, sf: str, stamp) -> None:
    bogus = local_frame(
        spark, [(999999, 999999)], "doc_id bigint, component bigint"
    )
    # Written into the memo directly, not through session_memo, so the
    # plant does not depend on the code under test.
    catalog._MEMO[spark][_key(sf)] = (stamp, bogus)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def corpus(tmp_path):
    """A private copy of the fixture, so stamps can be bumped freely."""
    dst = str(tmp_path / "sf")
    shutil.copytree(SF, dst)
    return dst


def test_parity_both_orders(spark):
    _forget(spark, SF)
    cc_first = _rows(D.dedup_connected_components(spark, SF))
    stats_warm = _rows(D.dedup_cluster_size_stats(spark, SF))
    _forget(spark, SF)
    stats_cold = _rows(D.dedup_cluster_size_stats(spark, SF))
    assert _entry(spark, SF) is not None, "cold report must memoize labels"
    cc_second = _rows(D.dedup_connected_components(spark, SF))
    assert stats_warm == stats_cold, "warm report diverges from cold"
    assert cc_first == cc_second, "CC output depends on memo state"


def test_stale_stamp_refused(spark, corpus):
    want = _rows(D.dedup_cluster_size_stats(spark, corpus))
    stamp = catalog._table_stamp(corpus, "documents")
    assert _entry(spark, corpus)[0] == stamp
    _plant(spark, corpus, stamp)
    # Sensitivity: under its valid stamp the bogus frame IS served ...
    assert _rows(D.dedup_cluster_size_stats(spark, corpus)) == [(1, 1, 1, 0)]
    # ... and a bumped documents.parquet mtime refuses it.
    path = os.path.join(corpus, "documents.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _rows(D.dedup_cluster_size_stats(spark, corpus)) == want
    new_stamp = catalog._table_stamp(corpus, "documents")
    assert new_stamp != stamp
    assert _entry(spark, corpus)[0] == new_stamp, "recompute must re-stamp"


def test_cc_op_never_reads_cache(spark, corpus):
    """Plant a bogus frame under a VALID stamp: the CC op must return
    correct labels (it always recomputes) and must overwrite the bogus
    entry, which the report then serves."""
    good = _rows(D.dedup_connected_components(spark, corpus))
    _plant(spark, corpus, catalog._table_stamp(corpus, "documents"))
    again = _rows(D.dedup_connected_components(spark, corpus))
    assert again == good, "CC op served the memoized frame"
    served = _rows(D.dedup_cluster_size_stats(spark, corpus))
    _forget(spark, corpus)
    assert served == _rows(D.dedup_cluster_size_stats(spark, corpus)), (
        "CC op did not overwrite the bogus entry"
    )
