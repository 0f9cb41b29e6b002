"""stream_watermark_late_check: the staged-lateness hash-checked twin of
`stream_watermark_late`, so the streaming family is value-checked, not
rows-only.

Two properties the oracle compare can't state directly:

* knife-edge freedom (no value may sit on a decision boundary): the
  emission boundary ``window.end <= max(ts) - delay`` must never tie — window ends are
  whole-hour integers, so it suffices that max(ts) carries a nonzero
  sub-hour remainder at every fixture SF;
* the drop really happened: no emitted slot may precede the lateness cut
  (a pre-cut slot means a late row entered state), and the open tail must
  be withheld (no slot whose window end exceeds the watermark).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators.streaming_ops2 import (
    WM_DELAY_SEC,
    WM_SPLIT_TSE,
    WM_TAIL_TSE,
    stream_watermark_late_check,
)

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.mark.parametrize(
    "sf_dir", sorted(glob.glob("/root/testdata/sf0.*"))
)
def test_no_knife_edge_at_any_sf(sf_dir):
    """(max(ts) - delay) must not land exactly on an hour boundary, at any
    fixture scale — otherwise `end <= watermark` sits on a float tie."""
    p = os.path.join(sf_dir, "events.parquet")
    (mx,) = duckdb.sql(f"SELECT max(epoch(ts)) FROM '{p}'").fetchone()
    rem = (mx - WM_DELAY_SEC) % 3600.0
    assert min(rem, 3600.0 - rem) > 1.0, (
        f"{sf_dir}: emission boundary within 1s of an hour boundary "
        f"(remainder {rem}) — knife edge"
    )
    # the staging cuts must also be interior to the fixture range
    (lo, hi) = duckdb.sql(
        f"SELECT min(epoch(ts)), max(epoch(ts)) FROM '{p}'"
    ).fetchone()
    assert lo < WM_SPLIT_TSE < WM_TAIL_TSE < hi


def test_late_rows_dropped_and_tail_withheld(spark):
    out = stream_watermark_late_check(spark, SF_SMALL).cache()
    try:
        assert out.filter(F.col("slot") < WM_SPLIT_TSE).count() == 0, (
            "a pre-cut window was emitted: late rows entered state"
        )
        p = os.path.join(SF_SMALL, "events.parquet")
        (mx,) = duckdb.sql(f"SELECT max(epoch(ts)) FROM '{p}'").fetchone()
        wm = mx - WM_DELAY_SEC
        assert out.filter(F.col("slot") + 3600 > wm).count() == 0, (
            "an open tail window was emitted before the watermark passed it"
        )
        # and the emitted set is non-trivial (real values, not 0 rows)
        assert out.count() > 0
    finally:
        out.unpersist()
