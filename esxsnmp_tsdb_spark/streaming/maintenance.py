"""Incremental aggregate-ladder maintenance (SURVEY.md §3.2): the
reference updates its Aggregate vars AT INGEST TIME (``TSDBVar.
update_all_aggregates`` † per insert batch); here the same contract is a
``foreachBatch`` upsert of mergeable partials.

A level is stored as ``sources/ladder_sql.stored_level``: the one
consolidation partial of ``functions/tsdb.py`` (Σvalue, non-NULL count,
min, max, latest ``(tse, event_id, value)``) per (path, slot), partitioned
by day — the format ``materialize_ladder`` builds and
``ts_ladder_backfill`` repairs.  Merging a micro-batch is: the batch's
partials, unioned with the stored partials of the days it touches,
merged at the same step (``merge_partial``), and written back with
dynamic partition overwrite of only those days.  Historical raws are
never re-read — the property that makes ladder maintenance viable at
100 TB.  (With Delta on the classpath the union+overwrite becomes MERGE
INTO; the partial-aggregate math is identical.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.tsdb import (
    consolidation_partial,
    finish_partial,
    merge_partial,
)
from esxsnmp_tsdb_spark.operators._workdirs import scratch_dir
from esxsnmp_tsdb_spark.sources.ladder_sql import stored_level, write_days
from esxsnmp_tsdb_spark.streaming.runner import drive


def upsert_level(
    spark: SparkSession,
    level_path: str,
    batch_obs: DataFrame,
    step: int,
    retention_cutoff: str | None = None,
) -> None:
    """Merge one micro-batch into a stored level, touching only the day
    partitions the batch covers.

    ``retention_cutoff`` (ISO day, inclusive lower bound) makes the
    maintenance loop retention-aware: late arrivals for already-EXPIRED
    days are dropped instead of resurrecting a partition the expiry just
    deleted — the classic TSDB operational race (expiry vs late
    backfill), resolved by policy at the merge point.  Without it a
    single stale sample would recreate ``day=<expired>`` with partials
    for only that sample, silently wrong forever after
    (tests/test_maintenance.py stages exactly this)."""
    inc = stored_level(consolidation_partial(batch_obs, step))
    if retention_cutoff is not None:
        inc = inc.filter(F.col("day") >= F.lit(retention_cutoff).cast("date"))
    if os.path.exists(level_path):
        days = [r.day for r in inc.select("day").distinct().collect()]
        existing = spark.read.parquet(level_path).filter(F.col("day").isin(days))
        inc = merge_partial(existing.unionByName(inc), step, by=("day",))
    write_days(inc, level_path)


def maintain_levels(
    obs_stream: DataFrame,
    out_root: str,
    levels: tuple[int, ...] = (300, 3600),
    retention_cutoff: str | None = None,
) -> None:
    """Run ladder maintenance over an obs stream to completion: every
    micro-batch is upserted into ``<out_root>/level=<step>`` for each
    level.  ``retention_cutoff`` is forwarded to :func:`upsert_level` so
    the loop cannot resurrect expired day partitions from late
    arrivals."""
    spark = obs_stream.sparkSession

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for step in levels:
                upsert_level(
                    spark,
                    f"{out_root}/level={step}",
                    batch_df,
                    step,
                    retention_cutoff=retention_cutoff,
                )
        finally:
            batch_df.unpersist()

    drive(obs_stream, on_batch, scratch_dir("ladder_ckpt_"))


def read_level(spark: SparkSession, out_root: str, step: int) -> DataFrame:
    """A stored level, finished: (path, slot, average, total, vmin,
    vmax, last, n)."""
    return finish_partial(spark.read.parquet(f"{out_root}/level={step}"))
