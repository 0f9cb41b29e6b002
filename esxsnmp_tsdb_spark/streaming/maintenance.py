"""Incremental aggregate-ladder maintenance (SURVEY.md §3.2): the
reference updates its Aggregate vars AT INGEST TIME (``TSDBVar.
update_all_aggregates`` † per insert batch); here the same contract is a
``foreachBatch`` upsert of mergeable partials.

Each level stores PARTIALS (sv=Σvalue, n, mn, mx per (path, slot, day)) —
partials are algebraic, so merging a micro-batch is: aggregate the batch,
union with the stored partials for the touched days, re-combine, and
dynamic-partition-overwrite only those days.  Historical raws are never
re-read — the property that makes ladder maintenance viable at 100 TB.
(With Delta on the classpath the union+overwrite becomes MERGE INTO; the
partial-aggregate math is identical.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.tsdb import slot_of

PARTIAL_COLS = ("path", "slot", "day", "sv", "n", "mn", "mx")


def batch_partials(obs: DataFrame, step: int) -> DataFrame:
    return (
        obs.withColumn("slot", slot_of(F.col("tse"), step))
        .withColumn("day", F.to_date(F.timestamp_seconds(F.col("slot"))))
        .groupBy("path", "slot", "day")
        .agg(
            F.sum("value").alias("sv"),
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )


def merge_partials(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Combine two partial sets (algebraic merge — order-free)."""
    return (
        existing.select(*PARTIAL_COLS)
        .unionAll(incoming.select(*PARTIAL_COLS))
        .groupBy("path", "slot", "day")
        .agg(
            F.sum("sv").alias("sv"),
            F.sum("n").alias("n"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )


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
    inc = batch_partials(batch_obs, step)
    if retention_cutoff is not None:
        inc = inc.filter(F.col("day") >= F.lit(retention_cutoff).cast("date"))
    if os.path.exists(level_path):
        days = [r.day for r in inc.select("day").distinct().collect()]
        existing = spark.read.parquet(level_path).filter(F.col("day").isin(days))
        merged = merge_partials(existing, inc)
    else:
        merged = inc
    (
        merged.repartition("day")
        .write.mode("overwrite" if os.path.exists(level_path) else "append")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(level_path)
    )


def maintain_levels(
    obs_stream: DataFrame,
    out_root: str,
    levels: tuple[int, ...] = (300, 3600),
    retention_cutoff: str | None = None,
) -> "object":
    """Attach ladder maintenance to an obs stream; returns the started
    query (caller drives it, e.g. ``processAllAvailable``).
    ``retention_cutoff`` is forwarded to :func:`upsert_level` so the loop
    cannot resurrect expired day partitions from late arrivals."""
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

    from esxsnmp_tsdb_spark.operators._workdirs import scratch_dir

    return (
        obs_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", scratch_dir("ladder_ckpt_"))
        .start()
    )


def read_level(spark: SparkSession, out_root: str, step: int) -> DataFrame:
    """Stored partials → consolidated view (average/min/max/n per slot)."""
    p = spark.read.parquet(f"{out_root}/level={step}")
    return p.select(
        "path",
        "slot",
        (F.col("sv") / F.col("n")).alias("average"),
        F.col("mn").alias("vmin"),
        F.col("mx").alias("vmax"),
        "n",
    )
