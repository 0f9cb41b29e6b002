"""Storage layout + maintenance for the 100 TB observation store
(SURVEY.md §4 '100 TB design notes'):

- :func:`write_obs` — the production layout: day-partitioned, sorted
  within partitions by (path, tse) so parquet row-group min/max stats give
  the reference's O(1) slot addressing its columnar analog (row-group
  skipping inside a day).
- :func:`write_obs_bucketed` — same plus hash-bucketing by ``path``: every
  per-series window op and (path, slot) group-by co-locates, removing the
  per-query shuffle entirely (bucketed tables require the catalog/
  ``saveAsTable`` path).
- :func:`compact` — small-file compaction: streaming/micro-batch appends
  leave one file per task per trigger; compaction rewrites each day
  partition to ~target-sized files.  The reference never needed this (one
  pre-allocated chunk file per day); append-mode parquet does.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 128 * 1024 * 1024


def with_day(obs: DataFrame) -> DataFrame:
    return obs.withColumn("day", F.to_date(F.timestamp_seconds(F.col("tse"))))


def write_obs(obs: DataFrame, path: str, mode: str = "append") -> None:
    """Day-partitioned, (path, tse)-sorted parquet — the chunk-file layout
    columnar-ized.  Range scans prune partitions (chunk mapping) and skip
    row groups (slot addressing)."""
    (
        with_day(obs)
        .repartition("day")
        .sortWithinPartitions("path", "tse")
        .write.mode(mode)
        .partitionBy("day")
        .parquet(path)
    )


def write_obs_bucketed(
    obs: DataFrame, table: str, n_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Bucketed-by-path variant: co-locates every downstream per-series
    window and (path, slot) aggregation — the 'shuffle once at write time,
    never at query time' posture for the hot 100 TB path."""
    (
        with_day(obs)
        .repartition(n_buckets, "path")
        .sortWithinPartitions("path", "tse")
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, "path")
        .sortBy("path", "tse")
        .saveAsTable(table)
    )


def partition_file_counts(spark: SparkSession, path: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for day_dir in sorted(os.listdir(path)):
        full = os.path.join(path, day_dir)
        if os.path.isdir(full) and day_dir.startswith("day="):
            out[day_dir] = sum(
                1 for f in os.listdir(full) if f.endswith(".parquet")
            )
    return out


def recover_swap(path: str) -> None:
    """Recover ``path`` from an interrupted :func:`compact_flat`, in
    crash-order: roll back a swap that died between its two renames
    (``._old`` restored to ``path``), then drop stale ``._compact`` /
    ``._old`` leftovers.  MUST be called holding the store's write lock —
    an unlocked heal cannot tell a crashed compaction from one that is
    mid-swap right now, and would rename the live compactor's backup out
    from under it."""
    import shutil

    tmp = path.rstrip(os.sep) + "._compact"
    old = path.rstrip(os.sep) + "._old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)  # died between the two renames — roll back
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # died before the swap — incomplete rewrite
    if os.path.isdir(old):
        shutil.rmtree(old)  # died before cleanup — swap already complete


def compact_flat(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_cols: tuple[str, ...] = ("tse",),
    schema: str | None = None,
) -> None:
    """Compaction for an UNPARTITIONED append directory (the TSDB façade's
    per-var store: one file per insert batch forever, api.py).  Rewrites
    the directory into ~target-sized sorted files via a sibling temp dir
    plus a rename swap, so a crash mid-compaction leaves either the old
    or the new directory recoverable — never a half-written mix.  Every
    column (including ``ingest_seq``) rides along, so last-write-wins
    replay picks identical winners before and after.

    The rewrite coalesces the input splits into at most ``n_files``
    writing tasks, so it is one job with no shuffle; a store under ~1.5
    target files (every façade var in practice) is written by one task.

    Crash recovery runs on entry via :func:`recover_swap`; callers that
    read or append the directory must call it (under the same store
    lock) before touching a path whose compaction may have died, or a
    parquet append can silently recreate the directory and orphan the
    ``._old`` history."""
    import shutil

    tmp = path.rstrip(os.sep) + "._compact"
    old = path.rstrip(os.sep) + "._old"
    recover_swap(path)

    part_files = [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]
    if not part_files:
        # Nothing committed to fold.  Rewriting would materialize a
        # committed 0-row part file, flipping readers' "unbuilt" (no
        # part-files) signal to "built but empty" — e.g. timerange
        # would route to a silently-empty aggregate level.
        return
    total_bytes = sum(os.path.getsize(f) for f in part_files)
    n_files = max(1, round(total_bytes / target_file_bytes))
    reader = spark.read.schema(schema) if schema else spark.read
    (
        reader.parquet(path)
        .coalesce(n_files)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_cols: tuple[str, ...] = ("path", "tse"),
) -> None:
    """Rewrite each day partition into ~target-sized files.

    Local/simple implementation: read, re-sort, overwrite with dynamic
    partition overwrite (a per-write option, so the session's mode is
    left as it was) so untouched days are untouched.  On a cluster the
    same job runs per-day with ``replaceWhere``-style predicates so
    compaction and ingest never conflict (the reference's single-writer-
    per-var rule, kept per-partition).
    """
    df = spark.read.parquet(path)
    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_days = max(1, len(partition_file_counts(spark, path)))
    files_per_day = max(1, round(total_bytes / n_days / target_file_bytes))
    (
        df.repartition(files_per_day, "day")
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
