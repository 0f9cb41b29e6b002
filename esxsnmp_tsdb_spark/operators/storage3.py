"""Storage layer, batch 3 (EXT): file-skipping via a min/max manifest —
the plain-parquet form of Delta/Iceberg data-skipping statistics.

The op writes the obs dataset range-clustered on time, harvests per-file
(min_tse, max_tse, n_rows) from the parquet FOOTERS (metadata only — no
data read), and answers a time-range query by consulting the manifest to
enumerate candidate files before Spark ever plans the scan.  The DuckDB
oracle aggregates the source directly; equality proves pruning loses no
rows, and the op asserts the prune actually skipped files.

Scale posture: the manifest is the Delta-log pattern — its size is
O(files), lives driver-side like a real table format's log, and turns a
full-dataset scan into |matching files| reads.  Range-clustering on tse
is what makes the min/max spans tight (`storage_zorder_scan` proves the
same property for the two-column case).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._shared import OBS_CTE, T_JAN10, T_JAN15_NOON
from esxsnmp_tsdb_spark.operators._workdirs import op_dir
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs

N_RANGE_FILES = 16  # range-clustered output files (≈ daily-file granularity)


@op(
    "storage_file_skipping_manifest",
    oracle=f"""
WITH {OBS_CTE}
SELECT tse // 86400 AS day, count(*) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM obs
WHERE tse >= {T_JAN10} AND tse < {T_JAN15_NOON}
GROUP BY tse // 86400
""",
)
def storage_file_skipping_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Manifest-pruned range scan: write obs range-clustered on tse
    ({N_RANGE_FILES} files), build a per-file min/max manifest from the
    parquet footers, and answer [Jan 10, Jan 15 noon) by reading ONLY the
    files whose [min_tse, max_tse] intersects the range — the
    data-skipping mechanism every lake table format (Delta stats,
    Iceberg manifests) builds in, reconstructed on plain parquet.

    The manifest harvest touches footers, not data (O(files) metadata,
    the size class of a Delta log); the pruned read hands Spark an
    explicit file list, so the scan cost is |matching files| regardless
    of dataset size.  The op asserts the prune skipped at least one file
    — a manifest that never skips is a bug, not a slow path."""
    out = op_dir("skip_manifest")
    data = os.path.join(out, "data")
    obs = flat_obs(spark, sf_dir)
    (
        obs.repartitionByRange(N_RANGE_FILES, "tse")
        .sortWithinPartitions("tse")
        .write.mode("overwrite")
        .parquet(data)
    )
    manifest = []
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        lo = min(
            md.row_group(i).column(1).statistics.min
            for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(1).statistics.max
            for i in range(md.num_row_groups)
        )
        manifest.append((f, int(lo), int(hi), md.num_rows))
    # sanity: column(1) must be tse (schema order: path, tse, value, ...)
    assert pq.read_schema(manifest[0][0]).names[1] == "tse"
    lo_q, hi_q = T_JAN10, T_JAN15_NOON
    picked = [
        f for f, lo, hi, _ in manifest if hi >= lo_q and lo < hi_q
    ]
    assert 0 < len(picked) < len(manifest), (
        f"manifest prune ineffective: {len(picked)}/{len(manifest)} files"
    )
    back = spark.read.parquet(*picked)
    return (
        back.filter((F.col("tse") >= lo_q) & (F.col("tse") < hi_q))
        .groupBy(F.expr("tse div 86400").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )


# Snapshot-GC fixture window: reuse storage2's snapshot constants so the
# two ops describe the same table lifecycle.
from esxsnmp_tsdb_spark.operators._shared import T_JAN20  # noqa: E402
from esxsnmp_tsdb_spark.operators.storage2 import (  # noqa: E402
    SNAP_CHANGED,
)


@op(
    "storage_snapshot_gc",
    oracle=f"""
WITH {OBS_CTE},
base AS (
  SELECT value, tse // 86400 AS day
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
)
SELECT day, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(CASE WHEN day = {SNAP_CHANGED}
                                THEN value * 2 ELSE value END * 100)
                     AS BIGINT)) AS BIGINT) AS cents
FROM base GROUP BY day
""",
)
def storage_snapshot_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry + garbage collection — the VACUUM half of the
    manifest time-travel lifecycle (`storage_snapshot_time_travel`
    proves create/read; this proves you can ever reclaim space): build
    snapshot 1, copy-on-write one day into snapshot 2, EXPIRE snapshot
    1, then delete every version directory no surviving manifest
    references.  The op asserts the GC removed exactly the superseded
    day-version (and nothing else), and the returned table is snapshot
    2 read back AFTER the GC — the oracle recomputing it from the
    fixture proves reclamation lost no live data.

    The deletion rule is manifest-driven (referenced-set difference),
    never age- or pattern-driven — the invariant that makes VACUUM safe
    in real table formats: a file is dead iff NO retained snapshot
    lists it, regardless of its name or mtime.

    Scale: GC is pure manifest arithmetic (set difference over file
    lists, KB-sized) plus deletes; no data file is ever read.  The
    build is one partitioned write + one day rewrite, as in the
    time-travel op."""
    import json
    import shutil

    obs = flat_obs(spark, sf_dir)
    base = obs.where(
        (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20)
    ).withColumn("day", F.expr("tse div 86400"))

    root = op_dir("snapshot_gc")
    v1_root = os.path.join(root, "data_v1")
    (
        base.withColumn("day_p", F.col("day"))
        .write.mode("overwrite")
        .partitionBy("day_p")
        .parquet(v1_root)
    )
    import glob as _glob

    manifest1 = {
        os.path.basename(p).split("=", 1)[1]: p
        for p in _glob.glob(os.path.join(v1_root, "day_p=*"))
    }
    manifest2 = dict(manifest1)
    p2 = os.path.join(root, "data", str(SNAP_CHANGED), "v2")
    (
        base.where(F.col("day") == SNAP_CHANGED)
        .withColumn("value", F.col("value") * 2)
        .write.mode("overwrite")
        .parquet(p2)
    )
    manifest2[str(SNAP_CHANGED)] = p2
    for name, m in (("s1", manifest1), ("s2", manifest2)):
        with open(os.path.join(root, f"manifest_{name}.json"), "w") as f:
            json.dump(m, f)

    # ---- expire s1, GC by referenced-set difference ----
    os.remove(os.path.join(root, "manifest_s1.json"))
    retained = set()
    for mf in _glob.glob(os.path.join(root, "manifest_*.json")):
        with open(mf) as f:
            retained |= set(json.load(f).values())
    all_dirs = set(_glob.glob(os.path.join(v1_root, "day_p=*"))) | {p2}
    dead = sorted(all_dirs - retained)
    expected_dead = os.path.join(v1_root, f"day_p={SNAP_CHANGED}")
    assert dead == [expected_dead], (dead, expected_dead)
    for d in dead:
        shutil.rmtree(d)
    assert not os.path.exists(expected_dead)

    with open(os.path.join(root, "manifest_s2.json")) as f:
        m2 = json.load(f)
    assert all(os.path.exists(p) for p in m2.values()), "GC ate live data"
    back = spark.read.parquet(*m2.values())
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


ERASED_USER = 7  # the data subject whose rows must disappear


@op(
    "storage_gdpr_erasure",
    oracle=f"""
WITH {OBS_CTE},
base AS (
  SELECT path, value, tse // 86400 AS day
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
    AND split_part(path, '/', 1) != '{ERASED_USER}'
)
SELECT day, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM base GROUP BY day
""",
)
def storage_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure against a day-partitioned store:
    delete every row of one data subject by rewriting ONLY the
    partitions that contain them (anti-filter + dynamic partition
    overwrite), then prove the two things an auditor asks for — the
    subject is GONE from a full-store scan, and nobody else's data
    moved (the oracle recomputes the expected store from the fixture
    minus the subject).

    Plain parquet has no row-level delete, so the rewrite unit is the
    partition: erasure cost is Σ(touched partitions), which for a
    subject active every day is the whole store — the honest worst
    case, and exactly why deletion-vector formats (Delta/Iceberg v2)
    exist: they append tombstones and defer the rewrite to compaction.
    The partition-scoped overwrite here is the pattern either way; the
    formats just shrink the rewrite grain.

    Scale: touched-day discovery is a distinct-aggregate over the
    subject's rows (tiny); each rewrite is one partition's scan minus
    one user; the proof scan aggregates the store once."""
    obs = flat_obs(spark, sf_dir)
    base = obs.where(
        (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20)
    ).withColumn("day", F.expr("tse div 86400"))

    root = op_dir("gdpr_store")
    store = os.path.join(root, "data")
    (
        base.withColumn("day_p", F.col("day"))
        .write.mode("overwrite")
        .partitionBy("day_p")
        .parquet(store)
    )
    subject = F.element_at(F.split("path", "/"), 1) == str(ERASED_USER)
    stored = spark.read.parquet(store)
    touched = [
        r.day_p
        for r in stored.filter(subject).select("day_p").distinct().collect()
    ]
    assert touched, "fixture subject wrote no rows — erasure untestable"
    (
        stored.filter(F.col("day_p").isin(touched))
        .filter(~subject)
        # materialize before overwriting the partitions we just read
        # (the stream_cdc_apply self-read-overwrite discipline)
        .localCheckpoint(eager=True)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day_p")
        .parquet(store)
    )
    back = spark.read.parquet(store)
    n_left = back.filter(subject).count()
    assert n_left == 0, f"erasure left {n_left} subject rows behind"
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
