"""Storage-layer ops (§2.3/§3 surface, driver-checked): interchange-format
round-trips and the day-partitioned chunk layout, proven through the same
DuckDB-oracle gate as the query ops.

Each op WRITES a real dataset (temp dir), reads it back through the
schema-pinned reader, and aggregates — equality with the oracle (which
aggregates the source directly) proves the round-trip is lossless,
including double precision through text formats (Spark emits shortest
round-trip decimal strings for CSV/JSON).

Scale posture: writes go through the same ``repartition(day)`` /
``sortWithinPartitions(path, tse)`` layout the production path uses;
the read-back carries a day predicate that prunes partitions (asserted
plan-level in tests/test_formats.py — here the oracle proves the VALUES
survive the layout)."""

from __future__ import annotations

from esxsnmp_tsdb_spark.operators._workdirs import op_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._shared import OBS_CTE, T_JAN10, T_JAN20
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs
from esxsnmp_tsdb_spark.sources.compaction import write_obs
from esxsnmp_tsdb_spark.sources.formats import read_obs, write_obs_as


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    """Shared read-back aggregate: per event-type count / value sum /
    time bounds — any row or value lost or reparsed differently in the
    round-trip changes a cell."""
    return (
        df.select(F.split("path", "/").getItem(1).alias("event_type"), "tse", "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.min("tse").alias("first_tse"),
            F.max("tse").alias("last_tse"),
        )
    )


_ROUNDTRIP_ORACLE = f"""
WITH {OBS_CTE}
SELECT split_part(path, '/', 2) AS event_type, count(*) AS n,
       round(sum(value), 6) AS sum_value,
       min(tse) AS first_tse, max(tse) AS last_tse
FROM obs GROUP BY split_part(path, '/', 2)
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    out = op_dir(f"obs_{fmt}")
    write_obs_as(flat_obs(spark, sf_dir), fmt, out)
    return _roundtrip_agg(read_obs(spark, fmt, out))


@op("format_roundtrip_csv", oracle=_ROUNDTRIP_ORACLE)
def format_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """obs → CSV (header, schema-pinned read — no inference pass) → obs.
    Doubles survive because Spark writes shortest-round-trip decimals and
    the reader parses against the pinned DoubleType, never inferring."""
    return _roundtrip(spark, sf_dir, "csv")


@op("format_roundtrip_json", oracle=_ROUNDTRIP_ORACLE)
def format_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """obs → JSON-lines → obs, schema-pinned both ways (the ingest-edge
    format a poller dump or API export actually arrives in)."""
    return _roundtrip(spark, sf_dir, "json")


@op("format_roundtrip_orc", oracle=_ROUNDTRIP_ORACLE)
def format_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """obs → ORC → obs (the columnar alternative; binary, so the check is
    about layout/written-schema fidelity rather than text parsing)."""
    return _roundtrip(spark, sf_dir, "orc")


@op(
    "storage_day_partitioned_scan",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, count(*) AS n, round(avg(value), 6) AS avg_value
FROM obs
WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
GROUP BY path
""",
)
def storage_day_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the obs stream into the production day-partitioned layout
    (``sources.compaction.write_obs``: repartition(day) +
    sortWithinPartitions(path, tse)), then answer a 10-day range query
    from the written copy.

    The range predicate lands on the `day` partition column, so the scan
    reads only the 10 touched partitions (partition pruning — the chunk
    mapper); within each file the (path, tse) sort makes row-group stats
    selective.  Oracle equality proves the layout loses nothing and the
    day-boundary arithmetic (UTC epoch-day) matches the second-level
    range exactly."""
    out = op_dir("obs_daypart")
    write_obs(flat_obs(spark, sf_dir), out, mode="overwrite")
    back = spark.read.parquet(out)
    return (
        back.filter(
            (F.col("day") >= F.to_date(F.timestamp_seconds(F.lit(T_JAN10))))
            & (F.col("day") < F.to_date(F.timestamp_seconds(F.lit(T_JAN20))))
        )
        .filter((F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20))
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@op(
    "storage_retention_expire",
    oracle=f"""
WITH {OBS_CTE}
SELECT CAST(floor(tse / 86400) AS BIGINT) AS day_num,
       count(*) AS n, count(DISTINCT path) AS n_paths
FROM obs WHERE tse >= {T_JAN10}
GROUP BY CAST(floor(tse / 86400) AS BIGINT)
""",
)
def storage_retention_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy expiry on the day-partitioned store: partitions
    older than the cutoff are dropped AS DIRECTORIES — the object-store
    lifecycle primitive (delete a day prefix), never a data rewrite.  The
    read-back aggregate proves exactly the retained days survive, intact.

    At 100 TB this is the only affordable expiry: dropping a partition is
    O(1) metadata per day, while a filter-and-rewrite would re-shuffle
    the entire store.  (With a Delta/Iceberg catalog the same op is
    ``DELETE WHERE day < cutoff`` → metadata-only tombstones.)"""
    import os
    import shutil
    from datetime import datetime, timezone

    out = op_dir("obs_retention")
    write_obs(flat_obs(spark, sf_dir), out, mode="overwrite")
    cutoff_day = datetime.fromtimestamp(T_JAN10, timezone.utc).strftime("%Y-%m-%d")
    for d in os.listdir(out):
        if d.startswith("day=") and d.split("=", 1)[1] < cutoff_day:
            shutil.rmtree(os.path.join(out, d))
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.floor(F.col("tse") / 86400).cast("bigint").alias("day_num"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("path").alias("n_paths"),
        )
    )


@op(
    "storage_compaction_integrity",
    oracle=f"""
WITH {OBS_CTE}
SELECT CAST(floor(tse / 86400) AS BIGINT) AS day_num,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM obs GROUP BY CAST(floor(tse / 86400) AS BIGINT)
""",
)
def storage_compaction_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, proven loss-free: the obs stream is written
    FRAGMENTED (8 files per day partition — the poller-append pathology),
    compacted with ``sources.compaction.compact`` (per-day rewrite toward
    target file size, dynamic partition overwrite), and read back.  The
    oracle aggregates the source directly — equality proves compaction
    changed the file layout and nothing else.

    At 100 TB compaction is the nightly job that keeps row-group skipping
    effective; it runs per-day (`replaceWhere`-style) so it never
    conflicts with ingest on other days."""
    import os

    from esxsnmp_tsdb_spark.sources.compaction import compact, with_day

    out = op_dir("obs_compact")
    (
        with_day(flat_obs(spark, sf_dir))
        .repartition(8)  # deliberately fragmented: ~8 files per partition
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )
    compact(spark, out)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.floor(F.col("tse") / 86400).cast("bigint").alias("day_num"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
