"""§2.1 TSDB-native core — the reference's actual query surface
(``TSDBVar.select/get/get_last``, ``TSDBBase.list_*/load_metadata`` †,
SURVEY.md §2.1), as registered oracle-checked operators over the `events`
fixture mapped to the obs layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import (
    OBS_CTE,
    STEP,
    BUCKET,
    T_JAN10,
    T_JAN11,
    T_JAN15_NOON,
    T_JAN20,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import load_obs, obs_range


@op(
    "ts_range_scan",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse, value, flags
FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
""",
)
def ts_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TSDBVar.select(begin, end)`` † — time-range scan.

    Scale: the range predicate is applied to ``ts`` as stored
    (``sources.obs_range``) so it reaches the parquet scan as
    PushedFilters — min/max row-group skipping now, partition pruning on
    the production date-partitioned layout (the reference's YYYYMMDD
    chunk mapper, SURVEY.md §4).  The semantic tse filter stays as a
    cheap residual."""
    return tsdb.range_scan(
        obs_range(spark, sf_dir, T_JAN10, T_JAN20), T_JAN10, T_JAN20
    ).select("path", "tse", "value", "flags")


@op(
    "ts_point_lookup",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse, value
FROM obs WHERE tse - tse % {STEP} = {T_JAN15_NOON - T_JAN15_NOON % STEP}
""",
)
def ts_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TSDBVar.get(ts)`` † — the row(s) in the slot containing T.

    The slot is an exact [slot, slot+step) range on stored ts, so the O(1)
    positional chunk read becomes a pushed two-sided range predicate —
    one row group touched, not one file scanned."""
    slot = T_JAN15_NOON - T_JAN15_NOON % STEP
    obs = obs_range(spark, sf_dir, slot, slot + STEP)
    return obs.filter(tsdb.slot_of(F.col("tse"), STEP) == slot).select(
        "path", "tse", "value"
    )


@op(
    "ts_flag_filter",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse, value FROM obs WHERE (flags & 1) != 0
""",
)
def ts_flag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop rows without ROW_VALID (``tsdb/row.py · ROW_VALID`` †)."""
    return tsdb.valid_only(load_obs(spark, sf_dir)).select("path", "tse", "value")


@op(
    "ts_slot_dedup",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, slot, tse, value FROM (
  SELECT path, tse - tse % {STEP} AS slot, tse, value,
         row_number() OVER (PARTITION BY path, tse - tse % {STEP}
                            ORDER BY tse DESC, event_id DESC) AS rn
  FROM obs
) WHERE rn = 1
""",
)
def ts_slot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins per (path, slot) — ``TSDBVar.insert`` overwrite †."""
    return tsdb.slot_dedup(load_obs(spark, sf_dir), STEP).select(
        "path", "slot", "tse", "value"
    )


@op(
    "ts_time_spine",
    oracle=f"""
WITH {OBS_CTE},
paths AS (SELECT DISTINCT path FROM obs),
grid AS (
  SELECT p.path, CAST(g.generate_series AS BIGINT) AS slot
  FROM paths p, generate_series({T_JAN10}, {T_JAN11 - 1}, {BUCKET}) g
),
observed AS (
  SELECT path, tse - tse % {BUCKET} AS slot,
         round(avg(value), 6) AS average, count(*) AS n
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN11}
  GROUP BY 1, 2
)
SELECT g.path, g.slot, o.average,
       COALESCE(o.n, 0) AS n, o.n IS NOT NULL AS valid
FROM grid g LEFT JOIN observed o ON g.path = o.path AND g.slot = o.slot
""",
)
def ts_time_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense slot grid with empty slots materialized as invalid rows —
    ``TSDBVar.select`` returning invalid rows for never-written slots †."""
    spine = tsdb.time_spine(load_obs(spark, sf_dir), T_JAN10, T_JAN11, BUCKET)
    return spine.select(
        "path", "slot", F.round("average", 6).alias("average"), "n", "valid"
    )


@op(
    "ts_series_catalog",
    oracle=f"""
WITH {OBS_CTE}
SELECT split_part(path, '/', 1) AS set_name,
       split_part(path, '/', 2) AS var_name,
       path, count(*) AS n_rows,
       min(tse) AS first_tse, max(tse) AS last_tse
FROM obs GROUP BY 1, 2, 3
""",
)
def ts_series_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TSDBBase.list_sets / list_vars`` † — walk the hierarchy: the
    set/var tree is recovered from the flattened path key (SURVEY.md §1.2).
    """
    return (
        load_obs(spark, sf_dir)
        .groupBy(
            F.split_part(F.col("path"), F.lit("/"), F.lit(1)).alias("set_name"),
            F.split_part(F.col("path"), F.lit("/"), F.lit(2)).alias("var_name"),
            F.col("path"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("tse").alias("first_tse"),
            F.max("tse").alias("last_tse"),
        )
    )


@op(
    "ts_metadata_get",
    oracle=f"""
WITH {OBS_CTE}
SELECT path,
       'Gauge32' AS type_id, {STEP} AS step, {900} AS heartbeat,
       count(*) AS n_rows, min(tse) AS min_timestamp,
       max(tse) AS max_timestamp, max(tse) AS last_update
FROM obs GROUP BY path
""",
)
def ts_metadata_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TSDBBase.load_metadata`` † — per-var metadata dict as a dimension
    row: fixed declaration (type/step/heartbeat) + maintained min/max/last.
    """
    return (
        load_obs(spark, sf_dir)
        .groupBy("path")
        .agg(
            F.lit("Gauge32").alias("type_id"),
            F.lit(STEP).alias("step"),
            F.lit(900).alias("heartbeat"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("tse").alias("min_timestamp"),
            F.max("tse").alias("max_timestamp"),
            F.max("tse").alias("last_update"),
        )
    )


@op(
    "ts_last_known",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse AS last_tse, value AS last_value FROM (
  SELECT path, tse, value,
         row_number() OVER (PARTITION BY path ORDER BY tse DESC, event_id DESC) AS rn
  FROM obs WHERE tse <= {T_JAN15_NOON} AND (flags & 1) != 0
) WHERE rn = 1
""",
)
def ts_last_known(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TSDBVar.get_last`` † — last valid value at-or-before T per series
    (the as-of lookup; the generalized as-of JOIN is `asof_join` in §2.4).
    The ≤T bound pushes to the scan (`tse <= T ⇔ ts < T+1 s`).
    """
    obs = tsdb.valid_only(
        obs_range(spark, sf_dir, 0, T_JAN15_NOON + 1)
    ).filter(F.col("tse") <= T_JAN15_NOON)
    w = Window.partitionBy("path").orderBy(F.col("tse").desc(), F.col("event_id").desc())
    return (
        obs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("path", F.col("tse").alias("last_tse"), F.col("value").alias("last_value"))
    )
