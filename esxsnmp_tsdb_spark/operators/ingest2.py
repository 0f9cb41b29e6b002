"""Ingest batch 2 (§2.3 surface): CDC changeset application — the
general MERGE with deletes that `ts_merge_upsert` (update/insert only)
doesn't cover.

The changeset is manufactured deterministically from the fixture (every
17th event is a tombstone, the rest are upserts), identically in both
engines; application is last-change-wins per (path, slot) followed by a
full outer join against the base snapshot.

Scale posture: one co-partitioned shuffle on (path, slot) for the
dedup window and one for the outer join — with the bucketed layout of
``sources.compaction`` both collapse into the write-time partitioning,
which is how nightly CDC application over a 100 TB store stays a single
pass with no driver involvement."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import (
    OBS_CTE,
    STEP,
    T_FEB01,
    T_JAN10,
    T_JAN15_NOON,
    T_JAN20,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs, obs_range

TOMBSTONE_MOD = 17  # every 17th event in the change window is a delete


@op(
    "ingest_cdc_merge",
    oracle=f"""
WITH {OBS_CTE},
base AS (
  SELECT path, slot, value FROM (
    SELECT path, tse - tse % {STEP} AS slot, value,
           row_number() OVER (PARTITION BY path, tse - tse % {STEP}
                              ORDER BY tse DESC, event_id DESC) AS rn
    FROM obs WHERE tse < {T_JAN15_NOON}
  ) WHERE rn = 1
),
chg AS (
  SELECT path, slot, value, op FROM (
    SELECT path, tse - tse % {STEP} AS slot, value,
           CASE WHEN event_id % {TOMBSTONE_MOD} = 0 THEN 'D' ELSE 'U' END AS op,
           row_number() OVER (PARTITION BY path, tse - tse % {STEP}
                              ORDER BY tse DESC, event_id DESC) AS rn
    FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
  ) WHERE rn = 1
)
SELECT coalesce(c.path, b.path) AS path,
       coalesce(c.slot, b.slot) AS slot,
       round(coalesce(c.value, b.value), 6) AS value,
       CASE WHEN c.path IS NULL THEN 'base'
            WHEN b.path IS NULL THEN 'insert'
            ELSE 'update' END AS src
FROM base b FULL OUTER JOIN chg c ON b.path = c.path AND b.slot = c.slot
WHERE c.op IS DISTINCT FROM 'D'
""",
)
def ingest_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: a changeset of upserts AND tombstones merged into the
    base snapshot — WHEN MATCHED AND op='D' DELETE / WHEN MATCHED UPDATE
    / WHEN NOT MATCHED INSERT, as one window + one full outer join.

    Last-change-wins per (path, slot) resolves intra-batch conflicts
    before the join (the same LWW discipline as `ts_slot_dedup`), so the
    merge itself is set-oriented and idempotent — replaying the same
    changeset yields the same table, the property a recovering CDC
    consumer needs."""
    base = tsdb.slot_dedup(obs_range(spark, sf_dir, 0, T_JAN15_NOON), STEP).select(
        "path", "slot", F.col("value").alias("b_value")
    )
    cobs = obs_range(spark, sf_dir, T_JAN10, T_JAN20).withColumn(
        "slot", F.col("tse") - F.col("tse") % STEP
    )
    w = Window.partitionBy("path", "slot").orderBy(
        F.col("tse").desc(), F.col("event_id").desc()
    )
    chg = (
        cobs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("path").alias("c_path"),
            F.col("slot").alias("c_slot"),
            F.col("value").alias("c_value"),
            F.when(F.col("event_id") % TOMBSTONE_MOD == 0, "D")
            .otherwise("U")
            .alias("op"),
        )
    )
    merged = base.join(
        chg,
        (F.col("path") == F.col("c_path")) & (F.col("slot") == F.col("c_slot")),
        "full",
    )
    return merged.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        F.coalesce("c_path", "path").alias("path"),
        F.coalesce("c_slot", "slot").alias("slot"),
        F.round(F.coalesce("c_value", "b_value"), 6).alias("value"),
        F.when(F.col("c_path").isNull(), "base")
        .when(F.col("path").isNull(), "insert")
        .otherwise("update")
        .alias("src"),
    )


BULK_EVENT_TYPE = "click"  # the bulk request's path set: every */click series


@op(
    "api_bulk_timerange",
    oracle=f"""
WITH {OBS_CTE},
agg AS (
  SELECT path, tse - tse % {STEP} AS slot,
         CAST(floor(avg(value) * 1000000 + 0.5) AS BIGINT) AS avg_micro,
         count(*) AS n
  FROM obs
  WHERE tse >= {T_JAN10} AND tse < {T_JAN15_NOON}
    AND path LIKE '%/{BULK_EVENT_TYPE}'
  GROUP BY 1, 2
)
SELECT path, slot, avg_micro, n FROM agg
""",
)
def api_bulk_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk REST fetch (``POST /bulk`` in the reference API †): ONE
    request carries a set of series paths + a shared (begin, end, step),
    answered as one scan instead of N single-series round trips — the
    dashboard-panel pattern (every interface of a device, every */click
    series here).

    The path-set predicate and the time range both reach the scan (the
    suffix filter compiles to a codegen EndsWith; the range predicate is
    the pushed-filter path `ts_range_scan` proves), and the aggregate is
    the same single-shuffle consolidation as every §2.2 op — request
    fan-in changes the filter, never the plan shape.  Values are emitted
    as integer microunits (`api_timerange_json`'s cross-engine trick)."""
    obs = obs_range(spark, sf_dir, T_JAN10, T_JAN15_NOON)
    return (
        tsdb.range_scan(obs, T_JAN10, T_JAN15_NOON)
        .filter(F.col("path").endswith("/" + BULK_EVENT_TYPE))
        .groupBy("path", tsdb.slot_of(F.col("tse"), STEP).alias("slot"))
        .agg(
            F.floor(F.avg("value") * 1000000 + 0.5)
            .cast("bigint")
            .alias("avg_micro"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@op(
    "ingest_late_data_report",
    oracle=f"""
WITH {OBS_CTE},
arr AS (
  SELECT path, tse,
         max(tse) OVER (PARTITION BY path ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS runmax
  FROM obs
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN tse < runmax THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(coalesce(max(CASE WHEN tse < runmax THEN runmax - tse END), 0)
            AS BIGINT) AS max_lateness_s,
       round(coalesce(sum(CASE WHEN tse < runmax THEN runmax - tse END), 0)
             * 1.0 / count(*), 6) AS avg_lateness_s
FROM arr GROUP BY path
""",
)
def ingest_late_data_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data audit over the ingest feed: how out-of-order each
    series arrives, measured against the running event-time high-water
    mark in ARRIVAL order (event_id is the poller's write sequence).
    This is the report that tells you what streaming watermark delay
    (`stream_watermark_late`) and batch re-sort window the deployment
    actually needs — guessing it is how late points get dropped.

    One shuffle on path (the arrival-order window); lateness sums are
    BIGINT seconds, so the per-series aggregate is exact-integer and
    hash-stable.  The final group-by reuses the window's partitioning —
    no second exchange (same plan shape as `ts_utilization_report`)."""
    obs = flat_obs(spark, sf_dir)
    w = (
        Window.partitionBy("path")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = obs.select("path", "tse", F.max("tse").over(w).alias("runmax"))
    late = F.col("tse") < F.col("runmax")
    lateness = F.when(late, F.col("runmax") - F.col("tse"))
    return arr.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late.cast("int")).cast("bigint").alias("n_late"),
        F.coalesce(F.max(lateness), F.lit(0)).cast("bigint").alias("max_lateness_s"),
        F.round(
            F.coalesce(F.sum(lateness), F.lit(0)) / F.count(F.lit(1)), 6
        ).alias("avg_lateness_s"),
    )


FRESH_NOW = T_FEB01  # the report's fixed "now" (import, not a copy)
FRESH_STALE_SEC = 2 * 900  # two missed heartbeats = stale


@op(
    "api_freshness_report",
    oracle=f"""
WITH {OBS_CTE},
per_series AS (
  SELECT split_part(path, '/', 2) AS class, path,
         count(*) AS n_obs, max(tse) AS last_tse
  FROM obs GROUP BY class, path
)
SELECT class,
       count(*) AS n_series,
       CAST(sum(n_obs) AS BIGINT) AS n_obs,
       max(last_tse) AS last_tse,
       {FRESH_NOW} - max(last_tse) AS staleness_sec,
       CAST(sum(CASE WHEN {FRESH_NOW} - last_tse > {FRESH_STALE_SEC}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_series
FROM per_series GROUP BY class
""",
)
def api_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collector status page (ESxSNMP's device/oidset health view †
    SURVEY §2.3): per class, how many series exist, when the newest
    observation landed, and how many series have gone quiet for more
    than two heartbeats as of a FIXED report time — the first page an
    on-call engineer opens when polling breaks.  The report "now" is
    pinned (not wall-clock) so the op is reproducible and
    oracle-checkable; a deployment substitutes current_timestamp.

    Scale: one partial-aggregated group-by per series, rolled up to
    classes on the same shuffle's output — per-series maxima are the
    only state, and the report is catalog-sized."""
    obs = flat_obs(spark, sf_dir)
    per_series = (
        obs.select(
            F.element_at(F.split("path", "/"), 2).alias("class"),
            "path",
            "tse",
        )
        .groupBy("class", "path")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max("tse").alias("last_tse"),
        )
    )
    stale = (FRESH_NOW - F.col("last_tse")) > FRESH_STALE_SEC
    return per_series.groupBy("class").agg(
        F.count(F.lit(1)).alias("n_series"),
        F.sum("n_obs").cast("bigint").alias("n_obs"),
        F.max("last_tse").alias("last_tse"),
        (FRESH_NOW - F.max("last_tse")).alias("staleness_sec"),
        F.sum(stale.cast("bigint")).alias("n_stale_series"),
    )


@op(
    "ts_poll_interval_drift",
    oracle=f"""
WITH {OBS_CTE},
g AS (
  SELECT path,
         tse - lag(tse) OVER (PARTITION BY path ORDER BY tse, event_id)
           AS gap
  FROM obs
)
SELECT path,
       count(*) AS n_gaps,
       round(quantile_cont(gap, 0.5), 4) AS p50_gap,
       round(quantile_cont(gap, 0.95), 4) AS p95_gap,
       max(gap) AS max_gap
FROM g WHERE gap IS NOT NULL GROUP BY path
""",
)
def ts_poll_interval_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actual polling cadence per series: median / p95 / max
    inter-observation gap — the report that tells an operator the
    configured STEP no longer matches reality (a drifting median means
    the poller is overloaded; a fat p95 with a tight median means
    intermittent stalls; `ts_gap_report` counts violations, this
    measures the distribution they come from).

    Percentiles are the exact interpolated form (Spark `percentile` ≡
    DuckDB `quantile_cont`, both R-7 — the `percentiles` op precedent);
    gaps are integer seconds off one lag window that shares its
    exchange with the rollup.  At 100 TB swap percentile for
    percentile_approx per the house note on relational.percentiles."""
    obs = flat_obs(spark, sf_dir)
    w = Window.partitionBy("path").orderBy("tse", "event_id")
    g = obs.withColumn("gap", F.col("tse") - F.lag("tse").over(w)).filter(
        F.col("gap").isNotNull()
    )
    return g.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 4).alias("p50_gap"),
        F.round(F.expr("percentile(gap, 0.95)"), 4).alias("p95_gap"),
        F.max("gap").alias("max_gap"),
    )
