"""§2.2 reports, batch 5 (EXT): the dashboard reads every SNMP shop
runs daily — interface utilization against provisioned capacity,
day-over-day comparison of the same hour slots, and the device-level
hierarchy rollup.

* ``ts_utilization_report`` — counter rate ÷ per-class capacity, rolled
  up per series: average/peak utilization plus time-over-threshold
  counts (>80 %, >100 %).  The capacity table is the broadcast dim
  (ports per speed class); the reference kept it in per-var metadata.
* ``ts_compare_window`` — the "vs yesterday" panel: each 1 h slot of a
  target day joined to the SAME slot 24 h earlier by (path, tse−86400)
  equi-key — a shifted self-join of the slot AGGREGATE, never of raw
  obs, so the compare costs two small day-partition scans at any scale.
* ``ts_hierarchy_rollup`` — TSDBSet device rollup: per-interface rates
  summed to the device level through three all-integer stages.

Float discipline — EXACT integer utilization: capacities have one
decimal, so ``cap10 = cap·10`` ships as an INTEGER in the dim and
utilization micro-units are computed by integer round-half-up
``(2n + d) div 2d`` — no double division anywhere on the utilization
path.  This kills the real tie class (vol/(36000·cap) CAN land exactly
on a 5e-7 boundary, and double-vs-decimal round paths then disagree
cross-engine; observed once at sf0.01 before this formulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.operators._shared import (
    BUCKET,
    CNT_CTE,
    HEARTBEAT,
    OBS_CTE,
    T_JAN10,
    T_JAN11,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.sources import flat_obs

# Provisioned per-second capacity per event class (the broadcast dim a
# real deployment keeps per interface speed: 1G/10G/100G ports).
CAPACITY = {
    "click": 0.5,
    "error": 0.2,
    "purchase": 1.0,
    "signup": 0.4,
    "view": 0.6,
}
# cap10 = capacity * 10 as an exact INTEGER — utilization math never
# touches a float capacity (see module docstring).
CAP10 = {k: int(round(v * 10)) for k, v in CAPACITY.items()}
_CAP10_VALUES = ", ".join(f"('{k}', {v})" for k, v in sorted(CAP10.items()))


def _cap10_df(spark: SparkSession):
    return F.broadcast(
        local_frame(spark, sorted(CAP10.items()), "etype string, cap10 bigint")
    )


@op(
    "ts_utilization_report",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
caps(etype, cap10) AS (VALUES {_CAP10_VALUES}),
d AS (
  SELECT path, string_split(path, '/')[2] AS etype,
         counter - lag(counter) OVER w AS delta,
         tse - lag(tse) OVER w AS dt
  FROM cnt
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
u AS (
  -- util = delta/(dt*cap) = delta*10/(dt*cap10); micro-units via exact
  -- integer round-half-up: (2n + d) // 2d
  SELECT d.path,
         {half_up_div('d.delta', 'd.dt * caps.cap10', mul=10_000_000, idiv='//')}
           AS util_micro
  FROM d JOIN caps ON d.etype = caps.etype
  WHERE d.delta IS NOT NULL AND d.dt > 0 AND d.dt <= {HEARTBEAT}
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_samples,
       round(({half_up_div('sum(util_micro)', 'count(*)', idiv='//')}) / 1e6, 6)
         AS util_avg,
       round(max(util_micro) / 1e6, 6) AS util_max,
       CAST(sum(CASE WHEN util_micro > 800000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over80,
       CAST(sum(CASE WHEN util_micro > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over100
FROM u GROUP BY path
""",
)
def ts_utilization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interface-utilization report: per-sample counter rate divided by
    the class capacity (broadcast dim), rolled up per series into
    avg/peak utilization and time-over-80 %/100 % counts — the capacity
    planning read the reference's report layer served from per-var
    metadata.

    Heartbeat discipline applies (gaps past HEARTBEAT are invalid, as in
    `ts_rate_invalid_reasons`).  The whole utilization path is exact
    integer arithmetic — micro-units via ``(2n+d) div 2d`` round-half-up
    against the integer ``cap10`` dim — so both engines compute identical
    BIGINTs and only the final /1e6 (≤ 6 decimals, tie-free) touches a
    double.  One shuffle on path (the rate window); the group-by reuses
    the same key, and the 5-row capacity dim broadcasts."""
    from esxsnmp_tsdb_spark.operators.aggregator import _counter

    obs = flat_obs(spark, sf_dir)
    d = tsdb.deltas(_counter(obs), "counter").select(
        "path",
        F.element_at(F.split("path", "/"), 2).alias("etype"),
        "delta",
        "dt",
    )
    u = (
        d.join(_cap10_df(spark), "etype")
        .where(
            F.col("delta").isNotNull()
            & (F.col("dt") > 0)
            & (F.col("dt") <= HEARTBEAT)
        )
        .select(
            "path",
            F.expr(
                half_up_div("delta", "dt * cap10", mul=10_000_000)
            ).alias("util_micro"),
        )
    )
    return u.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.round(
            F.expr(half_up_div("sum(util_micro)", "count(1)")) / 1e6,
            6,
        ).alias("util_avg"),
        F.round(F.max("util_micro") / 1e6, 6).alias("util_max"),
        F.sum((F.col("util_micro") > 800_000).cast("int"))
        .cast("bigint")
        .alias("n_over80"),
        F.sum((F.col("util_micro") > 1_000_000).cast("int"))
        .cast("bigint")
        .alias("n_over100"),
    )


@op(
    "ts_compare_window",
    oracle=f"""
WITH {OBS_CTE},
slots AS (
  SELECT path, tse - tse % {BUCKET} AS slot,
         round(avg(value), 6) AS v
  FROM obs
  WHERE tse >= {T_JAN10 - 86400} AND tse < {T_JAN11}
  GROUP BY path, tse - tse % {BUCKET}
)
SELECT t.path, t.slot AS tse,
       t.v AS value_today,
       p.v AS value_prev,
       round((t.v - p.v) * 100 / nullif(p.v, 0), 6) AS pct_change
FROM slots t JOIN slots p
  ON t.path = p.path AND t.slot = p.slot + 86400
WHERE t.slot >= {T_JAN10}
""",
)
def ts_compare_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day slot comparison: every 1 h slot of Jan-10 joined to
    the same series' slot 24 h earlier, with percent change — the
    "compare to yesterday" dashboard overlay.

    The compare is an equi-join of the slot AGGREGATE with itself on
    (path, slot − 86400): raw obs never self-join, the two day scans are
    partition-prunable, and the join keys are the aggregation keys, so
    the shuffle produced by the group-by is reused by the join.  At
    100 TB this is two day-partition reads regardless of history depth."""
    obs = flat_obs(spark, sf_dir).where(
        (F.col("tse") >= T_JAN10 - 86400) & (F.col("tse") < T_JAN11)
    )
    slots = obs.groupBy(
        "path", (F.col("tse") - F.col("tse") % BUCKET).alias("slot")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    t = slots.alias("t")
    p = slots.alias("p")
    return (
        t.join(
            p,
            (F.col("t.path") == F.col("p.path"))
            & (F.col("t.slot") == F.col("p.slot") + 86400),
        )
        .where(F.col("t.slot") >= T_JAN10)
        .select(
            F.col("t.path").alias("path"),
            F.col("t.slot").alias("tse"),
            F.col("t.v").alias("value_today"),
            F.col("p.v").alias("value_prev"),
            F.round(
                (F.col("t.v") - F.col("p.v"))
                * 100
                / F.nullif(F.col("p.v"), F.lit(0)),
                6,
            ).alias("pct_change"),
        )
    )


@op(
    "ts_hierarchy_rollup",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
d AS (
  SELECT path, string_split(path, '/')[1] AS device, tse,
         counter - lag(counter) OVER w AS delta,
         tse - lag(tse) OVER w AS dt
  FROM cnt
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
r AS (
  -- rate micro-units via exact integer round-half-up (2n + d) // 2d
  SELECT path, device, tse - tse % {BUCKET} AS slot,
         {half_up_div('delta', 'dt', mul=1_000_000, idiv='//')} AS rate_micro
  FROM d WHERE delta IS NOT NULL AND dt > 0 AND dt <= {HEARTBEAT}
),
series AS (
  SELECT device, slot, path,
         {half_up_div('sum(rate_micro)', 'count(*)', idiv='//')}
           AS series_avg_micro
  FROM r GROUP BY device, slot, path
)
SELECT device, slot,
       CAST(count(*) AS BIGINT) AS n_series,
       round(sum(series_avg_micro) / 1e6, 6) AS total_rate
FROM series GROUP BY device, slot
""",
)
def ts_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDBSet hierarchy rollup (reference set-level aggregation †):
    per-interface counter rates rolled up to the DEVICE level — the
    'router total from its interfaces' read.  Path is `device/iface`
    (here user/event_type); the rollup is series-rate → per-slot series
    average → device sum.

    Float discipline: rates quantize to BIGINT micro-units by exact
    integer round-half-up, the per-(series, slot) average re-quantizes
    the same way, and the device sum adds exact integers — three levels
    of aggregation with zero float arithmetic until the final /1e6.
    The rate window shuffles on path; both group-bys ride hash
    partitions of their own keys (the second is a rollup of the first's
    ≤|series|·|slots| output, not of raw obs)."""
    from esxsnmp_tsdb_spark.operators.aggregator import _counter

    obs = flat_obs(spark, sf_dir)
    d = tsdb.deltas(_counter(obs), "counter")
    r = (
        d.where(
            F.col("delta").isNotNull()
            & (F.col("dt") > 0)
            & (F.col("dt") <= HEARTBEAT)
        )
        .select(
            "path",
            F.element_at(F.split("path", "/"), 1).alias("device"),
            (F.col("tse") - F.col("tse") % BUCKET).alias("slot"),
            F.expr(half_up_div("delta", "dt", mul=1_000_000)).alias(
                "rate_micro"
            ),
        )
    )
    series = r.groupBy("device", "slot", "path").agg(
        F.expr(
            half_up_div("sum(rate_micro)", "count(1)")
        ).alias("series_avg_micro")
    )
    return series.groupBy("device", "slot").agg(
        F.count(F.lit(1)).alias("n_series"),
        F.round(F.sum("series_avg_micro") / 1e6, 6).alias("total_rate"),
    )
