"""§2.2-adjacent TSDB analytics, batch 3 (EXT): exponential smoothing,
trailing-window burst detection, heartbeat-derived SLA reporting, and
step-change (edge) detection.

Same contract discipline as ``analytics.py``/``analytics2.py``: every op
composes the §2.1/§2.2 primitives (OBS CTE twin, slot math), every
reported float is rounded on BOTH sides, and every discrete decision
(burst flag, breach flag, step flag) compares rounded values so the two
engines agree bit-for-bit.

Determinism notes specific to this module:

* ``ts_ewma`` fixes the smoothing factor at α = 0.5: the decay base
  (1-α) = 0.5 is a dyadic float, so ``pow(0.5, k)`` is EXACT in IEEE
  double on both engines (a non-dyadic α would lean on each engine's
  libm pow rounding in the last ulp).  Both engines fold the window
  list left-to-right, so the summation order matches too.
* ``ts_sla_report`` converts heartbeat-exceeding gaps to downtime with
  pure integer-seconds math; only the final ratio is a (rounded) float.

Scale posture: every op here is ONE shuffle on `path` and O(1) or
O(frame) per row after it — windows are all bounded ROWS frames over
the per-path slot series, so state never exceeds the frame length no
matter how long the series grows.  Nothing re-sorts globally and
nothing funnels through a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._shared import (
    HEARTBEAT,
    OBS_CTE,
    T_JAN10,
    T_JAN20,
)
from esxsnmp_tsdb_spark.operators.analytics2 import _SLOT_CTE, _slot_series
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs

EWMA_K = 12  # EWMA truncation: last 12 consolidated 1h slots
BURST_FACTOR = 1.5  # burst = slot exceeds 1.5x trailing mean
BURST_MIN_TRAIL = 6  # need >= 6 trailing slots before judging
STEP_FRAME = 3  # step detection: 3 slots before vs 3 slots after
STEP_THRESHOLD = 35.0  # |after-mean - before-mean| >= this (tuned non-empty)
SLA_TARGET = 0.5  # uptime ratio below this = breach (fixture-tuned)

@op(
    "ts_ewma",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
w AS (
  SELECT path, slot, x,
         list(x) OVER (PARTITION BY path ORDER BY slot
                       ROWS BETWEEN {EWMA_K - 1} PRECEDING AND CURRENT ROW)
           AS arr
  FROM slotavg
)
SELECT path, slot, x,
       round(0.5 * list_sum(list_transform(arr, (v, i) -> v * pow(0.5, len(arr) - i)))
             / (1.0 - pow(0.5, len(arr))), 6) AS ewma
FROM w
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 0.5) over the per-path
    1h slot series, truncated at {K} slots and renormalised over the
    weights actually present — the standard dashboard smoother next to
    ``ts_wma``'s linear one.

    α is fixed at 0.5 so every weight 0.5^k is a dyadic float —
    ``pow`` is exact on both engines and no libm last-ulp drift can
    flip the rounded output.  The truncated window makes this a bounded
    ROWS frame (state = 12 doubles per path), so unlike a true
    infinite-history EWMA it needs no recursion and stays a single
    windowed pass: one shuffle on `path`, O(K) per row.  The weight sum
    collapses to the closed form (1 - 0.5^n), so only the numerator
    folds the frame list."""
    w = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(-(EWMA_K - 1), Window.currentRow)
    )
    arr = _slot_series(spark, sf_dir).withColumn("arr", F.collect_list("x").over(w))
    # Spark's transform index is 0-based (DuckDB's is 1-based): exponent
    # size(arr)-1-i here ≡ len(arr)-i there — in both, the newest frame
    # element gets weight 0.5^0 and the oldest 0.5^(n-1).
    num = F.expr(
        "aggregate(transform(arr, (v, i) -> v * pow(0.5D, size(arr) - 1 - i)),"
        " 0D, (a, b) -> a + b)"
    )
    # The weights α(1-α)^k sum to 1-(1-α)^n, so scaling the raw fold by
    # α = 0.5 (exact dyadic multiply) makes ewma a convex combination.
    den = 1.0 - F.pow(F.lit(0.5), F.size("arr"))
    return arr.select(
        "path", "slot", "x", F.round((F.lit(0.5) * num) / den, 6).alias("ewma")
    )


@op(
    "ts_burst_detect",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
t AS (
  SELECT path, slot, x,
         round(avg(x) OVER w, 6) AS trail,
         count(*) OVER w AS m
  FROM slotavg
  WINDOW w AS (PARTITION BY path ORDER BY slot
               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
)
SELECT path, slot, x, trail,
       round(x / trail, 6) AS burst_ratio
FROM t
WHERE m >= {BURST_MIN_TRAIL} AND x > {BURST_FACTOR} * trail
""",
)
def ts_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window burst detector: flag 1h slots whose value exceeds
    {FACTOR}x the mean of the previous 12 slots (needing at least
    {MIN} trailing slots before judging) — the "traffic spike" alert a
    NOC pages on, complementing ``ts_anomaly_zscore``'s global z-test
    with a purely local criterion.

    The trailing mean is a bounded ROWS frame ending at 1 PRECEDING
    (the current slot never contaminates its own baseline).  Both the
    baseline and the ratio are rounded before the compare so the flag
    decision is bit-identical across engines.  One shuffle on `path`;
    the filter drops ~98% of slots before anything leaves the stage."""
    w = Window.partitionBy("path").orderBy("slot").rowsBetween(-12, -1)
    t = _slot_series(spark, sf_dir).select(
        "path",
        "slot",
        "x",
        F.round(F.avg("x").over(w), 6).alias("trail"),
        F.count(F.lit(1)).over(w).alias("m"),
    )
    return t.filter(
        (F.col("m") >= BURST_MIN_TRAIL)
        & (F.col("x") > BURST_FACTOR * F.col("trail"))
    ).select(
        "path",
        "slot",
        "x",
        "trail",
        F.round(F.col("x") / F.col("trail"), 6).alias("burst_ratio"),
    )


@op(
    "ts_sla_report",
    oracle=f"""
WITH {OBS_CTE},
v AS (
  SELECT path, tse FROM obs
  WHERE flags = 1 AND tse >= {T_JAN10} AND tse < {T_JAN20}
),
g AS (
  SELECT path, tse, lag(tse) OVER (PARTITION BY path ORDER BY tse) AS prev,
         max(tse) OVER (PARTITION BY path) AS last_tse
  FROM v
),
d AS (
  SELECT path,
         CAST(sum(CASE WHEN prev IS NULL
                  THEN greatest(tse - {T_JAN10} - {HEARTBEAT}, 0)
                  ELSE greatest(tse - prev - {HEARTBEAT}, 0) END)
              + greatest({T_JAN20} - max(last_tse) - {HEARTBEAT}, 0)
              AS BIGINT) AS downtime_sec,
         count(*) AS n_obs
  FROM g GROUP BY path
)
SELECT path, n_obs, downtime_sec,
       round(1.0 - downtime_sec * 1.0 / {T_JAN20 - T_JAN10}, 6)
         AS uptime_ratio,
       1.0 - downtime_sec * 1.0 / {T_JAN20 - T_JAN10} < {SLA_TARGET}
         AS breach
FROM d
""",
)
def ts_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat-derived SLA report: any gap between consecutive valid
    observations beyond HEARTBEAT counts as downtime (as do the window
    edges before the first and after the last observation), rolled up
    to per-path downtime seconds, uptime ratio, and a breach flag —
    the monthly availability report the reference's gap semantics
    († heartbeat invalidation, SURVEY.md §2.2) imply.

    Downtime is pure integer-seconds arithmetic end-to-end; the only
    float is the final ratio, rounded on both sides before the breach
    compare.  One shuffle on `path` for the lag window, whose state is
    a single previous timestamp; the rollup rides the same partitioning
    (no second exchange thanks to the shared `path` key)."""
    window_len = T_JAN20 - T_JAN10
    v = (
        flat_obs(spark, sf_dir)
        .filter(
            (F.col("flags") == 1)
            & (F.col("tse") >= T_JAN10)
            & (F.col("tse") < T_JAN20)
        )
        .select("path", "tse")
    )
    w = Window.partitionBy("path").orderBy("tse")
    g = v.select(
        "path",
        "tse",
        F.lag("tse").over(w).alias("prev"),
    )
    gap = F.when(
        F.col("prev").isNull(), F.greatest(F.col("tse") - T_JAN10 - HEARTBEAT, F.lit(0))
    ).otherwise(F.greatest(F.col("tse") - F.col("prev") - HEARTBEAT, F.lit(0)))
    d = g.groupBy("path").agg(
        (
            F.sum(gap) + F.greatest(F.lit(T_JAN20) - F.max("tse") - HEARTBEAT, F.lit(0))
        )
        .cast("bigint")
        .alias("downtime_sec"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    uptime = 1.0 - F.col("downtime_sec") / F.lit(float(window_len))
    return d.select(
        "path",
        "n_obs",
        "downtime_sec",
        F.round(uptime, 6).alias("uptime_ratio"),
        (uptime < SLA_TARGET).alias("breach"),
    )


@op(
    "ts_step_change",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
t AS (
  SELECT path, slot, x,
         round(avg(x) OVER wb, 6) AS before_avg,
         count(*) OVER wb AS mb,
         round(avg(x) OVER wa, 6) AS after_avg,
         count(*) OVER wa AS ma
  FROM slotavg
  WINDOW wb AS (PARTITION BY path ORDER BY slot
                ROWS BETWEEN {STEP_FRAME} PRECEDING AND 1 PRECEDING),
         wa AS (PARTITION BY path ORDER BY slot
                ROWS BETWEEN CURRENT ROW AND {STEP_FRAME - 1} FOLLOWING)
)
SELECT path, slot, before_avg, after_avg,
       round(after_avg - before_avg, 6) AS step
FROM t
WHERE mb = {STEP_FRAME} AND ma = {STEP_FRAME}
  AND abs(round(after_avg - before_avg, 6)) >= {STEP_THRESHOLD}
""",
)
def ts_step_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-change (edge) detector: compare the mean of the {N} slots
    before each point against the {N} slots from it onward and flag
    level shifts of at least {THRESHOLD} — catches reroutes /
    provisioning changes that a point-anomaly test misses because every
    post-change point is "normal" relative to the new level.

    Both frame means are rounded before the difference and the
    difference is rounded before the threshold compare, so the discrete
    flag agrees across engines.  Two bounded ROWS frames over the same
    (path, slot) sort — Spark evaluates both in ONE window stage, so
    the whole op is one shuffle on `path`."""
    wb = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(-STEP_FRAME, -1)
    )
    wa = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(Window.currentRow, STEP_FRAME - 1)
    )
    t = _slot_series(spark, sf_dir).select(
        "path",
        "slot",
        F.round(F.avg("x").over(wb), 6).alias("before_avg"),
        F.count(F.lit(1)).over(wb).alias("mb"),
        F.round(F.avg("x").over(wa), 6).alias("after_avg"),
        F.count(F.lit(1)).over(wa).alias("ma"),
    )
    step = F.round(F.col("after_avg") - F.col("before_avg"), 6)
    return t.filter(
        (F.col("mb") == STEP_FRAME)
        & (F.col("ma") == STEP_FRAME)
        & (F.abs(step) >= STEP_THRESHOLD)
    ).select("path", "slot", "before_avg", "after_avg", step.alias("step"))
