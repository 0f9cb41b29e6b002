"""§2.2-adjacent TSDB analytics, batch 4 (EXT): seasonal-trend
decomposition, robust (MAD) anomaly detection, capacity-exhaustion
forecasting, and a seasonal-naive forecast with holdout error.

Contract discipline as in ``analytics2/3``: the shared 1h slot-average
series is rounded at 6 before anything else sees it, every derived stage
rounds before the next stage consumes it (chain rounding — the two
engines agree on each intermediate, so no ulp drift can compound), and
discrete decisions (anomaly flags, ceil of an ETA) are taken on already-
rounded values only.

Scale posture: every op is one shuffle on `path` (plus one bounded
hour-of-day re-shuffle in the STL seasonal step); all windows are
bounded ROWS frames or per-path aggregates with map-side combine.  The
MAD op's exact medians are per-path ``percentile``/``quantile_cont``
aggregates — at 100 TB you'd swap in t-digest sketches per path, which
is a one-line change because the median is already an aggregate, not a
sort."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import BUCKET, OBS_CTE, T_JAN10, T_JAN20
from esxsnmp_tsdb_spark.functions.exact import half_up_div_signed
from esxsnmp_tsdb_spark.operators.analytics2 import _SLOT_CTE, _slot_series
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.sources import flat_obs

STL_HALF = 12  # centered trend MA: 11 preceding + current + 12 following
MAD_K = 1.4826  # normal-consistency constant for MAD→σ
MAD_CUT = 3.0  # |x-med| > 3σ̂ = anomaly
CAP_THRESH = 120.0  # capacity forecast: slot-average "full" line
CAP_ETA_MAX = 999999  # ETA cap (hours) so near-zero slopes stay finite
T_JAN19 = T_JAN20 - 86400  # holdout day for the seasonal-naive forecast

@op(
    "ts_stl_decompose",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
tr AS (
  SELECT path, slot, x,
         round(avg(x) OVER (PARTITION BY path ORDER BY slot
                            ROWS BETWEEN {STL_HALF - 1} PRECEDING
                                     AND {STL_HALF} FOLLOWING), 6) AS trend
  FROM slotavg
),
se AS (
  SELECT path, slot, x, trend,
         round(avg(x - trend) OVER (
           PARTITION BY path, CAST((slot % 86400) // 3600 AS INTEGER)), 6) + 0
           AS seasonal
  FROM tr
)
SELECT path, slot, x, trend, seasonal,
       round(x - trend - seasonal, 6) + 0 AS resid
FROM se
""",
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition (moving-average STL): trend =
    centered 24h moving average of the 1h series; seasonal = mean
    detrended value per (series, hour-of-day); residual = the rest — the
    classic first look at any periodic telemetry series.

    Chain rounding: the trend is rounded before the seasonal step and the
    seasonal before the residual, so each stage's cross-engine agreement
    is exact by construction.  Plan: one shuffle on path for the trend
    frame, one on (path, hour-of-day) for the seasonal mean — the second
    key is a 24-way refinement of the first, and both aggregates are
    algebraic (map-side combined) at any scale."""
    s = _slot_series(spark, sf_dir)
    wt = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(-(STL_HALF - 1), STL_HALF)
    )
    tr = s.withColumn("trend", F.round(F.avg("x").over(wt), 6))
    hod = F.expr("CAST((slot % 86400) div 3600 AS INT)")
    ws = Window.partitionBy("path", hod)
    se = tr.withColumn(
        "seasonal",
        # + 0.0 normalizes IEEE negative zero (house rule — the driver
        # comparator is string-level)
        F.round(F.avg(F.col("x") - F.col("trend")).over(ws), 6) + 0.0,
    )
    return se.select(
        "path",
        "slot",
        "x",
        "trend",
        "seasonal",
        (F.round(F.col("x") - F.col("trend") - F.col("seasonal"), 6) + 0.0).alias(
            "resid"
        ),
    )


@op(
    "ts_anomaly_mad",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
med AS (
  SELECT path, round(quantile_cont(x, 0.5), 6) AS med FROM slotavg GROUP BY path
),
dev AS (
  SELECT s.path, s.slot, s.x, m.med,
         round(abs(s.x - m.med), 6) AS dev
  FROM slotavg s JOIN med m ON s.path = m.path
),
mad AS (
  SELECT path, round(quantile_cont(dev, 0.5), 6) AS mad FROM dev GROUP BY path
)
SELECT d.path, d.slot, d.x, d.med,
       round(d.dev / ({MAD_K} * m.mad), 6) AS score
FROM dev d JOIN mad m ON d.path = m.path
WHERE m.mad > 0 AND round(d.dev / ({MAD_K} * m.mad), 6) > {MAD_CUT}
""",
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: score = |x − median| / (1.4826·MAD) — the
    outlier test that, unlike z-scores (`ts_anomaly_zscore`), is not
    itself corrupted by the outliers it hunts.

    Two per-path exact medians (value, then absolute deviation), each an
    algebraic-style aggregate with a broadcast join back onto the rows;
    flags compare only rounded values.  Path cardinality is the series
    catalog (small vs the data), so both joins broadcast at any scale."""
    s = _slot_series(spark, sf_dir)
    med = s.groupBy("path").agg(
        F.round(F.expr("percentile(x, 0.5)"), 6).alias("med")
    )
    dev = (
        s.join(F.broadcast(med), "path")
        .withColumn("dev", F.round(F.abs(F.col("x") - F.col("med")), 6))
    )
    mad = dev.groupBy("path").agg(
        F.round(F.expr("percentile(dev, 0.5)"), 6).alias("mad")
    )
    score = F.round(F.col("dev") / (MAD_K * F.col("mad")), 6)
    return (
        dev.join(F.broadcast(mad), "path")
        .filter((F.col("mad") > 0) & (score > MAD_CUT))
        .select("path", "slot", "x", "med", score.alias("score"))
    )


@op(
    "ts_capacity_forecast",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
pts AS (
  SELECT path, CAST(round(x * 1000000) AS BIGINT) AS xm,
         (slot - {T_JAN10}) // 3600 AS t
  FROM slotavg
),
sums AS (
  SELECT path, count(*) AS n, sum(t) AS st, sum(t * t) AS st2,
         sum(xm) AS sx, sum(xm * t) AS sxt, max(t) AS t_last
  FROM pts GROUP BY path
),
fit AS (
  -- closed-form OLS as exact integers; den = 0 (single-point series)
  -- dropped here, regr_slope's NULL-filter semantics
  SELECT path,
         n * sxt - sx * st AS num,
         sx * st2 - st * sxt AS inum,
         n * st2 - st * st AS den,
         t_last
  FROM sums WHERE n * st2 - st * st > 0
),
q AS (
  -- rs = slope in 1e-6 units, ri = intercept in 1e-4 units: integer
  -- round-half-up (2n+d)//(2d), sign split so both engines' integer
  -- division only ever sees non-negative operands
  SELECT path,
         {half_up_div_signed('num', 'den', idiv='//')} AS rs,
         {half_up_div_signed('inum', '100 * den', idiv='//')} AS ri,
         t_last
  FROM fit
),
cur AS (
  -- current = intercept + slope*t_last, exactly: (100*ri + rs*t_last)
  -- is 1e-6 units; rc re-quantizes to the 1e-4 grid, still half-up
  SELECT path, rs,
         {half_up_div_signed('100 * ri + rs * t_last', 100, idiv='//')} AS rc
  FROM q WHERE rs > 0
)
SELECT path, rs / 1e6 AS slope, rc / 1e4 AS current,
       CAST(least(CASE WHEN rc / 1e4 >= {CAP_THRESH} THEN 0
                       ELSE ceil(({CAP_THRESH} - rc / 1e4)
                                 / (rs / 1e6)) END,
                  {CAP_ETA_MAX}) AS BIGINT) AS eta_hours
FROM cur
""",
)
def ts_capacity_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-exhaustion ETA: fit the per-series hourly OLS trend, then
    project hours until the slot average crosses the "full" threshold —
    the 'when does this link saturate' report, the projection layer over
    `ts_linear_trend`'s fit.

    The fit is closed-form OLS over EXACT integer power sums with
    half-up integer rounding — the ``(2n+d) div 2d`` micro-unit idiom
    `ts_utilization_report` established — not regr_* on doubles: x is
    already a 6-decimal slot average, so micro-scaling it (round(x·10⁶)
    → BIGINT) is lossless; Σt / Σt² / Σxm / Σxm·t are order-free integer
    sums; slope/intercept/current are integer-rounded onto their
    1e-6/1e-4 grids; and only the final tie-free /1e6 and /1e4 touch a
    double.  Two prior formulations diverged at sf0.1 (r9 cross-scale
    parity run): regr_* summed doubles in engine order (6/3396
    last-digit flips), and double-quotient round(...,6) hit the engines'
    different tie rules — Spark rounds the shortest decimal repr
    HALF_UP, DuckDB rounds the true binary value — on the exact-decimal
    quotients exact sums produce (4/3396).  Integer magnitudes are
    corpus-size-independent (xm is a slot AVERAGE, t is bounded by the
    fixed 240 h window), so the int64 products never outgrow the window.
    One partial-aggregated shuffle on path — the five sums combine
    map-side exactly like sum/count at 100 TB."""
    s = _slot_series(spark, sf_dir)
    pts = s.select(
        "path",
        F.expr("CAST(round(x * 1000000) AS BIGINT)").alias("xm"),
        F.expr(f"(slot - {T_JAN10}) div 3600").alias("t"),
    )
    # Sums held as decimal (DuckDB's sum(BIGINT) is already HUGEINT):
    # the intercept numerator sx*st2 - st*sxt reaches ~1.8e18 at the
    # fixture's observed magnitudes — only ~5x int64 headroom, and Spark
    # bigint would WRAP silently on a hotter fixture while DuckDB
    # promotes.  decimal(30,0) sums / decimal(38,0) products
    # hold every term with ~1e20 headroom; values are unchanged.
    dec = "decimal(20,0)"
    sums = pts.groupBy("path").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("t").cast(dec)).alias("st"),
        F.sum((F.col("t") * F.col("t")).cast(dec)).alias("st2"),
        F.sum(F.col("xm").cast(dec)).alias("sx"),
        F.sum((F.col("xm") * F.col("t")).cast(dec)).alias("sxt"),
        F.max("t").alias("t_last"),
    )
    fit = sums.select(
        "path",
        F.expr("n * sxt - sx * st").alias("num"),
        F.expr("sx * st2 - st * sxt").alias("inum"),
        F.expr("n * st2 - st * st").alias("den"),
        "t_last",
    ).filter(F.col("den") > 0)
    q = fit.select(
        "path",
        F.expr(half_up_div_signed("num", "den")).alias("rs"),
        F.expr(half_up_div_signed("inum", "100 * den")).alias("ri"),
        "t_last",
    )
    cur = q.filter(F.col("rs") > 0).select(
        "path",
        "rs",
        F.expr(
            half_up_div_signed("100 * ri + rs * t_last", 100)
        ).alias("rc"),
    )
    slope = F.expr("rs / 1e6")
    current = F.expr("rc / 1e4")
    eta = F.when(current >= CAP_THRESH, F.lit(0.0)).otherwise(
        F.ceil((F.lit(CAP_THRESH) - current) / slope)
    )
    return cur.select(
        "path",
        slope.alias("slope"),
        current.alias("current"),
        F.least(eta.cast("bigint"), F.lit(CAP_ETA_MAX)).alias("eta_hours"),
    )


@op(
    "ts_forecast_seasonal_naive",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
test AS (SELECT * FROM slotavg WHERE slot >= {T_JAN19}),
fc AS (
  SELECT t.path, t.slot, t.x, b.x AS xf
  FROM test t JOIN slotavg b
    ON b.path = t.path AND b.slot = t.slot - 86400
)
SELECT path, count(*) AS n_test,
       round(avg(abs(x - xf)), 6) AS mae,
       round(avg(x - xf), 6) AS bias
FROM fc GROUP BY path
""",
)
def ts_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluated on a holdout day: predict each
    final-day 1h slot with the value 24h earlier, then report per-series
    MAE and bias — the baseline every fancier forecaster must beat.

    The forecast is an equi-join on (path, slot−86400): both sides hash
    the same path key, so the join rides the slot series' existing
    partitioning; gaps in either day simply drop out (inner join), which
    is the correct scoring rule for a forecast with no value to compare."""
    s = _slot_series(spark, sf_dir)
    test = s.filter(F.col("slot") >= T_JAN19)
    base = s.select(
        "path", (F.col("slot") + 86400).alias("slot"), F.col("x").alias("xf")
    )
    fc = test.join(base, ["path", "slot"])
    return fc.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.avg(F.abs(F.col("x") - F.col("xf"))), 6).alias("mae"),
        F.round(F.avg(F.col("x") - F.col("xf")), 6).alias("bias"),
    )


@op(
    "ts_rollup_multi_granularity",
    oracle=f"""
WITH {OBS_CTE},
base AS (
  SELECT CAST(to_timestamp(tse - tse % 86400) AS DATE) AS day,
         (tse % 86400) // 3600 AS hour, value
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
),
g AS (
  SELECT day, hour, GROUPING(day) * 2 + GROUPING(hour) AS lvl,
         count(*) AS n, round(avg(value), 6) AS avg_value
  FROM base GROUP BY ROLLUP(day, hour)
)
SELECT coalesce(CAST(day AS VARCHAR), 'ALL') AS day,
       coalesce(CAST(hour AS VARCHAR), 'ALL') AS hour,
       CAST(lvl AS INT) AS lvl, n, avg_value
FROM g
""",
)
def ts_rollup_multi_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, three granularities: per (day, hour), per day, and grand
    total via ROLLUP — the 'overview dashboard' query that would
    otherwise run three aggregations over the same 100 TB scan.

    Spark expands the rollup in a single Expand+Aggregate (one shuffle,
    map-side combined for all three levels at once); the NULL-vs-'ALL'
    encoding and the grouping-id level tag are normalized identically on
    both engines so the level rows hash the same."""
    base = (
        flat_obs(spark, sf_dir)
        .filter((F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20))
        .select(
            F.to_date(
                F.timestamp_seconds(F.col("tse") - F.col("tse") % 86400)
            ).alias("day"),
            F.expr("(tse % 86400) div 3600").alias("hour"),
            "value",
        )
    )
    g = base.rollup("day", "hour").agg(
        (F.grouping("day") * 2 + F.grouping("hour")).cast("int").alias("lvl"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    return g.select(
        F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
        F.coalesce(F.col("hour").cast("string"), F.lit("ALL")).alias("hour"),
        "lvl",
        "n",
        "avg_value",
    )


# Declarative alert rule table: (rule_id, event_type, kind, threshold).
# kind: avg_gt / avg_lt fire on the slot average, n_lt on the sample count.
ALERT_RULES = (
    (1, "purchase", "avg_gt", 60.0),
    (2, "click", "avg_lt", 35.0),
    (3, "error", "avg_gt", 55.0),
    (4, "view", "n_lt", 3.0),
)

_RULES_SQL = ", ".join(
    f"({rid}, '{et}', '{kind}', {th})" for rid, et, kind, th in ALERT_RULES
)


@op(
    "ts_alert_rules_eval",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
slotn AS (
  SELECT path, tse - tse % {BUCKET} AS slot, count(*) AS n
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
  GROUP BY 1, 2
),
s AS (
  SELECT a.path, a.slot, a.x, n.n, split_part(a.path, '/', 2) AS event_type
  FROM slotavg a JOIN slotn n ON a.path = n.path AND a.slot = n.slot
),
rules(rule_id, event_type, kind, thresh) AS (VALUES {_RULES_SQL})
SELECT r.rule_id, s.path, s.slot,
       CASE WHEN r.kind = 'n_lt' THEN CAST(s.n AS DOUBLE) ELSE s.x END
         AS metric
FROM s JOIN rules r ON s.event_type = r.event_type
WHERE (r.kind = 'avg_gt' AND s.x > r.thresh)
   OR (r.kind = 'avg_lt' AND s.x < r.thresh)
   OR (r.kind = 'n_lt' AND s.n < r.thresh)
""",
)
def ts_alert_rules_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative alerting: a RULE TABLE (per event type: slot-average
    above/below a threshold, or sample count below a floor) joined
    against the consolidated slot series; every breach becomes an alert
    row — the monitoring pattern where operators add rules as data, not
    as code.

    The rule table broadcasts (it is configuration, not data) and the
    evaluation is one join + filter over the already-consolidated
    slots; thresholds compare against chain-rounded slot averages, so
    breach decisions are identical cross-engine.  At 100 TB the rule
    join rides the ladder's (path, slot) layout and adds no shuffle."""
    obs = flat_obs(spark, sf_dir).filter(
        (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20)
    )
    s = (
        obs.groupBy("path", tsdb.slot_of(F.col("tse"), BUCKET).alias("slot"))
        .agg(
            F.round(F.avg("value"), 6).alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("event_type", F.split("path", "/").getItem(1))
    )
    rules = local_frame(
        spark,
        list(ALERT_RULES),
        "rule_id int, event_type string, kind string, thresh double",
    )
    j = s.join(F.broadcast(rules), "event_type")
    breach = (
        ((F.col("kind") == "avg_gt") & (F.col("x") > F.col("thresh")))
        | ((F.col("kind") == "avg_lt") & (F.col("x") < F.col("thresh")))
        | ((F.col("kind") == "n_lt") & (F.col("n") < F.col("thresh")))
    )
    metric = F.when(
        F.col("kind") == "n_lt", F.col("n").cast("double")
    ).otherwise(F.col("x"))
    return j.filter(breach).select("rule_id", "path", "slot", metric.alias("metric"))


ROLL_FRAME = 23  # rolling median: trailing 24 slots


@op(
    "ts_rolling_median",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE}
SELECT path, slot, x,
       round(quantile_cont(x, 0.5) OVER (
         PARTITION BY path ORDER BY slot
         ROWS BETWEEN {ROLL_FRAME} PRECEDING AND CURRENT ROW), 6) AS roll_med
FROM slotavg
""",
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h rolling MEDIAN per series — the robust smoother that
    shrugs off the spikes a rolling mean chases (the despiking pass
    before rate-of-change alerting).

    ``percentile`` is an exact aggregate evaluated over a bounded ROWS
    frame: state per row is the ≤24-slot frame, never the series, and
    the frame slides inside the one per-path partition — same shuffle
    count as every other windowed consolidation.  Inputs are the
    chain-rounded slot averages, so the interpolated median is computed
    from identical doubles on both engines and rounds identically."""
    s = _slot_series(spark, sf_dir)
    w = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(-ROLL_FRAME, Window.currentRow)
    )
    return s.select(
        "path",
        "slot",
        "x",
        F.round(F.expr("percentile(x, 0.5)").over(w), 6).alias("roll_med"),
    )


FLEET_CUT = 2.5  # |cross-sectional z| above this = fleet outlier


@op(
    "ts_fleet_zscore",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
fleet AS (
  SELECT slot,
         round(avg(x), 6) AS fleet_avg,
         round(stddev_samp(x), 6) AS fleet_sd,
         count(*) AS n_series
  FROM slotavg GROUP BY slot
)
SELECT s.path, s.slot, s.x, f.fleet_avg,
       round((s.x - f.fleet_avg) / f.fleet_sd, 6) AS z
FROM slotavg s JOIN fleet f ON s.slot = f.slot
WHERE f.n_series >= 10 AND f.fleet_sd > 0
  AND abs(round((s.x - f.fleet_avg) / f.fleet_sd, 6)) > {FLEET_CUT}
""",
)
def ts_fleet_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional anomaly: which series deviates from the FLEET at
    each instant (vs `ts_anomaly_zscore`/`ts_anomaly_mad`, which compare
    a series to its own history) — the 'one link is behaving unlike its
    peers right now' detector that catches correlated-load-following
    fleets where per-series history looks normal.

    One groupBy per slot for the fleet statistics (map-side combined),
    broadcast back onto the slot rows (the per-slot stats table is
    slots-sized, tiny next to the data); flags compare chain-rounded
    z-scores only."""
    s = _slot_series(spark, sf_dir)
    fleet = s.groupBy("slot").agg(
        F.round(F.avg("x"), 6).alias("fleet_avg"),
        F.round(F.stddev_samp("x"), 6).alias("fleet_sd"),
        F.count(F.lit(1)).alias("n_series"),
    )
    z = F.round((F.col("x") - F.col("fleet_avg")) / F.col("fleet_sd"), 6)
    return (
        s.join(F.broadcast(fleet), "slot")
        .filter(
            (F.col("n_series") >= 10)
            & (F.col("fleet_sd") > 0)
            & (F.abs(z) > FLEET_CUT)
        )
        .select("path", "slot", "x", "fleet_avg", z.alias("z"))
    )


VALUE_BIN = 25.0  # equi-width value histogram bin


@op(
    "ts_value_histogram",
    oracle=f"""
WITH {OBS_CTE},
b AS (
  SELECT split_part(path, '/', 2) AS event_type,
         CAST(floor(value / {VALUE_BIN}) AS BIGINT) AS bucket
  FROM obs
),
h AS (SELECT event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2)
SELECT event_type, bucket,
       round(bucket * {VALUE_BIN}, 2) AS lo,
       round((bucket + 1) * {VALUE_BIN}, 2) AS hi, n,
       CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_n
FROM h
""",
)
def ts_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value distribution per event type: equi-width buckets + per-type
    CDF — the distribution view behind threshold picking (alert rules,
    billing tiers) on the observation values themselves.

    Bucketing is a map-side floor; the histogram is one tiny aggregate;
    the cumulative window runs per event type over the bounded bucket
    set (~20 rows each), never the observations — the same
    CDF-without-sorting-the-corpus shape as `doc_length_histogram`, here
    with a natural partition key instead of the bounded_running
    single-partition guard."""
    obs = flat_obs(spark, sf_dir)
    b = obs.select(
        F.split("path", "/").getItem(1).alias("event_type"),
        F.floor(F.col("value") / VALUE_BIN).cast("bigint").alias("bucket"),
    )
    h = b.groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return h.select(
        "event_type",
        "bucket",
        F.round(F.col("bucket") * VALUE_BIN, 2).alias("lo"),
        F.round((F.col("bucket") + 1) * VALUE_BIN, 2).alias("hi"),
        "n",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
    )
