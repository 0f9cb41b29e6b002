"""§2.2-adjacent TSDB analytics (EXT): the reports a network-monitoring
user of the reference actually runs on top of the aggregate ladder —
top-talkers, 95th-percentile billing, linear gap-fill, and rolling
z-score anomaly detection.

These compose the §2.1/§2.2 primitives (obs mapping, synthetic counter,
slot math from ``_shared``/``functions.tsdb``) rather than re-deriving
them; each op's oracle builds on the same OBS/CNT CTE twins.

Determinism: counter math in BIGINT; every reported float rounded; the
anomaly flag compares the ROUNDED z-score so both engines make the same
discrete in/out decision; percentile inputs are cast to DOUBLE on the
oracle side (DuckDB's DECIMAL quantile path truncates differently).

Scale posture: every op here is one shuffle on `path` (window or
group-by) over data that at 100 TB is served from the 5-minute aggregate
level, not raw — the ladder makes these reports cheap by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.functions.topk import ranked_topk
from esxsnmp_tsdb_spark.operators._shared import (
    CNT_CTE,
    HEARTBEAT,
    OBS_CTE,
    STEP,
    SYNTH_WRAP,
    T_JAN01,
    T_JAN10,
    T_JAN11,
)
from esxsnmp_tsdb_spark.functions.exact import half_up_div_signed
from esxsnmp_tsdb_spark.operators.aggregator import _counter
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import load_obs, obs_range

TOP_N = 10
Z_WIN = 12  # rolling samples for the anomaly baseline
Z_THRESH = 3.0


@op(
    "ts_top_talkers",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
wrapped AS (SELECT path, tse, event_id, counter % {SYNTH_WRAP} AS cw FROM cnt),
d AS (
  SELECT path, cw - lag(cw) OVER w AS delta
  FROM wrapped
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
vol AS (
  SELECT path,
         CAST(sum(CASE WHEN delta < 0 THEN delta + {SYNTH_WRAP} ELSE delta END)
              AS BIGINT) AS volume
  FROM d WHERE delta IS NOT NULL GROUP BY path
)
SELECT path, volume, rank FROM (
  SELECT *, row_number() OVER (ORDER BY volume DESC, path) AS rank FROM vol
) WHERE rank <= {TOP_N}
""",
)
def ts_top_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical SNMP report: total wrap-corrected counter movement
    per series, top-{TOP_N} by volume.  One shuffle on path for the lag
    window, a partial-aggregated sum, then a TakeOrderedAndProject top-k
    (per-partition heaps, no global window) — the ladder's delta level
    serves this without touching raw at 100 TB."""
    cnt = _counter(load_obs(spark, sf_dir)).withColumn(
        "counter", F.col("counter") % SYNTH_WRAP
    )
    d = tsdb.deltas(cnt, "counter")
    vol = (
        d.filter(F.col("delta").isNotNull())
        .withColumn("wd", tsdb.wrap_correct(F.col("delta"), SYNTH_WRAP))
        .groupBy("path")
        .agg(F.sum("wd").cast("bigint").alias("volume"))
    )
    return ranked_topk(
        vol, TOP_N, [F.col("volume").desc(), F.col("path")]
    ).select("path", "volume", "rank")


@op(
    "ts_billing_p95",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
wrapped AS (SELECT path, tse, event_id, counter % {SYNTH_WRAP} AS cw FROM cnt),
d AS (
  SELECT path, tse, cw - lag(cw) OVER w AS delta
  FROM wrapped
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
slot_rate AS (
  SELECT path, tse - tse % {STEP} AS slot,
         CAST(sum(CASE WHEN delta < 0 THEN delta + {SYNTH_WRAP} ELSE delta END)
              AS DOUBLE) / {STEP} AS rate
  FROM d WHERE delta IS NOT NULL GROUP BY 1, 2
)
SELECT path, round(quantile_cont(rate, 0.95), 4) AS p95_rate,
       count(*) AS n_slots
FROM slot_rate GROUP BY path
""",
)
def ts_billing_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstable-billing 95th percentile: 5-minute wrap-corrected counter
    deltas → per-slot rates → exact p95 per series (the number ISPs bill
    on; the reference's 5-min base step † exists for exactly this).

    Exact linear-interpolation percentile on both engines (Spark
    `percentile` ≡ DuckDB `quantile_cont` on DOUBLE, verified
    bit-identical); per-series slot counts stay small (288/day), so the
    exact sort-based percentile is safe even at 100 TB — the heavy lift
    happened in the slot aggregation."""
    cnt = _counter(load_obs(spark, sf_dir)).withColumn(
        "counter", F.col("counter") % SYNTH_WRAP
    )
    d = tsdb.deltas(cnt, "counter")
    slot_rate = (
        d.filter(F.col("delta").isNotNull())
        .withColumn("wd", tsdb.wrap_correct(F.col("delta"), SYNTH_WRAP))
        .groupBy("path", tsdb.slot_of(F.col("tse"), STEP).alias("slot"))
        .agg((F.sum("wd").cast("double") / STEP).alias("rate"))
    )
    return slot_rate.groupBy("path").agg(
        F.round(F.expr("percentile(rate, 0.95)"), 4).alias("p95_rate"),
        F.count(F.lit(1)).alias("n_slots"),
    )


@op(
    "ts_interpolate",
    oracle=f"""
WITH {OBS_CTE},
slots AS (
  SELECT path, CAST(unnest(generate_series({T_JAN10}, {T_JAN11} - {STEP},
                                           {STEP})) AS BIGINT) AS slot
  FROM (SELECT DISTINCT path FROM obs)
),
observed AS (
  SELECT path, tse - tse % {STEP} AS slot, round(avg(value), 6) AS v
  FROM obs WHERE (flags & 1) != 0 AND tse >= {T_JAN10} AND tse < {T_JAN11}
  GROUP BY 1, 2
),
grid AS (
  SELECT s.path, s.slot, o.v FROM slots s
  LEFT JOIN observed o ON s.path = o.path AND s.slot = o.slot
),
ctx AS (
  SELECT path, slot, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
           OVER wp AS pt,
         first_value(v IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
           OVER wf AS nt
  FROM grid
  WINDOW wp AS (PARTITION BY path ORDER BY slot
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wf AS (PARTITION BY path ORDER BY slot
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT path, slot,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            -- floor-quantize, not round(): interpolation at ratio 1/2 makes
            -- exact .5 decimal ties where the engines' round() disagree
            THEN floor((pv + (nv - pv) * (slot - pt) / (nt - pt))
                       * 1000000.0 + 0.5) / 1000000.0
       END AS value,
       CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS filled
FROM ctx
""",
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill over the dense slot grid (one day, {STEP}s slots):
    empty slots get the time-weighted line between the neighboring valid
    readings; leading/trailing gaps stay NULL (the reference never
    extrapolates †, and `ts_heartbeat_invalidate` is the op that refuses
    to bridge outages — this one is the chart-friendly fill).

    Spark twin of the oracle's IGNORE NULLS windows: `last`/`first` with
    ignorenulls=True over the same frames.  The spine join broadcasts the
    slot sequence; both windows ride the single shuffle on path."""
    obs = load_obs(spark, sf_dir)
    paths = obs.select("path").distinct()
    slots = paths.select(
        "path",
        F.explode(
            F.sequence(
                F.lit(T_JAN10).cast("bigint"),
                F.lit(T_JAN11 - STEP).cast("bigint"),
                F.lit(STEP).cast("bigint"),
            )
        ).alias("slot"),
    )
    # The day-window side re-reads events with the range pushed to the
    # parquet scan (row-group skipping); the path universe above must stay
    # the full table (paths silent that day still get a NULL-filled spine).
    day_obs = obs_range(spark, sf_dir, T_JAN10, T_JAN11)
    observed = (
        tsdb.valid_only(day_obs)
        .filter((F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN11))
        .groupBy("path", tsdb.slot_of(F.col("tse"), STEP).alias("slot"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    grid = slots.join(observed, ["path", "slot"], "left")
    # Both context windows are RUNNING frames (unbounded-preceding → -1):
    # the "next valid" side uses a descending sort instead of an
    # UNBOUNDED FOLLOWING frame, which Spark's WindowExec evaluates
    # O(partition²) — at 288 slots/day/path that's 80k evaluations per
    # path-day; the reversed running frame is O(n) (17s → ~3s at sf0.1).
    wp = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("path")
        .orderBy(F.col("slot").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    slot_if_v = F.when(F.col("v").isNotNull(), F.col("slot"))
    ctx = grid.select(
        "path",
        "slot",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(slot_if_v, ignorenulls=True).over(wp).alias("pt"),
        F.last("v", ignorenulls=True).over(wf).alias("nv"),
        F.last(slot_if_v, ignorenulls=True).over(wf).alias("nt"),
    )
    # floor-quantize (not round): midpoint interpolations land on exact .5
    # decimal ties where Spark's and DuckDB's round() disagree by 1 ulp.
    interp = (
        F.floor(
            (
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (F.col("slot") - F.col("pt"))
                / (F.col("nt") - F.col("pt"))
            )
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    )
    return ctx.select(
        "path",
        "slot",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("value"),
        F.when(F.col("v").isNotNull(), 0).otherwise(1).cast("int").alias("filled"),
    )


@op(
    "ts_anomaly_zscore",
    oracle=f"""
WITH {OBS_CTE},
stats AS (
  SELECT path, tse, event_id, value,
         avg(value) OVER w AS mu,
         avg(value * value) OVER w AS m2,
         count(*) OVER w AS n
  FROM obs
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id
               ROWS BETWEEN {Z_WIN} PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT path, tse, value,
         round((value - mu) / sqrt(greatest(m2 - mu * mu, 1e-12)), 4) AS z
  FROM stats
  WHERE n = {Z_WIN} AND m2 - mu * mu > 1e-12
)
SELECT path, tse, value, z FROM scored WHERE abs(z) > {Z_THRESH}
""",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each reading scored against the
    mean/std of its own trailing {Z_WIN} samples (population moments via
    the explicit E[x²]−E[x]² formula so both engines fold the identical
    frame in the identical order); |z| > {Z_THRESH} flags the row.

    The in/out decision compares the ROUNDED z on both sides — the only
    way a float boundary can't flip the row set between engines.  One
    window shuffle on path; map-only after."""
    obs = load_obs(spark, sf_dir)
    w = (
        Window.partitionBy("path")
        .orderBy("tse", "event_id")
        .rowsBetween(-Z_WIN, -1)
    )
    stats = obs.select(
        "path",
        "tse",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.avg(F.col("value") * F.col("value")).over(w).alias("m2"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    var = F.col("m2") - F.col("mu") * F.col("mu")
    scored = stats.filter(
        (F.col("n") == Z_WIN) & (var > 1e-12)
    ).select(
        "path",
        "tse",
        "value",
        F.round(
            (F.col("value") - F.col("mu")) / F.sqrt(F.greatest(var, F.lit(1e-12))),
            4,
        ).alias("z"),
    )
    return scored.filter(F.abs(F.col("z")) > Z_THRESH)


@op(
    "ts_seasonal_baseline",
    oracle=f"""
WITH {OBS_CTE}
SELECT path,
       CASE WHEN ((tse // 86400) + 4) % 7 IN (0, 6) THEN 'weekend'
            ELSE 'weekday' END AS day_type,
       (tse % 86400) // 3600 AS hod,
       round(avg(value), 6) AS baseline, count(*) AS n
FROM obs GROUP BY 1, 2, 3
""",
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal traffic profile: mean value per (series, weekday/weekend,
    hour-of-day) — the baseline network operators diff live traffic
    against ("is 3am Sunday unusually busy?").  Day-of-week and
    hour-of-day are pure integer epoch arithmetic (1970-01-01 was a
    Thursday ⇒ dow = (epoch_day + 4) mod 7), so both engines bucket
    identically with no calendar/timezone functions involved.  One
    group-by shuffle; 48 output rows per series regardless of input
    size — the profile table broadcasts for the live-diff join."""
    obs = load_obs(spark, sf_dir)
    dow = (F.floor(F.col("tse") / 86400) + 4) % 7
    return (
        obs.groupBy(
            "path",
            F.when(dow.isin(0, 6), "weekend").otherwise("weekday").alias("day_type"),
            F.floor((F.col("tse") % 86400) / 3600).alias("hod"),
        )
        .agg(
            F.round(F.avg("value"), 6).alias("baseline"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@op(
    "ts_gap_report",
    oracle=f"""
WITH {OBS_CTE},
gaps AS (
  SELECT path,
         tse - lag(tse) OVER (PARTITION BY path ORDER BY tse, event_id)
           AS gap
  FROM obs
)
SELECT path, count(*) AS n_intervals,
       CAST(sum(CASE WHEN gap > {HEARTBEAT} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_heartbeat_gaps,
       max(gap) AS max_gap,
       round(avg(gap), 6) AS avg_gap
FROM gaps WHERE gap IS NOT NULL
GROUP BY path
""",
)
def ts_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series sampling-health report: inter-sample gaps via lag(),
    flagged against the HEARTBEAT bound the Aggregator uses to invalidate
    rates — the operational "which series have holes" query behind the
    reference's heartbeat semantics.

    One shuffle on `path` (lag window + group-by share the partitioning);
    gaps are BIGINT second deltas with (tse, event_id) ordering so both
    engines difference the identical sequence."""
    obs = load_obs(spark, sf_dir)
    w = Window.partitionBy("path").orderBy("tse", "event_id")
    gaps = obs.select(
        "path", (F.col("tse") - F.lag("tse").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return gaps.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum((F.col("gap") > HEARTBEAT).cast("int"))
        .cast("bigint")
        .alias("n_heartbeat_gaps"),
        F.max("gap").alias("max_gap"),
        F.round(F.avg("gap"), 6).alias("avg_gap"),
    )


@op(
    "ts_rolling_1h",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse, event_id,
       round(sum(value) OVER w, 6) AS roll_sum,
       round(avg(value) OVER w, 6) AS roll_avg,
       count(*) OVER w AS roll_n
FROM obs
WINDOW w AS (PARTITION BY path ORDER BY tse
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
""",
)
def ts_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling window (RANGE frame): per-series trailing-hour
    sum/avg/count at every sample — the "current hour so far" ticker a
    monitoring dashboard polls.

    The RANGE frame is defined on the VALUE of tse, not row position, so
    irregular sampling and same-second peers are handled identically on
    both engines (peers share one frame, hence one result).  One shuffle
    on path; the frame advances with two pointers over the sorted
    partition — O(n), no per-row rescan."""
    obs = load_obs(spark, sf_dir)
    w = (
        Window.partitionBy("path")
        .orderBy("tse")
        .rangeBetween(-3599, Window.currentRow)
    )
    return obs.select(
        "path",
        "tse",
        "event_id",
        F.round(F.sum("value").over(w), 6).alias("roll_sum"),
        F.round(F.avg("value").over(w), 6).alias("roll_avg"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


@op(
    "ts_linear_trend",
    oracle=f"""
WITH {OBS_CTE},
pts AS (
  SELECT path, CAST(round(value * 100) AS BIGINT) AS vm,
         tse - {T_JAN01} AS t
  FROM obs
),
sums AS (
  SELECT path, count(*) AS n, sum(t) AS st, sum(t * t) AS st2,
         sum(vm) AS sv, sum(vm * t) AS svt, sum(vm * vm) AS svv
  FROM pts GROUP BY path
),
fit AS (
  SELECT path, n,
         n * svt - sv * st AS num,
         sv * st2 - st * svt AS inum,
         n * st2 - st * st AS den,
         n * svv - sv * sv AS deny
  FROM sums
)
SELECT path,
       CASE WHEN den > 0 THEN
         ({half_up_div_signed('num', '100 * den', mul=1_000_000, idiv='//')}) / 1e6
       END AS slope,
       CASE WHEN den > 0 THEN
         ({half_up_div_signed('inum', '100 * den', mul=10_000, idiv='//')}) / 1e4
       END AS intercept,
       CASE WHEN den > 0 AND deny > 0 THEN
         CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                    / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))
                    * 10000 + 0.5) AS BIGINT) / 1e4
       END AS r2,
       n
FROM fit
""",
)
def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend line (slope / intercept / R²) — the capacity-
    planning primitive ("when does this link saturate"), the fit layer
    under `ts_capacity_forecast`'s projection.

    Closed-form OLS over EXACT integer power sums — the idiom
    `ts_capacity_forecast` relies on — not regr_* on doubles, whose
    engine-order double summation flipped last digits at sf0.1 there.
    value is a 2-decimal gauge, so vm = round(value·100) → BIGINT is
    lossless; the time axis is centered on the fixture epoch start so
    intercepts stay in value range.  Σt/Σt²/Σvm/Σvm·t/Σvm² are order-free
    integer sums, held as Decimal(38,0) on the Spark side (DuckDB's
    sum(BIGINT) is already HUGEINT) because the cross products reach
    ~7e22 at the 1e4 intercept grid — far past int64, where Spark would
    wrap silently while DuckDB promotes.  Slope/intercept are integer-rounded
    half-up onto their 1e-6/1e-4 grids via the sign-split (2n+d) div 2d
    idiom (the vm 100× scale folds into the divisor); r² = num²/(den·deny)
    would need ~1e41 exactly, so its exact sums are cast to DOUBLE first —
    one IEEE expression tree over identical integers is deterministic on
    both engines, unlike order-dependent summation — and floor(x·1e4+0.5)
    grid-snaps it without touching either engine's round() tie rules
    (Spark rounds the shortest-decimal repr, DuckDB the true binary).
    den=0 (constant time axis) → NULL fit; deny=0 (constant series) → NULL
    r².  One partial-aggregated shuffle on path; the six sums combine
    map-side exactly like sum/count at 100 TB."""
    obs = load_obs(spark, sf_dir)
    pts = obs.select(
        "path",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("vm"),
        (F.col("tse") - T_JAN01).alias("t"),
    )
    dec = "decimal(20,0)"
    sums = pts.groupBy("path").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("t").cast(dec)).alias("st"),
        F.sum((F.col("t") * F.col("t")).cast(dec)).alias("st2"),
        F.sum(F.col("vm").cast(dec)).alias("sv"),
        F.sum((F.col("vm") * F.col("t")).cast(dec)).alias("svt"),
        F.sum((F.col("vm") * F.col("vm")).cast(dec)).alias("svv"),
    )
    fit = sums.select(
        "path",
        "n",
        F.expr("n * svt - sv * st").alias("num"),
        F.expr("sv * st2 - st * svt").alias("inum"),
        F.expr("n * st2 - st * st").alias("den"),
        F.expr("n * svv - sv * sv").alias("deny"),
    )
    return fit.select(
        "path",
        F.expr(
            "CASE WHEN den > 0 THEN"
            f" ({half_up_div_signed('num', '100 * den', mul=1_000_000)}) / 1e6"
            " END"
        ).alias("slope"),
        F.expr(
            "CASE WHEN den > 0 THEN"
            f" ({half_up_div_signed('inum', '100 * den', mul=10_000)}) / 1e4"
            " END"
        ).alias("intercept"),
        F.expr(
            "CASE WHEN den > 0 AND deny > 0 THEN"
            " CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)"
            "            / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))"
            "            * 10000 + 0.5) AS BIGINT) / 1e4"
            " END"
        ).alias("r2"),
        "n",
    )
