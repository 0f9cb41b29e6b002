"""§2.2/§2.3 analytics surface, batch 6 (EXT): the SRE reporting pack —
availability, error-budget burn, hourly autocorrelation, and percentile
bands.

House determinism rules throughout: counts and presence sets are exact
integers; every ratio is either integer micro-units via the half-up
``(2a + b) div (2b)`` trick or a double derived from exact integer sums
with the identical expression on both engines; percentiles are the
established Spark ``percentile`` ≡ DuckDB ``quantile_cont`` on DOUBLE
parity (see ``aggregator.ts_downsample_percentile``).

Scale posture: every op is scan → one keyed aggregate (→ one bounded
self-join for the lag pairing); group keys are (path, day) or
(event_type, day/hour) — bounded by catalog × calendar, never by event
volume.  No windows wider than a partition, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._shared import OBS_CTE
from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs

HOURS_PER_DAY = 24
BAD_CENTS = 20_000  # sample counts against the error budget above this
ALLOW_PPM = 10_000  # SLO allowance: 1% of samples may be bad


@op(
    "ts_availability_report",
    oracle=f"""
WITH {OBS_CTE},
pres AS (
  SELECT path, tse // 86400 AS day, tse // 3600 AS hr
  FROM obs WHERE flags = 1 GROUP BY 1, 2, 3
)
SELECT path, day, count(*) AS hours_present,
       CAST({half_up_div('count(*)', HOURS_PER_DAY, mul=1_000_000, idiv='//')}
            AS BIGINT) AS availability_micro
FROM pres GROUP BY path, day
""",
)
def ts_availability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series daily availability: the fraction of the day's hours with
    at least one VALID sample (flags=1) — the uptime column of every SLA
    dashboard, and the reference's heartbeat/validity rules turned into a
    coverage metric.

    Presence is a distinct-(path, day, hour) set (exact, order-free), so
    the whole op is two hash aggregates on keys bounded by
    catalog × calendar.  Availability is exact integer micro-units via
    half-up division — no float ratio to drift cross-engine."""
    obs = flat_obs(spark, sf_dir)
    pres = (
        obs.filter(F.col("flags") == 1)
        .select(
            "path",
            F.expr("tse div 86400").alias("day"),
            F.expr("tse div 3600").alias("hr"),
        )
        .distinct()
    )
    return pres.groupBy("path", "day").agg(
        F.count(F.lit(1)).alias("hours_present"),
        F.expr(
            f"CAST({half_up_div('count(1)', HOURS_PER_DAY, mul=1_000_000)}"
            " AS BIGINT)"
        ).alias("availability_micro"),
    )


@op(
    "ts_error_budget_burn",
    oracle=f"""
WITH {OBS_CTE},
c AS (
  SELECT split_part(path, '/', 2) AS event_type,
         tse // 86400 AS day,
         CASE WHEN CAST(floor(value * 100) AS BIGINT) > {BAD_CENTS}
              THEN 1 ELSE 0 END AS bad
  FROM obs
)
SELECT event_type, day,
       count(*) AS n,
       CAST(sum(bad) AS BIGINT) AS n_bad,
       CAST({half_up_div('sum(bad)', 'count(*)', mul=1_000_000, idiv='//')}
            AS BIGINT) AS error_ppm,
       CAST({half_up_div('sum(bad)', f'count(*) * {ALLOW_PPM}', mul=1_000_000 * 1_000_000, idiv='//')}
            AS BIGINT) AS burn_micro
FROM c GROUP BY event_type, day
""",
)
def ts_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate per (class, day): a sample is an SLI
    violation when its magnitude exceeds {BAD_CENTS} cents; the burn is
    the day's violation rate over the {ALLOW_PPM} ppm allowance —
    burn_micro = 1 000 000 means the class consumed exactly its daily
    budget (the SRE burn-rate alert in its multiwindow form is this op
    at two grains).

    One scan, one hash aggregate; both ratios are half-up exact-integer
    micro-units, so a budget boundary can never flip on float rounding."""
    obs = flat_obs(spark, sf_dir)
    c = obs.select(
        F.split("path", "/").getItem(1).alias("event_type"),
        F.expr("tse div 86400").alias("day"),
        (F.floor(F.col("value") * 100).cast("bigint") > BAD_CENTS)
        .cast("bigint")
        .alias("bad"),
    )
    return c.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bad").cast("bigint").alias("n_bad"),
        F.expr(
            f"CAST({half_up_div('sum(bad)', 'count(1)', mul=1_000_000)}"
            " AS BIGINT)"
        ).alias("error_ppm"),
        F.expr(
            f"CAST({half_up_div('sum(bad)', f'count(1) * {ALLOW_PPM}', mul=1_000_000 * 1_000_000)}"
            " AS BIGINT)"
        ).alias("burn_micro"),
    )


AUTOCORR_MIN_PAIRS = 24  # need a day's worth of consecutive-hour pairs


@op(
    "ts_autocorr_lag",
    oracle=f"""
WITH {OBS_CTE},
h AS (
  SELECT split_part(path, '/', 2) AS event_type,
         tse // 3600 AS hr,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS t
  FROM obs GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.t AS x, b.t AS y
  FROM h a JOIN h b ON a.event_type = b.event_type AND b.hr = a.hr + 1
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS autocorr
FROM s
WHERE n >= {AUTOCORR_MIN_PAIRS}
  AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
  AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
""",
)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1h autocorrelation of hourly traffic per class — the
    seasonality detector feeding the forecast ops (high autocorr ⇒
    `ts_forecast_seasonal_naive` is the right model; low ⇒ fall back to
    MAD bands).

    Pearson r from the five power sums, each an EXACT int64 over integer
    cents (hourly totals bounded well inside 2⁶³ at fixture scale — see
    the overflow budget in the module docstring), so the only doubles
    are the final closed-form division, identical on both engines.  The
    lag pairing is an equi-join of the (event_type, hour) aggregate with
    itself on hour+1 — the aggregate is catalog × calendar sized, so the
    join input is already tiny at any corpus scale."""
    obs = flat_obs(spark, sf_dir)
    h = (
        obs.select(
            F.split("path", "/").getItem(1).alias("event_type"),
            F.expr("tse div 3600").alias("hr"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "hr")
        .agg(F.sum("cents").cast("bigint").alias("t"))
    )
    a = h.alias("a")
    b = h.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.hr") == F.col("a.hr") + 1),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.t").alias("x"),
        F.col("b.t").alias("y"),
    )
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    var_x = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    var_y = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return (
        s.filter(
            (F.col("n") >= AUTOCORR_MIN_PAIRS) & (var_x > 0) & (var_y > 0)
        )
        .select(
            "event_type",
            "n",
            F.round(cov / (F.sqrt(var_x) * F.sqrt(var_y)), 6).alias(
                "autocorr"
            ),
        )
    )


@op(
    "ts_percentile_bands",
    oracle=f"""
WITH {OBS_CTE}
SELECT split_part(path, '/', 2) AS event_type,
       tse // 86400 AS day,
       count(*) AS n,
       round(quantile_cont(CAST(value AS DOUBLE), 0.1), 4) AS p10,
       round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(value AS DOUBLE), 0.9), 4) AS p90
FROM obs GROUP BY 1, 2
""",
)
def ts_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p10/p50/p90 bands per class — the shaded percentile envelope
    every latency/traffic dashboard draws around its median line, and the
    input to band-based anomaly flags (`ts_anomaly_mad`'s quantile twin).

    Exact linear-interpolation percentiles on DOUBLE (the established
    `percentile` ≡ `quantile_cont` parity), one shuffle on the bounded
    (class, day) key; per-group rows are a day of one class's samples, so
    the exact sort-based percentile holds to arbitrary corpus scale the
    same way the consolidation ladder does."""
    obs = flat_obs(spark, sf_dir)
    return (
        obs.select(
            F.split("path", "/").getItem(1).alias("event_type"),
            F.expr("tse div 86400").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.1)"), 4).alias("p10"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        )
    )
