"""§2.2 report surface, batch 8 (NOC triage continued): seasonal-profile
anomaly scoring and maintenance-window-aware SLA accounting.

Reference parity: the reference's aggregator exposes per-var seasonal
traffic profiles and heartbeat-derived validity (SURVEY.md §2.2 †); the
two ops here are the report-layer compositions every NOC builds on top —
"is this reading unusual *for this hour of this kind of day*" and
"availability excluding announced maintenance".

House determinism: moments use the explicit E[x²]−E[x]² formula so both
engines fold identically; the in/out anomaly decision compares the
ROUNDED z (the `ts_anomaly_zscore` discipline); SLA availability is
half-up integer ppm with a data-derived calendar, no float accumulation.

Scale posture: the seasonal profile is catalog×48 rows and broadcasts
back onto obs (no second shuffle of the fact side); the SLA op never
builds a per-path time spine — the maintenance calendar is aggregated to
one scalar row (path-independent) and cross-joined as a broadcast, so
the whole op is one distinct-aggregate shuffle on `path`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._shared import (
    HEARTBEAT,
    OBS_CTE,
    STEP,
    T_JAN10,
    T_JAN20,
)
from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs

# Seasonal anomaly: score each valid reading against the mean/std of its
# CLASS's (weekday/weekend, hour-of-day) bucket over the whole fixture.
# Class = the event_type leg of the path: per-series buckets are too thin
# on the sparse fixture (and on any newly-provisioned series in prod) —
# the class profile is the cold-start fallback every NOC profiler ships.
SEASONAL_MIN_N = 8  # buckets thinner than this have no usable std
SEASONAL_Z = 2.0

# Maintenance calendar: every Sunday 02:00–04:00 UTC is an announced
# window; slots inside it count neither as uptime nor downtime.
MAINT_TOD_LO = 7200
MAINT_TOD_HI = 14400
SLA_PPM_TARGET = 995_000  # 99.5 %


# Integer epoch day-of-week (1970-01-01 was a Thursday): 0 = Sunday.
_DOW_SQL = "((tse // 86400) + 4) % 7"


@op(
    "ts_seasonal_anomaly",
    oracle=f"""
WITH {OBS_CTE},
keyed AS (
  SELECT split_part(path, '/', 2) AS class, path, tse, value,
         CASE WHEN {_DOW_SQL} IN (0, 6) THEN 'weekend' ELSE 'weekday' END
           AS day_type,
         (tse % 86400) // 3600 AS hod
  FROM obs WHERE flags = 1
),
profile AS (
  SELECT class, day_type, hod,
         avg(value) AS mu, avg(value * value) AS m2,
         count(*) AS n
  FROM keyed GROUP BY class, day_type, hod
),
scored AS (
  SELECT k.path, k.tse, k.value, k.day_type, k.hod,
         round((k.value - p.mu)
               / sqrt(greatest(p.m2 - p.mu * p.mu, 1e-12)), 4) AS z
  FROM keyed k
  JOIN profile p
    ON p.class = k.class AND p.day_type = k.day_type AND p.hod = k.hod
  WHERE p.n >= {SEASONAL_MIN_N} AND p.m2 - p.mu * p.mu > 1e-12
)
SELECT path, tse, value, day_type, hod, z
FROM scored WHERE abs(z) > {SEASONAL_Z}
""",
)
def ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly report: each valid reading scored against the
    mean/std of its class's (weekday/weekend, hour-of-day) bucket — the
    "is 3am Sunday unusually busy *for a Sunday 3am*" question a plain
    rolling z-score (`ts_anomaly_zscore`) can't ask.  The profile keys
    on the event-type class, not the individual series: per-series
    buckets are statistically empty on sparse series (here, and on any
    newly-provisioned interface in prod), so the class profile is the
    cold-start seasonal baseline.  Buckets come from pure integer epoch
    arithmetic (the `ts_seasonal_baseline` convention), moments from the
    explicit E[x²]−E[x]² formula, and the in/out decision compares the
    ROUNDED z on both engines.

    Scale: the profile is classes×48 rows — one group-by shuffle builds
    it, then it broadcasts back onto obs, so the fact table is shuffled
    exactly once and the scoring join adds no exchange."""
    dow = (F.floor(F.col("tse") / 86400) + 4) % 7
    keyed = (
        flat_obs(spark, sf_dir)
        .filter(F.col("flags") == 1)
        .select(
            F.element_at(F.split("path", "/"), 2).alias("class"),
            "path",
            "tse",
            "value",
            F.when(dow.isin(0, 6), "weekend")
            .otherwise("weekday")
            .alias("day_type"),
            F.floor((F.col("tse") % 86400) / 3600).alias("hod"),
        )
    )
    profile = keyed.groupBy("class", "day_type", "hod").agg(
        F.avg("value").alias("mu"),
        F.avg(F.col("value") * F.col("value")).alias("m2"),
        F.count(F.lit(1)).alias("n"),
    )
    var = F.col("m2") - F.col("mu") * F.col("mu")
    z = F.round(
        (F.col("value") - F.col("mu"))
        / F.sqrt(F.greatest(var, F.lit(1e-12))),
        4,
    )
    return (
        keyed.join(F.broadcast(profile), ["class", "day_type", "hod"])
        .filter((F.col("n") >= SEASONAL_MIN_N) & (var > 1e-12))
        .select("path", "tse", "value", "day_type", "hod", z.alias("z"))
        .filter(F.abs(F.col("z")) > SEASONAL_Z)
    )


@op(
    "ts_sla_maintenance_window",
    oracle=f"""
WITH {OBS_CTE},
slots AS (
  SELECT unnest(generate_series({T_JAN10}, {T_JAN20 - STEP}, {STEP}))
    AS slot
),
cal AS (
  SELECT count(*) AS n_slots,
         CAST(sum(CASE WHEN ((slot // 86400) + 4) % 7 = 0
                        AND slot % 86400 >= {MAINT_TOD_LO}
                        AND slot % 86400 < {MAINT_TOD_HI}
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_maint
  FROM slots
),
paths AS (SELECT DISTINCT path FROM obs),
up0 AS (
  SELECT path, count(DISTINCT tse - tse % {STEP}) AS n_up
  FROM obs
  WHERE flags = 1 AND tse >= {T_JAN10} AND tse < {T_JAN20}
    AND NOT ((((tse - tse % {STEP}) // 86400) + 4) % 7 = 0
             AND (tse - tse % {STEP}) % 86400 >= {MAINT_TOD_LO}
             AND (tse - tse % {STEP}) % 86400 < {MAINT_TOD_HI})
  GROUP BY path
),
up AS (
  SELECT p.path, COALESCE(u.n_up, 0) AS n_up
  FROM paths p LEFT JOIN up0 u ON u.path = p.path
)
SELECT path, n_up, n_slots, n_maint,
       CAST({half_up_div('n_up', 'n_slots - n_maint', mul=1_000_000, idiv='//')}
            AS BIGINT) AS avail_ppm,
       {half_up_div('n_up', 'n_slots - n_maint', mul=1_000_000, idiv='//')}
         < {SLA_PPM_TARGET} AS breach
FROM up CROSS JOIN cal
""",
)
def ts_sla_maintenance_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Availability report with announced maintenance excluded: a slot
    counts as up iff a valid observation lands in it, slots inside the
    weekly Sunday 02:00–04:00 UTC window count neither way, and
    availability is up-slots over schedulable slots in half-up integer
    ppm — the uptime number an operator actually owes against an SLA
    (raw `ts_sla_report` charges planned work as downtime).

    The path universe comes from ALL observations, not just the valid
    in-window ones: a series that was down (or maintenance-only) for the
    whole window still gets its row with n_up = 0 — the WORST breaches
    must appear in the breach report, not vanish from it.

    Scale: there is NO per-path time spine — the maintenance calendar is
    path-independent, so it aggregates to ONE scalar row (n_slots,
    n_maint) that cross-joins back as a broadcast; the per-path side is
    a single distinct-aggregate shuffle on `path`.  At 100 TB the whole
    op costs one exchange of (path, slot) pairs, not paths×slots rows."""
    obs = flat_obs(spark, sf_dir)
    slot = F.col("slot")
    is_maint = (
        (((F.floor(slot / 86400)) + 4) % 7 == 0)
        & (slot % 86400 >= MAINT_TOD_LO)
        & (slot % 86400 < MAINT_TOD_HI)
    )
    cal = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(T_JAN10), F.lit(T_JAN20 - STEP), F.lit(STEP)
                )
            ).alias("slot")
        )
        .agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.sum(is_maint.cast("bigint")).alias("n_maint"),
        )
    )
    up0 = (
        obs.filter(
            (F.col("flags") == 1)
            & (F.col("tse") >= T_JAN10)
            & (F.col("tse") < T_JAN20)
        )
        .select("path", (F.col("tse") - F.col("tse") % STEP).alias("slot"))
        .filter(~is_maint)
        .groupBy("path")
        .agg(F.count_distinct("slot").alias("n_up"))
    )
    up = (
        obs.select("path")
        .distinct()
        .join(up0, "path", "left")
        .select(
            "path",
            F.coalesce(F.col("n_up"), F.lit(0).cast("bigint")).alias("n_up"),
        )
    )
    return up.crossJoin(F.broadcast(cal)).select(
        "path",
        "n_up",
        "n_slots",
        "n_maint",
        F.expr(
            f"CAST({half_up_div('n_up', 'n_slots - n_maint', mul=1_000_000)}"
            " AS BIGINT)"
        ).alias("avail_ppm"),
        (
            F.expr(half_up_div("n_up", "n_slots - n_maint", mul=1_000_000))
            < SLA_PPM_TARGET
        ).alias("breach"),
    )


# Incident threshold is THE shared heartbeat — ts_sla_report and this op
# must classify outages identically.
MTBF_HEARTBEAT = HEARTBEAT


@op(
    "ts_mtbf_mttr",
    oracle=f"""
WITH {OBS_CTE},
v AS (SELECT path, tse FROM obs WHERE flags = 1),
g AS (
  SELECT path, tse,
         tse - lag(tse) OVER (PARTITION BY path ORDER BY tse) AS gap
  FROM v
),
agg AS (
  SELECT path,
         CAST(sum(CASE WHEN gap > {MTBF_HEARTBEAT} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_incidents,
         CAST(sum(CASE WHEN gap > {MTBF_HEARTBEAT}
                       THEN gap - {MTBF_HEARTBEAT} ELSE 0 END)
              AS BIGINT) AS downtime_sec,
         max(tse) - min(tse) AS span_sec
  FROM g GROUP BY path
)
SELECT path, n_incidents, downtime_sec,
       CAST({half_up_div('downtime_sec', 'n_incidents', idiv='//')}
            AS BIGINT) AS mttr_sec,
       CAST({half_up_div('span_sec - downtime_sec', 'n_incidents', idiv='//')}
            AS BIGINT) AS mtbf_sec
FROM agg WHERE n_incidents > 0
""",
)
def ts_mtbf_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTBF / MTTR per series from heartbeat incidents: any gap between
    consecutive valid observations beyond HEARTBEAT is an outage whose
    repair time is the excess over the heartbeat (the `ts_sla_report`
    downtime convention); MTTR = mean repair seconds per incident and
    MTBF = mean up-seconds between incidents, both half-up integer —
    the two numbers every reliability review opens with.

    Tie-robust: duplicate timestamps make the lag pairing ambiguous,
    but the sorted multiset of consecutive differences — and therefore
    every aggregate here — is identical under any tie order, so the
    engines can't diverge.  One hash exchange on `path`: the lag window
    and the rollup share the same partitioning."""
    v = (
        flat_obs(spark, sf_dir)
        .filter(F.col("flags") == 1)
        .select("path", "tse")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("path").orderBy("tse")
    g = v.withColumn("gap", F.col("tse") - F.lag("tse").over(w))
    is_inc = F.col("gap") > MTBF_HEARTBEAT
    agg = g.groupBy("path").agg(
        F.sum(is_inc.cast("bigint")).alias("n_incidents"),
        F.sum(
            F.when(is_inc, F.col("gap") - MTBF_HEARTBEAT).otherwise(0)
        )
        .cast("bigint")
        .alias("downtime_sec"),
        (F.max("tse") - F.min("tse")).alias("span_sec"),
    )
    return agg.filter(F.col("n_incidents") > 0).select(
        "path",
        "n_incidents",
        "downtime_sec",
        F.expr(
            f"CAST({half_up_div('downtime_sec', 'n_incidents')} AS BIGINT)"
        ).alias("mttr_sec"),
        F.expr(
            f"CAST({half_up_div('span_sec - downtime_sec', 'n_incidents')}"
            " AS BIGINT)"
        ).alias("mtbf_sec"),
    )


PERIOD_MAX_LAG = 24  # scan lags 1..24h — finds the daily cycle
PERIOD_MIN_PAIRS = 48


@op(
    "ts_period_detect",
    oracle=f"""
WITH {OBS_CTE},
h AS (
  SELECT split_part(path, '/', 2) AS event_type,
         tse // 3600 AS hr,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS t
  FROM obs GROUP BY 1, 2
),
lags AS (SELECT unnest(generate_series(1, {PERIOD_MAX_LAG})) AS lag),
pairs AS (
  SELECT a.event_type, l.lag, a.t AS x, b.t AS y
  FROM h a CROSS JOIN lags l
  JOIN h b ON b.event_type = a.event_type AND b.hr = a.hr + l.lag
),
s AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY event_type, lag
),
r AS (
  SELECT event_type, lag, n,
         round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
               (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
               6) AS autocorr
  FROM s
  WHERE n >= {PERIOD_MIN_PAIRS}
    AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
    AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
)
SELECT event_type, lag AS period_hours, autocorr, n FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY autocorr DESC, lag) AS rn
  FROM r
) WHERE rn = 1
""",
)
def ts_period_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant period per traffic class: Pearson autocorrelation of the
    hourly series at every lag 1..{PERIOD_MAX_LAG} h, argmax on the
    ROUNDED r (ties to the shorter lag) — `ts_autocorr_lag` generalized
    from "is it seasonal" to "WHAT period is it" (a daily cycle peaks at
    24).  The winning period feeds `ts_forecast_seasonal_naive` /
    `ts_seasonal_baseline` with a measured season length instead of an
    assumed one.

    Exactness discipline is inherited from ts_autocorr_lag: five power
    sums per (class, lag), each an exact int64 over integer cents; the
    only doubles are the closed-form r, rounded before the argmax so
    the winner can't flip between engines.

    Scale: the hourly aggregate is catalog×calendar sized, so even
    fanned out ×{PERIOD_MAX_LAG} lags the join input stays tiny at any
    corpus scale; the argmax window partitions by class (bounded) —
    the raw obs are touched once, in the first aggregate."""
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
    lags = spark.range(1, PERIOD_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = h.alias("a")
    b = h.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.hr") == F.col("a.hr") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.t").alias("x"),
            F.col("b.t").alias("y"),
        )
    )
    s = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    r = s.filter(
        (F.col("n") >= PERIOD_MIN_PAIRS) & (varx > 0) & (vary > 0)
    ).select(
        "event_type",
        "lag",
        "n",
        F.round(
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (F.sqrt(varx) * F.sqrt(vary)),
            6,
        ).alias("autocorr"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("autocorr").desc(), "lag"
    )
    return (
        r.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("lag").alias("period_hours"),
            "autocorr",
            "n",
        )
    )


# The slot-series base (analytics2) and the composition constants
# (analytics4) come from the proven pieces — the composed detector must
# agree with its parts by construction.
from esxsnmp_tsdb_spark.operators.analytics2 import (  # noqa: E402
    _SLOT_CTE,
    _slot_series,
)
from esxsnmp_tsdb_spark.operators.analytics4 import (  # noqa: E402
    MAD_CUT,
    MAD_K,
    STL_HALF,
)


@op(
    "ts_stl_residual_anomaly",
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
),
res AS (
  SELECT path, slot, x,
         round(x - trend - seasonal, 6) + 0 AS resid
  FROM se
),
med AS (
  SELECT path, round(quantile_cont(resid, 0.5), 6) AS med
  FROM res GROUP BY path
),
dev AS (
  SELECT r.path, r.slot, r.x, r.resid,
         round(abs(r.resid - m.med), 6) AS dev
  FROM res r JOIN med m ON r.path = m.path
),
mad AS (
  SELECT path, round(quantile_cont(dev, 0.5), 6) AS mad
  FROM dev GROUP BY path
)
SELECT d.path, d.slot, d.x, d.resid,
       round(d.dev / ({MAD_K} * m.mad), 6) AS score
FROM dev d JOIN mad m ON d.path = m.path
WHERE m.mad > 0 AND round(d.dev / ({MAD_K} * m.mad), 6) > {MAD_CUT}
""",
)
def ts_stl_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted robust anomaly detection — the textbook
    composition (STL residual → MAD threshold, the S-H-ESD shape): a
    reading is anomalous only if it deviates after removing the trend
    and the hour-of-day seasonal pattern, scored by the robust
    |resid − median| / (1.4826·MAD) statistic.  Catches the 3am spike a
    raw z-score normalizes away under the daily cycle, and ignores the
    busy-hour peak a raw threshold would page on.

    Both stages reuse the exact formulations proven independently
    (`ts_stl_decompose`'s chain-rounded trend/seasonal, and
    `ts_anomaly_mad`'s rounded median/MAD with the in/out decision on
    ROUNDED scores), so the composition inherits their cross-engine
    agreement.

    Scale: trend rides one shuffle on path, seasonal a (path, hod)
    refinement of it; the two medians are per-path aggregates whose
    results broadcast back — catalog-sized joins at any corpus scale."""
    s = _slot_series(spark, sf_dir)
    wt = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(-(STL_HALF - 1), STL_HALF)
    )
    tr = s.withColumn("trend", F.round(F.avg("x").over(wt), 6))
    hod = F.expr("CAST((slot % 86400) div 3600 AS INT)")
    ws = Window.partitionBy("path", hod)
    res = tr.withColumn(
        "seasonal",
        F.round(F.avg(F.col("x") - F.col("trend")).over(ws), 6) + 0.0,
    ).select(
        "path",
        "slot",
        "x",
        (
            F.round(F.col("x") - F.col("trend") - F.col("seasonal"), 6)
            + 0.0
        ).alias("resid"),
    )
    med = res.groupBy("path").agg(
        F.round(F.expr("percentile(resid, 0.5)"), 6).alias("med")
    )
    dev = res.join(F.broadcast(med), "path").withColumn(
        "dev", F.round(F.abs(F.col("resid") - F.col("med")), 6)
    )
    mad = dev.groupBy("path").agg(
        F.round(F.expr("percentile(dev, 0.5)"), 6).alias("mad")
    )
    score = F.round(F.col("dev") / (MAD_K * F.col("mad")), 6)
    return (
        dev.join(F.broadcast(mad), "path")
        .filter((F.col("mad") > 0) & (score > MAD_CUT))
        .select("path", "slot", "x", "resid", score.alias("score"))
    )


XCORR_MAX_LAG = 6  # scan lags -6..+6 hours
XCORR_MIN_PAIRS = 48


@op(
    "ts_lead_lag_correlation",
    oracle=f"""
WITH {OBS_CTE},
h AS (
  SELECT split_part(path, '/', 2) AS class,
         tse // 3600 AS hr,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS t
  FROM obs GROUP BY 1, 2
),
lags AS (SELECT unnest(generate_series(-{XCORR_MAX_LAG},
                                       {XCORR_MAX_LAG})) AS lag),
pairs AS (
  SELECT a.class AS class_a, b.class AS class_b, l.lag,
         a.t AS x, b.t AS y
  FROM h a CROSS JOIN lags l
  JOIN h b ON b.hr = a.hr + l.lag AND a.class < b.class
),
s AS (
  SELECT class_a, class_b, lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY class_a, class_b, lag
),
r AS (
  SELECT class_a, class_b, lag, n,
         round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
               (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
               6) AS xcorr
  FROM s
  WHERE n >= {XCORR_MIN_PAIRS}
    AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
    AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
)
SELECT class_a, class_b, lag AS best_lag, xcorr, n FROM (
  SELECT *, row_number() OVER (PARTITION BY class_a, class_b
                               ORDER BY abs(xcorr) DESC, lag) AS rn
  FROM r
) WHERE rn = 1
""",
)
def ts_lead_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag discovery between traffic classes: Pearson correlation
    of the two hourly series at every shift −{XCORR_MAX_LAG}..+
    {XCORR_MAX_LAG} h, keeping each pair's strongest |r| (ties to the
    smaller lag) — a positive best_lag means class_a's traffic LEADS
    class_b's, the "which metric moves first" hint an on-call engineer
    uses to order a cascading-failure timeline.

    Same exactness discipline as `ts_period_detect`: five exact int64
    power sums per (pair, lag); doubles only in the closed-form r,
    rounded before the argmax.  Scale: the hourly class aggregate is
    catalog×calendar sized, the pair×lag fan-out is classes²·13 over
    that tiny table, and raw obs are touched exactly once."""
    obs = flat_obs(spark, sf_dir)
    h = (
        obs.select(
            F.split("path", "/").getItem(1).alias("class"),
            F.expr("tse div 3600").alias("hr"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("class", "hr")
        .agg(F.sum("cents").cast("bigint").alias("t"))
    )
    lags = spark.range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = h.alias("a")
    b = h.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.hr") == F.col("a.hr") + F.col("lag"))
            & (F.col("a.class") < F.col("b.class")),
        )
        .select(
            F.col("a.class").alias("class_a"),
            F.col("b.class").alias("class_b"),
            "lag",
            F.col("a.t").alias("x"),
            F.col("b.t").alias("y"),
        )
    )
    s = pairs.groupBy("class_a", "class_b", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    r = s.filter(
        (F.col("n") >= XCORR_MIN_PAIRS) & (varx > 0) & (vary > 0)
    ).select(
        "class_a",
        "class_b",
        "lag",
        "n",
        F.round(
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (F.sqrt(varx) * F.sqrt(vary)),
            6,
        ).alias("xcorr"),
    )
    w = Window.partitionBy("class_a", "class_b").orderBy(
        F.abs(F.col("xcorr")).desc(), "lag"
    )
    return (
        r.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("class_a", "class_b", F.col("lag").alias("best_lag"), "xcorr", "n")
    )


@op(
    "ts_incident_merge_windows",
    oracle=f"""
WITH {OBS_CTE},
v AS (SELECT path, tse FROM obs WHERE flags = 1),
g AS (
  SELECT path, split_part(path, '/', 2) AS class,
         lag(tse) OVER (PARTITION BY path ORDER BY tse) AS t0, tse AS t1
  FROM v
),
inc AS (
  SELECT class, path, t0, t1 FROM g WHERE t1 - t0 > {HEARTBEAT}
),
sweep AS (
  SELECT class, path, t0, t1,
         max(t1) OVER (PARTITION BY class ORDER BY t0, t1, path
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max
  FROM inc
),
marked AS (
  SELECT class, path, t0, t1,
         CASE WHEN prev_max IS NULL OR t0 > prev_max THEN 1 ELSE 0 END
           AS new_win
  FROM sweep
),
numbered AS (
  SELECT class, path, t0, t1,
         CAST(sum(new_win) OVER (PARTITION BY class
                                 ORDER BY t0, t1, path
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT)
           AS win_id
  FROM marked
)
SELECT class, win_id, min(t0) AS win_start, max(t1) AS win_end,
       CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
       CAST(count(*) AS BIGINT) AS n_incidents
FROM numbered GROUP BY class, win_id
""",
)
def ts_incident_merge_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-level incident windows: every per-series heartbeat outage
    becomes an interval (previous valid obs → next valid obs), and
    overlapping intervals WITHIN a class merge into one incident window
    with the count of series it swallowed — the sweep-line interval
    union that turns 400 per-interface alerts into the one row a NOC
    pages on ("core-class outage, 37 interfaces, 14:02–14:31").

    The sweep is the classic running-max trick: order intervals by
    start, a new window opens exactly when an interval starts after the
    max end seen so far; the window id is the running count of such
    opens.  Both windows partition by CLASS (never a global order) and
    the tie order (t0, t1, path) is total, so the ids are deterministic
    on both engines.

    Scale: one exchange on path for the gap lag, one on class for the
    sweep — class cardinality is the catalog's class set, and each
    class's interval list is incident-sized, not corpus-sized."""
    v = (
        flat_obs(spark, sf_dir)
        .filter(F.col("flags") == 1)
        .select("path", "tse")
    )
    wp = Window.partitionBy("path").orderBy("tse")
    inc = (
        v.select(
            "path",
            F.element_at(F.split("path", "/"), 2).alias("class"),
            F.lag("tse").over(wp).alias("t0"),
            F.col("tse").alias("t1"),
        )
        .filter(F.col("t1") - F.col("t0") > HEARTBEAT)
    )
    order = [F.col("t0"), F.col("t1"), F.col("path")]
    wprev = (
        Window.partitionBy("class")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("class")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = inc.withColumn(
        "new_win",
        (
            F.col("t0") > F.coalesce(F.max("t1").over(wprev), F.lit(-1))
        ).cast("bigint"),
    )
    numbered = marked.withColumn("win_id", F.sum("new_win").over(wrun))
    return numbered.groupBy("class", "win_id").agg(
        F.min("t0").alias("win_start"),
        F.max("t1").alias("win_end"),
        F.count_distinct("path").alias("n_paths"),
        F.count(F.lit(1)).alias("n_incidents"),
    )
