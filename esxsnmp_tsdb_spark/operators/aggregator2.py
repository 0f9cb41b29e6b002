"""§2.2 aggregator surface, batch 2 (EXT): LOCF gap fill, counter-reset
detection, and batch ladder backfill — the repair/robustness tools
around the core consolidation ladder.

Same contract discipline as ``aggregator.py``: slot math is integer,
counters are exact BIGINT cumulative sums, every reported float rounds
on both sides, and discrete decisions (reset vs wrap) compare integers
only.

Scale posture: LOCF is one running window over the (path-partitioned)
spine — O(n) two-pointer frames, no self-join per gap; reset detection
rides the same single series shuffle as every delta op; the backfill
writes only the day partitions being repaired (dynamic partition
overwrite), never touching the rest of the store."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import (
    BUCKET,
    CNT_CTE,
    OBS_CTE,
    STEP,
    SYNTH_WRAP,
    T_JAN10,
    T_JAN11,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import load_obs

RESET_SLACK = SYNTH_WRAP // 2  # drop worse than this = reset, not wrap


@op(
    "ts_gap_fill_locf",
    oracle=f"""
WITH {OBS_CTE},
paths AS (SELECT DISTINCT path FROM obs),
grid AS (
  SELECT p.path, CAST(g.generate_series AS BIGINT) AS slot
  FROM paths p, generate_series({T_JAN10}, {T_JAN11 - 1}, {BUCKET}) g
),
observed AS (
  SELECT path, tse - tse % {BUCKET} AS slot,
         round(avg(value), 6) AS average
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN11}
  GROUP BY 1, 2
),
spine AS (
  SELECT g.path, g.slot, o.average
  FROM grid g LEFT JOIN observed o ON g.path = o.path AND g.slot = o.slot
)
SELECT path, slot,
       last_value(average IGNORE NULLS) OVER (
         PARTITION BY path ORDER BY slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       average IS NOT NULL AS observed
FROM spine
""",
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over the dense slot spine — the
    step-function gap fill (`ts_interpolate` is the linear variant; LOCF
    is what a gauge that only reports on change needs).

    One running ``last_value(ignoreNulls)`` frame per series: O(n)
    two-pointer evaluation over the already-path-partitioned spine, no
    per-gap self-join.  Slots before a series' first observation stay
    NULL — LOCF has nothing to carry, and both engines agree."""
    spine = tsdb.time_spine(load_obs(spark, sf_dir), T_JAN10, T_JAN11, BUCKET)
    w = (
        Window.partitionBy("path")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    avg = F.when(F.col("valid"), F.round("average", 6))
    return spine.select(
        "path",
        "slot",
        F.last(avg, ignorenulls=True).over(w).alias("filled"),
        F.col("valid").alias("observed"),
    )


@op(
    "ts_counter_reset_detect",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
wrapped AS (
  SELECT path, tse, event_id,
         CASE WHEN event_id % 97 = 0 THEN 0
              ELSE counter % {SYNTH_WRAP} END AS cw
  FROM cnt
),
d AS (
  SELECT path, tse, cw, cw - lag(cw) OVER w AS drop
  FROM wrapped
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
)
SELECT path,
       count(CASE WHEN drop < 0 AND -drop <= {RESET_SLACK} THEN 1 END)
         AS n_wraps,
       count(CASE WHEN drop < 0 AND -drop > {RESET_SLACK} THEN 1 END)
         AS n_resets,
       min(CASE WHEN drop < 0 AND -drop > {RESET_SLACK} THEN tse END)
         AS first_reset_tse
FROM d GROUP BY path
""",
)
def ts_counter_reset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinguish counter WRAPS from device RESETS (reboot → counter
    restarts at 0): a negative step smaller than half the modulus is a
    wrap (rate math corrects it); a larger collapse is a reset whose
    delta must be discarded, and ops wants them counted per series.

    Resets are staged deterministically (every 97th sample zeroes the
    counter — the synthetic-fault house trick).  Integer comparisons
    only; one shuffle on path."""
    from esxsnmp_tsdb_spark.operators.aggregator import _counter

    cnt = _counter(load_obs(spark, sf_dir)).withColumn(
        "cw",
        F.when(F.col("event_id") % 97 == 0, F.lit(0)).otherwise(
            F.col("counter") % SYNTH_WRAP
        ),
    )
    d = cnt.withColumn(
        "drop", F.col("cw") - F.lag("cw").over(tsdb.series_window())
    )
    wrap = (F.col("drop") < 0) & (-F.col("drop") <= RESET_SLACK)
    reset = (F.col("drop") < 0) & (-F.col("drop") > RESET_SLACK)
    return d.groupBy("path").agg(
        F.count(F.when(wrap, 1)).alias("n_wraps"),
        F.count(F.when(reset, 1)).alias("n_resets"),
        F.min(F.when(reset, F.col("tse"))).alias("first_reset_tse"),
    )


@op(
    "ts_ladder_backfill",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % {BUCKET} AS slot,
       round(sum(value), 6) AS sv, count(*) AS n,
       min(value) AS mn, max(value) AS mx
FROM obs
WHERE tse >= {T_JAN10} AND tse < {T_JAN11}
GROUP BY 1, 2
""",
)
def ts_ladder_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch repair of one aggregate-ladder level for a day range: the
    partials for the damaged days are recomputed from raws, in the one
    stored-level format (`sources.ladder_sql.stored_level`), and written
    with dynamic partition overwrite — only the repaired day partitions
    are replaced, the rest of the level is untouched (the O(days-
    repaired) property that makes backfill affordable on a 100 TB
    ladder).

    Read-back of the repaired level is the checked result, so equality
    with the oracle proves the partials survived the partitioned write
    losslessly."""
    import os

    from esxsnmp_tsdb_spark.operators._workdirs import op_dir
    from esxsnmp_tsdb_spark.sources.ladder_sql import stored_level, write_days

    out = os.path.join(op_dir("ladder_backfill"), f"level={BUCKET}")
    obs = load_obs(spark, sf_dir).filter(
        (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN11)
    )
    write_days(stored_level(tsdb.consolidation_partial(obs, BUCKET)), out)
    back = spark.read.parquet(out)
    return back.select(
        "path",
        "slot",
        F.round("sv", 6).alias("sv"),
        "n",
        F.col("vmin").alias("mn"),
        F.col("vmax").alias("mx"),
    )


T_JAN20 = 1705708800  # keep in lockstep with operators/_shared.py


@op(
    "ts_ladder_route_sql",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % 7200 AS slot,
       round(avg(value), 6) AS value, count(*) AS n
FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
GROUP BY 1, 2
""",
)
def ts_ladder_route_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-ladder routing for a RAW-SQL caller: the persisted
    day-partitioned ladder store (`sources.ladder_sql.register_ladder_store`)
    plus the TVF-style `route_sql` helper turn a
    ``(begin, end, step, cf)`` request into one SELECT against the
    coarsest stored level — here a 2-hour/average request served from the
    stored 1 h view, never from raw obs (tests/test_ladder.py asserts the
    plan scans the 1 h store and partition-prunes its day layout).

    Same oracle as `ts_ladder_route` (computed directly from raw): the
    SQL route must be lossless exactly like the DataFrame route.  At
    100 TB this is the serving path — the store is maintained
    incrementally (ts_ladder_backfill / stream_ladder_maintenance) and
    every dashboard query compiles to a pruned scan of the right level.
    """
    from esxsnmp_tsdb_spark.sources.ladder_sql import (
        register_ladder_store,
        route_sql,
    )

    register_ladder_store(spark, sf_dir)
    return spark.sql(
        route_sql(step=7200, begin=T_JAN10, end=T_JAN20, cf="average")
    ).select("path", "slot", F.round("value", 6).alias("value"), "n")


# --- Counter64 at ORACLE level: the decimal pipeline end to end -----------
# ts_counter_wrap64 proves the wrap in isolation; these two prove the FULL
# rate and delta-consolidation paths (functions/tsdb.py counter_rate /
# delta_consolidate with the 2**64 modulus) against DuckDB HUGEINT math.
# Every reported number is an exact integer emitted as VARCHAR, so the
# comparison is digit-exact and engine-neutral: the rate is reported as
# (quotient, remainder) of the exact division wd = q*dt + r — a float64
# would corrupt 2**64-adjacent values, and cross-engine DECIMAL division
# scale rules differ, so integer (div, mod) is the only representation
# both engines compute identically.

from esxsnmp_tsdb_spark.operators.aggregator import (  # noqa: E402
    _C64_SCALE,
    WRAP64,
    _counter,
)

_C64 = f"""c64 AS (
  SELECT path, tse, event_id,
         (CAST(counter AS HUGEINT) * {_C64_SCALE}) % {WRAP64} AS cw
  FROM cnt
),
d64 AS (
  SELECT path, tse, cw - lag(cw) OVER w AS delta,
         tse - lag(tse) OVER w AS dt
  FROM c64
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
w64 AS (
  SELECT path, tse, dt,
         CASE WHEN delta < 0 THEN delta + {WRAP64} ELSE delta END AS wd
  FROM d64
)"""


def _c64_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    cnt = _counter(load_obs(spark, sf_dir))
    return cnt.select(
        "path",
        "tse",
        "event_id",
        (
            (F.col("counter").cast(dec) * F.lit(_C64_SCALE).cast(dec))
            % F.lit(WRAP64).cast(dec)
        ).alias("cw"),
    )


@op(
    "ts_rate64",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE}, {_C64}
SELECT path, tse, dt,
       CAST(wd // NULLIF(dt, 0) AS VARCHAR) AS rate_ips64,
       CAST(wd % NULLIF(dt, 0) AS VARCHAR) AS rate_rem64
FROM w64
""",
)
def ts_rate64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter64 → per-second rate with NO float64 anywhere: the counter
    is lifted into 2⁶⁴ range (ts_counter_wrap64's staging), wrapped and
    delta'd in DecimalType(38,0) via `tsdb.counter_rate(modulus=2**64)`,
    and the rate is reported as the exact (quotient, remainder) pair of
    wd ÷ dt — digit-identical to DuckDB HUGEINT floor division (both
    operands non-negative, so trunc ≡ floor on both engines)."""
    from esxsnmp_tsdb_spark.functions import tsdb as tsdbf

    r = tsdbf.counter_rate(_c64_obs(spark, sf_dir), "cw", modulus=2**64)
    return r.select(
        "path",
        "tse",
        "dt",
        F.expr("CAST(wrapped_delta div NULLIF(dt, 0) AS STRING)").alias(
            "rate_ips64"
        ),
        F.expr("CAST(wrapped_delta % NULLIF(dt, 0) AS STRING)").alias(
            "rate_rem64"
        ),
    )


@op(
    "ts_downsample_delta64",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE}, {_C64}
SELECT path, tse - tse % {BUCKET} AS slot,
       CAST(sum(wd) AS VARCHAR) AS delta_total64
FROM w64 WHERE wd IS NOT NULL
GROUP BY 1, 2
""",
)
def ts_downsample_delta64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`delta` consolidation of a true Counter64: bucket totals of
    wrap-corrected 2⁶⁴ deltas via the same `tsdb.delta_consolidate` the
    synthetic-modulus op rides, lifted to DecimalType(38,0) — the sum
    never transits a double, and the VARCHAR emission makes the
    cross-engine check digit-exact."""
    from esxsnmp_tsdb_spark.functions import tsdb as tsdbf

    cons = tsdbf.delta_consolidate(_c64_obs(spark, sf_dir), "cw", 2**64, BUCKET)
    return cons.select(
        "path", "slot", F.col("delta_total").cast("string").alias("delta_total64")
    )


@op(
    "ts_rate_downsample",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
d AS (
  SELECT path, tse,
         CAST(counter - lag(counter) OVER w AS DOUBLE)
           / nullif(tse - lag(tse) OVER w, 0) AS rate
  FROM cnt
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
)
SELECT path, tse - tse % {BUCKET} AS slot,
       round(avg(rate), 6) AS avg_rate,
       round(max(rate), 6) AS max_rate,
       count(rate) AS n
FROM d WHERE rate IS NOT NULL
GROUP BY 1, 2
""",
)
def ts_rate_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated rate — the canonical dashboard series (per-second
    rate from the counter, then avg/max per 1 h slot): `ts_rate`
    composed with the §2.2 consolidation in ONE registered op, because
    the composition is what every utilization graph actually queries
    (avg for the line, max for the 95th-percentile-ish peak band).

    Plan: the rate window and the slot group-by share the path key, so
    the whole op rides ONE shuffle — the window's hash exchange on path
    feeds the partial-aggregated group-by directly."""
    from esxsnmp_tsdb_spark.operators.aggregator import _counter

    cnt = _counter(load_obs(spark, sf_dir))
    d = tsdb.deltas(cnt, "counter").withColumn(
        "rate",
        F.col("delta").cast("double") / F.nullif(F.col("dt"), F.lit(0)),
    )
    return (
        d.filter(F.col("rate").isNotNull())
        .groupBy("path", tsdb.slot_of(F.col("tse"), BUCKET).alias("slot"))
        .agg(
            F.round(F.avg("rate"), 6).alias("avg_rate"),
            F.round(F.max("rate"), 6).alias("max_rate"),
            F.count("rate").alias("n"),
        )
    )


@op(
    "ts_aggregate_row",
    oracle=f"""
WITH {OBS_CTE},
k AS (  -- composite order key: event_id < 1e7 at every fixture scale
  SELECT path, tse - tse % {BUCKET} AS slot, tse, value,
         tse * 10000000 + event_id AS ok
  FROM obs
)
SELECT path, slot,
       round(avg(value), 6) AS average,
       round(arg_max(value, ok) - arg_min(value, ok), 6) AS delta,
       round(min(value), 6) AS vmin,
       round(max(value), 6) AS vmax,
       round(arg_max(value, ok), 6) AS last,
       CAST(count(*) AS BIGINT) AS n
FROM k GROUP BY path, slot
""",
)
def ts_aggregate_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``Aggregate`` row type in ONE pass (tsdb/row.py ·
    Aggregate †): every consolidated slot carries all five named fields
    — average, delta (last − first reading), min, max, last — exactly
    as the RRD-style aggregate row stored them, instead of five separate
    consolidation queries.

    One hash aggregate computes all five: avg/min/max are plain
    aggregates; first/last ride ``min_by``/``max_by`` on a composite
    (tse, event_id) scalar key (tse·10⁷ + event_id — event_id stays
    far below 10⁷ at every fixture scale), which both engines order
    identically.  One shuffle on (path, slot) with map-side partials;
    at 100 TB this halves the scan count of a dashboard that wants the
    full aggregate row vs issuing per-field queries."""
    obs = load_obs(spark, sf_dir)
    k = obs.select(
        "path",
        (F.col("tse") - F.col("tse") % BUCKET).alias("slot"),
        "value",
        (F.col("tse") * 10_000_000 + F.col("event_id")).alias("ok"),
    )
    return k.groupBy("path", "slot").agg(
        F.round(F.avg("value"), 6).alias("average"),
        F.round(
            F.max_by("value", F.col("ok")) - F.min_by("value", F.col("ok")), 6
        ).alias("delta"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
        F.round(F.max_by("value", F.col("ok")), 6).alias("last"),
        F.count(F.lit(1)).alias("n"),
    )


@op(
    "ts_wrap_eta",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
k AS (
  SELECT path, tse, counter, tse * 10000000 + event_id AS ok FROM cnt
),
span AS (
  SELECT path,
         CAST(count(*) AS BIGINT) AS n,
         arg_min(counter, ok) AS c0, arg_max(counter, ok) AS c1,
         arg_min(tse, ok) AS t0, arg_max(tse, ok) AS t1
  FROM k GROUP BY path
)
SELECT path, n,
       round(CAST(c1 - c0 AS DOUBLE) / (t1 - t0), 6) AS avg_cps,
       round(({SYNTH_WRAP} - c1 % {SYNTH_WRAP}) * CAST(t1 - t0 AS DOUBLE)
             / (c1 - c0), 6) AS secs_to_wrap,
       round({SYNTH_WRAP} * CAST(t1 - t0 AS DOUBLE) / (c1 - c0), 6)
         AS wrap_period_s,
       CAST(CASE WHEN {SYNTH_WRAP} * CAST(t1 - t0 AS DOUBLE) / (c1 - c0) / 2
                      >= {STEP} THEN 1 ELSE 0 END AS BIGINT) AS poll_ok
FROM span WHERE c1 > c0 AND t1 > t0
""",
)
def ts_wrap_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-wrap ETA and poll-interval sizing — the operational check
    behind every Counter32 deployment (reference wrap semantics,
    `ts_counter_wrap` †): at the series' long-run rate, when does the
    counter next wrap, and is the poll interval short enough to observe
    every wrap (poll ≤ wrap_period/2, else deltas alias)?

    The long-run rate is (last−first counter)/(last−first tse) from
    EXACT integer endpoints (min_by/max_by on the composite time key —
    no float regression, no accumulation), so every output is a single
    deterministic division, rounded at 6.  One hash aggregate per
    series; the plan is scan → one shuffle on path → 4-way min/max_by."""
    from esxsnmp_tsdb_spark.operators.aggregator import _counter

    obs = load_obs(spark, sf_dir)
    k = _counter(obs).select(
        "path",
        "tse",
        "counter",
        (F.col("tse") * 10_000_000 + F.col("event_id")).alias("ok"),
    )
    span = k.groupBy("path").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by("counter", F.col("ok")).alias("c0"),
        F.max_by("counter", F.col("ok")).alias("c1"),
        F.min_by("tse", F.col("ok")).alias("t0"),
        F.max_by("tse", F.col("ok")).alias("t1"),
    )
    dt = (F.col("t1") - F.col("t0")).cast("double")
    dc = F.col("c1") - F.col("c0")
    period = SYNTH_WRAP * dt / dc
    return span.where((dc > 0) & (F.col("t1") > F.col("t0"))).select(
        "path",
        "n",
        F.round(dc.cast("double") / (F.col("t1") - F.col("t0")), 6).alias(
            "avg_cps"
        ),
        F.round(
            (SYNTH_WRAP - F.col("c1") % SYNTH_WRAP) * dt / dc, 6
        ).alias("secs_to_wrap"),
        F.round(period, 6).alias("wrap_period_s"),
        (period / 2 >= STEP).cast("bigint").alias("poll_ok"),
    )
