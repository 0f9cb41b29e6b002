"""§2.2 — the Aggregator (``tsdb/aggregator.py · Aggregator.update`` †):
delta/rate with counter-wrap + heartbeat semantics, RRD consolidation
(average/delta/min/max/last), boundary bin-splitting, and the aggregate
cascade.  SURVEY.md §2.2.

Synthetic counter: the fixtures carry gauge readings, so counter ops derive
a monotonic counter as the per-series running sum of integer-scaled values
(``_shared.CNT_CTE`` is the oracle twin).  Counter math stays in BIGINT end
to end — exact on both engines; only rates (divisions) are floats, rounded
to 6 places on both sides before hashing.

Scale posture: everything is one shuffle on ``path`` (window) followed by
partial-aggregated bucket group-bys; `ts_bin_split` explodes each interval
into its covered buckets JVM-side (`sequence`), so a delta spanning K
buckets costs K rows, not a Python loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import (
    BUCKET,
    CNT_CTE,
    FINE,
    HEARTBEAT,
    OBS_CTE,
    SYNTH_WRAP,
    T_JAN10,
    T_JAN20,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import load_obs


def _counter(obs: DataFrame) -> DataFrame:
    """Synthetic monotonic counter (oracle twin: ``_shared.CNT_CTE``)."""
    w = (
        Window.partitionBy("path")
        .orderBy("tse", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return obs.select(
        "path",
        "tse",
        "event_id",
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).over(w).alias("counter"),
    )


@op(
    "ts_delta",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse, round(value - lag(value) OVER w, 6) AS delta,
       tse - lag(tse) OVER w AS dt
FROM obs
WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
""",
)
def ts_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-reading difference per series (Aggregator.update †)."""
    d = tsdb.deltas(load_obs(spark, sf_dir))
    return d.select("path", "tse", F.round("delta", 6).alias("delta"), "dt")


@op(
    "ts_rate",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE}
SELECT path, tse,
       round(CAST(counter - lag(counter) OVER w AS DOUBLE)
             / (tse - lag(tse) OVER w), 6) AS rate
FROM cnt
WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
""",
)
def ts_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter → per-second rate, the canonical SNMP op (Aggregator.update †).

    NULL on each series' first row (no previous sample) and where dt=0.
    """
    cnt = _counter(load_obs(spark, sf_dir))
    d = tsdb.deltas(cnt, "counter")
    return d.select(
        "path",
        "tse",
        F.round(F.try_divide(F.col("delta").cast("double"), F.col("dt")), 6)
        .alias("rate"),
    )


@op(
    "ts_counter_wrap",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
wrapped AS (SELECT path, tse, event_id, counter % {SYNTH_WRAP} AS cw FROM cnt),
d AS (
  SELECT path, tse, cw - lag(cw) OVER w AS delta, tse - lag(tse) OVER w AS dt
  FROM wrapped
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
)
SELECT path, tse,
       CASE WHEN delta < 0 THEN delta + {SYNTH_WRAP} ELSE delta END AS wrapped_delta,
       dt
FROM d
""",
)
def ts_counter_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap correction: negative delta ⇒ counter wrapped ⇒ add modulus
    (Aggregator.update wrap branch †; Counter32/Counter64 in ``tsdb/row.py`` †).

    The fixture counter wraps at a synthetic modulus so wraps actually occur
    at test scale; 2³²/2⁶⁴ (Decimal) behavior is unit-tested in
    ``tests/test_tsdb_functions.py``.
    """
    cnt = _counter(load_obs(spark, sf_dir)).withColumn(
        "counter", F.col("counter") % SYNTH_WRAP
    )
    d = tsdb.deltas(cnt, "counter")
    return d.select(
        "path",
        "tse",
        tsdb.wrap_correct(F.col("delta"), SYNTH_WRAP).alias("wrapped_delta"),
        "dt",
    )


WRAP64 = "18446744073709551616"  # 2**64 — Counter64's modulus
# Lifts the synthetic counter into 2**64 range so wraps actually occur at
# test scale.  2**64/_C64_SCALE ~ 61489: above the largest single-step
# increment (max value*100 ~ 49k — a real counter never moves >= the
# modulus between samples) and below most series' final counter, so both
# fixtures exercise the wrap branch.
_C64_SCALE = 300_000_000_000_000


@op(
    "ts_counter_wrap64",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
c64 AS (
  SELECT path, tse, event_id,
         (CAST(counter AS HUGEINT) * {_C64_SCALE}) % {WRAP64} AS cw
  FROM cnt
),
d AS (
  SELECT path, tse, cw - lag(cw) OVER w AS delta
  FROM c64
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
)
SELECT path, tse,
       CAST(CASE WHEN delta < 0 THEN delta + {WRAP64} ELSE delta END
            AS VARCHAR) AS wrapped_delta64
FROM d
""",
)
def ts_counter_wrap64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Counter64 wrap at 2⁶⁴ (``tsdb/row.py`` Counter64 †), exercised
    at ORACLE level — not just the unit test: counter values are lifted
    into 2⁶⁴ range (×_C64_SCALE = 3e14) so real wraps occur at test scale, the modulus
    and wrap correction run in DecimalType(38,0) end to end (no double
    round-trip — a 2⁶⁴-adjacent value is not representable in float64),
    and the oracle does the same math in DuckDB HUGEINT.  The delta is
    emitted as a decimal STRING so the comparison is digit-exact and
    engine-neutral."""
    dec = "decimal(38,0)"
    wrap64 = F.lit(WRAP64).cast(dec)
    cnt = _counter(load_obs(spark, sf_dir))
    c64 = cnt.select(
        "path",
        "tse",
        "event_id",
        ((F.col("counter").cast(dec) * F.lit(_C64_SCALE).cast(dec)) % wrap64).alias(
            "cw"
        ),
    )
    w = Window.partitionBy("path").orderBy("tse", "event_id")
    d = c64.withColumn("delta", F.col("cw") - F.lag("cw").over(w))
    return d.select(
        "path",
        "tse",
        F.when(F.col("delta") < 0, F.col("delta") + wrap64)
        .otherwise(F.col("delta"))
        .cast("string")
        .alias("wrapped_delta64"),
    )


@op(
    "ts_heartbeat_invalidate",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
d AS (
  SELECT path, tse, counter - lag(counter) OVER w AS delta,
         tse - lag(tse) OVER w AS dt
  FROM cnt
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
)
SELECT path, tse, dt,
       CASE WHEN dt > {HEARTBEAT} THEN NULL
            ELSE round(CAST(delta AS DOUBLE) / dt, 6) END AS rate
FROM d
""",
)
def ts_heartbeat_invalidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap > HEARTBEAT ⇒ rate NULL — never interpolate across an outage
    (Aggregator.update heartbeat check †).  Gap == heartbeat stays valid.
    """
    cnt = _counter(load_obs(spark, sf_dir))
    d = tsdb.counter_rate(cnt, "counter", modulus=SYNTH_WRAP, heartbeat=HEARTBEAT)
    return d.select("path", "tse", "dt", F.round("rate", 6).alias("rate"))


@op(
    "ts_downsample_avg",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % {BUCKET} AS slot,
       round(avg(value), 6) AS average, count(*) AS n
FROM obs GROUP BY 1, 2
""",
)
def ts_downsample_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`average` consolidation function: time-bucketed mean (Aggregator †).

    Flagship query (``__spark_entry__.entry``).  Partial aggregation is
    map-side; at 100 TB the group-by shuffles once on (path, slot).
    """
    ds = tsdb.downsample(load_obs(spark, sf_dir), BUCKET)
    return ds.select("path", "slot", F.round("average", 6).alias("average"), "n")


@op(
    "ts_downsample_minmax",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % {BUCKET} AS slot,
       min(value) AS vmin, max(value) AS vmax, count(*) AS n
FROM obs GROUP BY 1, 2
""",
)
def ts_downsample_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`min`/`max` consolidation functions per bucket (Aggregator †)."""
    ds = tsdb.downsample(load_obs(spark, sf_dir), BUCKET)
    return ds.select("path", "slot", "vmin", "vmax", "n")


@op(
    "ts_downsample_last",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, slot, value AS last FROM (
  SELECT path, tse - tse % {BUCKET} AS slot, value,
         row_number() OVER (PARTITION BY path, tse - tse % {BUCKET}
                            ORDER BY tse DESC, event_id DESC) AS rn
  FROM obs
) WHERE rn = 1
""",
)
def ts_downsample_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`last` consolidation function: latest reading per bucket (Aggregator †)."""
    ds = tsdb.downsample(load_obs(spark, sf_dir), BUCKET)
    return ds.select("path", "slot", F.col("last"))


@op(
    "ts_downsample_delta",
    oracle=f"""
WITH {OBS_CTE}, {CNT_CTE},
wrapped AS (SELECT path, tse, event_id, counter % {SYNTH_WRAP} AS cw FROM cnt),
d AS (
  SELECT path, tse, cw - lag(cw) OVER w AS delta
  FROM wrapped
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
)
SELECT path, tse - tse % {BUCKET} AS slot,
       CAST(sum(CASE WHEN delta < 0 THEN delta + {SYNTH_WRAP} ELSE delta END)
            AS BIGINT) AS delta_total
FROM d WHERE delta IS NOT NULL GROUP BY 1, 2
""",
)
def ts_downsample_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`delta` consolidation function: total wrap-corrected change per
    bucket, delta attributed to the bucket of the current sample
    (step-aligned; the proportional variant is `ts_bin_split`).

    Shares `tsdb.delta_consolidate` with the Counter64 path: the same
    code lifted to DecimalType(38,0) consolidates a real 2⁶⁴ counter
    digit-exactly (property-tested in tests/test_properties.py).
    """
    cnt = _counter(load_obs(spark, sf_dir)).withColumn(
        "counter", F.col("counter") % SYNTH_WRAP
    )
    return tsdb.delta_consolidate(cnt, "counter", SYNTH_WRAP, BUCKET).select(
        "path", "slot", F.col("delta_total").cast("bigint").alias("delta_total")
    )


# Shared with `ts_bin_split_bucketed` (storage2.py) — same allocation, a
# different physical layout; single-sourced so the twins cannot drift.
BIN_SPLIT_ORACLE = f"""
WITH {OBS_CTE}, {CNT_CTE},
d AS (
  SELECT path, tse, CAST(counter - lag(counter) OVER w AS DOUBLE) AS delta,
         tse - lag(tse) OVER w AS dt
  FROM cnt
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
spans AS (SELECT path, tse, delta, dt, tse - dt AS t0 FROM d
          WHERE delta IS NOT NULL AND dt > 0),
exploded AS (
  SELECT path, delta, dt, t0, tse,
         CAST(unnest(generate_series(t0 - t0 % {BUCKET},
                                     (tse - 1) - (tse - 1) % {BUCKET},
                                     {BUCKET})) AS BIGINT) AS bucket
  FROM spans
)
SELECT path, bucket,
       round(sum(delta * (least(tse, bucket + {BUCKET}) - greatest(t0, bucket))
                 / dt), 6) AS delta_alloc
FROM exploded GROUP BY 1, 2
"""


@op("ts_bin_split", oracle=BIN_SPLIT_ORACLE)
def ts_bin_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional allocation of deltas across bucket boundaries
    (Aggregator.update slot-boundary logic †): a delta over (t0, t1]
    spanning multiple buckets contributes time-weighted shares to each.

    Fan-out is keyed by ``path`` BELOW both windows: the one exchange in
    the plan carries raw obs rows, runs AQE-coalesce-exempt at full
    parallelism, and its HashPartitioning(path) satisfies the counter
    window, the delta window AND the final groupBy(path, bucket) — the
    ~50×-exploded allocation rows are aggregated in-stage and never
    reshuffled (exchanges 3 → 1; the round-robin shape shuffled the
    post-explode volume, the dominant cost at 10× series).  width=4
    sizes the fan-out for the post-explode in-stage volume (see
    session.fan_out) — still the one exchange.
    """
    from esxsnmp_tsdb_spark.session import fan_out

    cnt = _counter(fan_out(load_obs(spark, sf_dir), "path", width=4))
    d = tsdb.deltas(cnt, "counter").withColumn(
        "delta", F.col("delta").cast("double")
    )
    split = tsdb.bin_split(d, BUCKET, redistribute=False)
    return split.select(
        "path", "bucket", F.round("delta_alloc", 6).alias("delta_alloc")
    )


@op(
    "ts_agg_cascade",
    oracle=f"""
WITH {OBS_CTE},
fine AS (
  SELECT path, tse - tse % {FINE} AS slot, sum(value) AS sv,
         min(value) AS mn, max(value) AS mx, count(*) AS n
  FROM obs GROUP BY 1, 2
)
SELECT path, slot - slot % {BUCKET} AS slot,
       round(sum(sv) / sum(n), 6) AS average,
       min(mn) AS vmin, max(mx) AS vmax, CAST(sum(n) AS BIGINT) AS n
FROM fine GROUP BY 1, 2
""",
)
def ts_agg_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse aggregates computed from the next-finer level, not raw
    (``TSDBVar.update_all_aggregates`` †): the 5m consolidation partial
    merged to 1h, then finished.  Weighted mean = sum(sums)/sum(counts)
    keeps cascade(fine) ≡ direct.  Nothing reads ``last``, so Catalyst
    prunes its state from both aggregates.
    """
    fine = tsdb.consolidation_partial(load_obs(spark, sf_dir), FINE)
    return tsdb.finish_partial(tsdb.merge_partial(fine, BUCKET)).select(
        "path", "slot", F.round("average", 6).alias("average"), "vmin", "vmax", "n"
    )


@op(
    "ts_ladder_route",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % 7200 AS slot,
       round(avg(value), 6) AS value, count(*) AS n
FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
GROUP BY 1, 2
""",
)
def ts_ladder_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-ladder routing (``sources.ladder``): a 2-hour/average
    request is served from the stored 1h level and re-consolidated —
    never from raw (``update_all_aggregates`` † + ``esxsnmp/api.py`` †
    level pick).  The oracle computes the same answer directly from raw,
    proving the ladder is lossless for the weighted-average cascade."""
    from esxsnmp_tsdb_spark.sources.ladder import build_ladder, timerange

    obs = load_obs(spark, sf_dir)
    ladder = build_ladder(obs, levels=(300, 3600, 86400))
    routed = timerange(ladder, T_JAN10, T_JAN20, step=7200, cf="average")
    return routed.select(
        "path", "slot", F.round("value", 6).alias("value"), "n"
    )


@op(
    "ts_valid_ratio",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % {BUCKET} AS slot,
       round(avg(CASE WHEN (flags & 1) != 0 THEN 1.0 ELSE 0.0 END), 6)
         AS valid_ratio,
       count(*) AS n
FROM obs GROUP BY 1, 2
""",
)
def ts_valid_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of valid rows per bucket — the data-quality signal the
    reference exposes alongside aggregates (Aggregator †)."""
    obs = load_obs(spark, sf_dir)
    return (
        obs.groupBy("path", tsdb.slot_of(F.col("tse"), BUCKET).alias("slot"))
        .agg(
            F.round(
                F.avg(
                    F.when(F.col("flags").bitwiseAND(1) != 0, 1.0).otherwise(0.0)
                ),
                6,
            ).alias("valid_ratio"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@op(
    "ts_downsample_percentile",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % {BUCKET} AS slot,
       round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(value AS DOUBLE), 0.95), 4) AS p95,
       count(*) AS n
FROM obs GROUP BY path, tse - tse % {BUCKET}
""",
)
def ts_downsample_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile consolidation (p50/p95 per 1h slot) — the distribution-
    preserving downsample an SLO dashboard needs where avg/minmax levels
    hide tail behavior.

    Exact linear-interpolation percentile per (path, slot) group: Spark
    `percentile` ≡ DuckDB `quantile_cont` on DOUBLE (same parity as
    ts_billing_p95, rounded to 4).  Per-slot groups are bounded (≤ slot
    width / sample interval rows), so the exact sort-based percentile
    costs the same one shuffle as every other consolidation — at 100 TB
    the approx sketch (`approx_percentiles`) is the knob, not a rewrite."""
    obs = load_obs(spark, sf_dir)
    return (
        obs.groupBy("path", tsdb.slot_of(F.col("tse"), BUCKET).alias("slot"))
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@op(
    "ts_rate_invalid_reasons",
    oracle=f"""
WITH {OBS_CTE},
lagged AS (
  SELECT path, tse, value, flags,
         lag(tse) OVER w AS prev_tse,
         lag(value) OVER w AS prev_value,
         lag(flags) OVER w AS prev_flags
  FROM obs
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
classified AS (
  SELECT CASE WHEN prev_tse IS NULL THEN 'first'
              WHEN (flags & 1) = 0 OR (prev_flags & 1) = 0 THEN 'flagged'
              WHEN tse - prev_tse > {HEARTBEAT} THEN 'heartbeat'
              WHEN value < prev_value THEN 'decrease'
              ELSE 'ok' END AS reason
  FROM lagged
)
SELECT reason, count(*) AS n,
       round(count(*) * 1.0 / (SELECT count(*) FROM classified), 6) AS share
FROM classified GROUP BY reason
""",
)
def ts_rate_invalid_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-derivation triage: every sample classified by WHY its rate is
    (in)valid — no predecessor, invalid flag on either endpoint, heartbeat
    exceeded, or a value decrease (gauge drop / counter-wrap candidate).
    The operational "why is my graph empty" report behind the
    Aggregator's validity rules, with CASE precedence matching the rate
    path's checks in order.

    One shuffle on path for the lag window; the 5-row roll-up and its
    share denominator ride a broadcast 1-row total (one data pass)."""
    obs = load_obs(spark, sf_dir)
    w = Window.partitionBy("path").orderBy("tse", "event_id")
    lagged = obs.select(
        "tse",
        "value",
        "flags",
        F.lag("tse").over(w).alias("prev_tse"),
        F.lag("value").over(w).alias("prev_value"),
        F.lag("flags").over(w).alias("prev_flags"),
    )
    reason = (
        F.when(F.col("prev_tse").isNull(), "first")
        .when(
            (F.col("flags").bitwiseAND(1) == 0)
            | (F.col("prev_flags").bitwiseAND(1) == 0),
            "flagged",
        )
        .when(F.col("tse") - F.col("prev_tse") > HEARTBEAT, "heartbeat")
        .when(F.col("value") < F.col("prev_value"), "decrease")
        .otherwise("ok")
    )
    agg = lagged.select(reason.alias("reason")).groupBy("reason").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = agg.agg(F.sum("n").cast("double").alias("_total"))
    return agg.join(F.broadcast(total)).select(
        "reason", "n", F.round(F.col("n") / F.col("_total"), 6).alias("share")
    )
