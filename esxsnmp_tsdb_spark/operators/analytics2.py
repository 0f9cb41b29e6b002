"""§2.2-adjacent TSDB analytics, batch 2 (EXT): weighted moving average,
OHLC downsampling, missing-data islands, cross-series correlation,
calendar heatmaps, and day-over-day movers.

Same contract discipline as ``analytics.py``: every op composes the
§2.1/§2.2 primitives (OBS CTE twin, slot math), every reported float is
rounded on BOTH sides, and anything order-sensitive (top-k, island
grouping) runs on rounded values with explicit tiebreaks so the two
engines make identical discrete decisions.

Determinism notes specific to this module:

* ``ts_calendar_heatmap`` derives day-of-week as pure epoch integer math
  (``(epoch_day + 4) % 7`` — 1970-01-01 was a Thursday) instead of the
  engines' dayofweek() functions, whose week-start conventions differ
  (Spark: 1=Sunday; DuckDB dow: 0=Sunday).
* ``ts_wma`` uses the algebraic decomposition
  ``Σ (K-rn+i)·x_i = (K-rn)·Σx_i + Σ i·x_i`` so the linear-weighted MA
  is two O(n) running frames, not a per-row weight recomputation (and,
  unlike an EWMA closed form, involves no ``pow()`` whose magnitude
  explodes with series length).

Scale posture: every op is at most one shuffle on its natural key
(`path` or `(event_type, slot)`); the only global reduction is the
movers top-k, which plans as TakeOrderedAndProject via
``functions.topk.ranked_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.functions.topk import ranked_topk
from esxsnmp_tsdb_spark.operators._shared import (
    BUCKET,
    OBS_CTE,
    STEP,
    T_JAN10,
    T_JAN11,
    T_JAN20,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs

WMA_K = 6  # linear-WMA window: six 1h slots
MOVERS_N = 20


# Shared slot-series base: per (path, 1h slot) rounded average over the
# Jan-10..Jan-20 window.  Rounding BEFORE any downstream math keeps every
# derived float bit-identical across engines.
_SLOT_CTE = f"""slotavg AS (
  SELECT path, tse - tse % {BUCKET} AS slot,
         round(avg(value), 6) AS x
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
  GROUP BY 1, 2
)"""


def _slot_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        flat_obs(spark, sf_dir)
        .filter((F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20))
        .groupBy("path", tsdb.slot_of(F.col("tse"), BUCKET).alias("slot"))
        .agg(F.round(F.avg("value"), 6).alias("x"))
    )


@op(
    "ts_wma",
    oracle=f"""
WITH {OBS_CTE}, {_SLOT_CTE},
r AS (
  SELECT path, slot, x,
         row_number() OVER (PARTITION BY path ORDER BY slot) AS rn
  FROM slotavg
),
s AS (
  SELECT path, slot, rn,
         sum(x)      OVER w AS s1,
         sum(rn * x) OVER w AS s2,
         count(*)    OVER w AS m
  FROM r
  WINDOW w AS (PARTITION BY path ORDER BY rn
               ROWS BETWEEN {WMA_K - 1} PRECEDING AND CURRENT ROW)
)
SELECT path, slot,
       round((({WMA_K} - rn) * s1 + s2)
             / (({WMA_K} * {WMA_K + 1} - ({WMA_K} - m) * ({WMA_K} - m + 1)) / 2.0),
             6) AS wma
FROM s
""",
)
def ts_wma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-weighted moving average over the last {K} consolidated 1h
    slots (most-recent slot weighted {K}, oldest 1) — the smoothing a
    NOC dashboard overlays on a rate graph.

    The weighted sum is decomposed into two plain running-frame sums
    (``(K-rn)·Σx + Σ rn·x``), so the whole op is one shuffle on `path`
    plus O(1) per row — no per-frame weight array, no pow() blowup, and
    the ramp-up frames (fewer than K rows) fall out of the same algebra
    via the partial-weight denominator."""
    r = _slot_series(spark, sf_dir).withColumn(
        "rn", F.row_number().over(Window.partitionBy("path").orderBy("slot"))
    )
    w = (
        Window.partitionBy("path")
        .orderBy("rn")
        .rowsBetween(-(WMA_K - 1), Window.currentRow)
    )
    s = r.select(
        "path",
        "slot",
        "rn",
        F.sum("x").over(w).alias("s1"),
        F.sum(F.col("rn") * F.col("x")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("m"),
    )
    denom = (
        F.lit(WMA_K * (WMA_K + 1))
        - (F.lit(WMA_K) - F.col("m")) * (F.lit(WMA_K) - F.col("m") + 1)
    ) / 2.0
    return s.select(
        "path",
        "slot",
        F.round(((F.lit(WMA_K) - F.col("rn")) * F.col("s1") + F.col("s2")) / denom, 6)
        .alias("wma"),
    )


@op(
    "ts_downsample_ohlc",
    oracle=f"""
WITH {OBS_CTE},
r AS (
  SELECT path, tse - tse % {BUCKET} AS slot, value,
         row_number() OVER (PARTITION BY path, tse - tse % {BUCKET}
                            ORDER BY tse, event_id) AS rn,
         row_number() OVER (PARTITION BY path, tse - tse % {BUCKET}
                            ORDER BY tse DESC, event_id DESC) AS rnd
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN11}
)
SELECT path, slot,
       max(CASE WHEN rn = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rnd = 1 THEN value END) AS close,
       count(*) AS n
FROM r GROUP BY path, slot
""",
)
def ts_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close consolidation per 1h bucket — the candlestick
    downsample (financial framing of the reference's avg/min/max/last
    aggregate family †, all four in ONE pass).

    First/last are selected by row_number over (tse, event_id) — the
    same total order every §2.1 op uses — then folded into the group-by
    as conditional aggregates, so the whole op rides a single
    (path, slot) shuffle: the two window sorts and the hash aggregate
    all share one exchange.  Raw values pass through untouched (no
    arithmetic), so no rounding is needed for cross-engine equality."""
    obs = flat_obs(spark, sf_dir).filter(
        (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN11)
    )
    slot = tsdb.slot_of(F.col("tse"), BUCKET).alias("slot")
    base = obs.select("path", slot, "value", "tse", "event_id")
    pw = Window.partitionBy("path", "slot")
    r = base.select(
        "path",
        "slot",
        "value",
        F.row_number().over(pw.orderBy("tse", "event_id")).alias("rn"),
        F.row_number()
        .over(pw.orderBy(F.col("tse").desc(), F.col("event_id").desc()))
        .alias("rnd"),
    )
    return r.groupBy("path", "slot").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rnd") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@op(
    "ts_missing_islands",
    oracle=f"""
WITH {OBS_CTE},
observed AS (
  SELECT DISTINCT path, tse - tse % {STEP} AS slot
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN11}
),
grid AS (
  SELECT p.path, CAST(g.generate_series AS BIGINT) AS slot
  FROM (SELECT DISTINCT path FROM obs) p,
       generate_series({T_JAN10}, {T_JAN11 - 1}, {STEP}) g
),
missing AS (
  SELECT g.path, g.slot,
         row_number() OVER (PARTITION BY g.path ORDER BY g.slot) AS rn
  FROM grid g LEFT JOIN observed o ON g.path = o.path AND g.slot = o.slot
  WHERE o.slot IS NULL
)
SELECT path, min(slot) AS island_start, max(slot) AS island_end,
       count(*) AS n_missing
FROM missing
GROUP BY path, slot / {STEP} - rn
""",
)
def ts_missing_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous runs of never-written slots per series — the outage
    report (gaps-and-islands over the dense grid the reference's
    fixed-slot files make implicit †).

    Grid = distinct paths × broadcast slot range (the range is tiny —
    one row per step — so the cross join is a broadcast nested loop over
    the path list, never a shuffle); missing slots fall out of a LEFT
    ANTI join; islands group by the classic ``slot/step − row_number``
    invariant, which is constant exactly within a consecutive run.  One
    path-keyed shuffle end to end."""
    obs = flat_obs(spark, sf_dir)
    observed = (
        obs.filter((F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN11))
        .select("path", tsdb.slot_of(F.col("tse"), STEP).alias("slot"))
        .distinct()
    )
    grid = obs.select("path").distinct().join(
        F.broadcast(
            obs.sparkSession.range(T_JAN10, T_JAN11, STEP).select(
                F.col("id").alias("slot")
            )
        )
    )
    missing = grid.join(observed, ["path", "slot"], "left_anti").withColumn(
        "rn", F.row_number().over(Window.partitionBy("path").orderBy("slot"))
    )
    return (
        missing.groupBy(
            "path", (F.col("slot") / STEP - F.col("rn")).alias("_grp")
        )
        .agg(
            F.min("slot").alias("island_start"),
            F.max("slot").alias("island_end"),
            F.count(F.lit(1)).alias("n_missing"),
        )
        .drop("_grp")
    )


@op(
    "ts_series_correlation",
    oracle=f"""
WITH {OBS_CTE},
s AS (
  SELECT split_part(path, '/', 2) AS et, tse - tse % {BUCKET} AS slot,
         round(avg(value), 6) AS x
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
  GROUP BY 1, 2
),
p AS (
  SELECT a.et AS et_a, b.et AS et_b, a.x AS xa, b.x AS xb
  FROM s a JOIN s b ON a.slot = b.slot AND a.et < b.et
),
m AS (
  SELECT et_a, et_b, count(*) AS n,
         sum(xa) AS sx, sum(xb) AS sy, sum(xa * xb) AS sxy,
         sum(xa * xa) AS sxx, sum(xb * xb) AS syy
  FROM p GROUP BY et_a, et_b
)
SELECT et_a, et_b, n,
       round((n * sxy - sx * sy)
             / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0),
             4) AS corr
FROM m
""",
)
def ts_series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the per-event-type hourly
    series — "which metrics move together" (the capacity-planning
    cross-correlation matrix).

    The series axis is LOW cardinality (event types), so the pair join
    is slot-keyed: co-slotted readings meet on an equi-join on `slot`
    and each pair's moment sums reduce in one hash aggregate — the
    corpus of pairs is |slots| × C(k,2), never |obs|².  Correlation is
    computed from the five moment sums explicitly (identical algebra in
    both engines, unlike corr()'s engine-specific accumulation), on
    slot averages rounded BEFORE the sums."""
    s = (
        flat_obs(spark, sf_dir)
        .filter((F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20))
        .groupBy(
            F.split("path", "/").getItem(1).alias("et"),
            tsdb.slot_of(F.col("tse"), BUCKET).alias("slot"),
        )
        .agg(F.round(F.avg("value"), 6).alias("x"))
    )
    a = s.select(F.col("et").alias("et_a"), "slot", F.col("x").alias("xa"))
    b = s.select(F.col("et").alias("et_b"), "slot", F.col("x").alias("xb"))
    p = a.join(b, "slot").filter(F.col("et_a") < F.col("et_b"))
    m = p.groupBy("et_a", "et_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
    )
    denom = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "et_a",
        "et_b",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(denom, F.lit(0.0)),
            4,
        ).alias("corr"),
    )


@op(
    "ts_calendar_heatmap",
    oracle=f"""
WITH {OBS_CTE}
SELECT split_part(path, '/', 2) AS et,
       CAST((floor(tse / 86400) + 4) % 7 AS BIGINT) AS dow,
       CAST(floor(tse % 86400 / 3600) AS BIGINT) AS hour,
       count(*) AS n, round(avg(value), 6) AS avg_value
FROM obs
GROUP BY 1, 2, 3
""",
)
def ts_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity matrix per event type — the
    weekly-seasonality heatmap.  Time axes are pure epoch integer math
    (``(epoch_day + 4) % 7``, 0 = Thursday) rather than either engine's
    dayofweek(), whose week-start conventions disagree; one hash
    aggregate on a 3-part low-cardinality key, fully map-side
    combinable."""
    obs = flat_obs(spark, sf_dir)
    return obs.groupBy(
        F.split("path", "/").getItem(1).alias("et"),
        ((F.floor(F.col("tse") / 86400) + 4) % 7).cast("bigint").alias("dow"),
        F.floor((F.col("tse") % 86400) / 3600).cast("bigint").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


@op(
    "ts_percent_change_movers",
    oracle=f"""
WITH {OBS_CTE},
daily AS (
  SELECT path, CAST(floor(tse / 86400) AS BIGINT) AS day_num,
         round(sum(value), 6) AS day_sum
  FROM obs GROUP BY 1, 2
),
chg AS (
  SELECT path, day_num, day_sum,
         lag(day_sum) OVER w AS prev_sum,
         lag(day_num) OVER w AS prev_day
  FROM daily
  WINDOW w AS (PARTITION BY path ORDER BY day_num)
),
pct AS (
  SELECT path, day_num, day_sum, prev_sum,
         round((day_sum - prev_sum) / prev_sum * 100, 6) AS pct_change
  FROM chg
  WHERE prev_day = day_num - 1 AND prev_sum <> 0
)
SELECT path, day_num, day_sum, prev_sum, pct_change, rank FROM (
  SELECT *, row_number() OVER (
           ORDER BY abs(pct_change) DESC, path, day_num) AS rank
  FROM pct
) WHERE rank <= {MOVERS_N}
""",
)
def ts_percent_change_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top day-over-day movers: per-series daily volume, percent change
    vs the previous CONSECUTIVE day, global top-{N} by absolute change —
    "what changed overnight".

    One path-keyed shuffle for the daily rollup + lag; the global top-k
    is ``ranked_topk`` (TakeOrderedAndProject — per-partition heaps, no
    single-partition window).  The ordering key is the ROUNDED percent
    change with (path, day) tiebreaks, so both engines pick the same 20
    rows."""
    daily = (
        flat_obs(spark, sf_dir)
        .groupBy(
            "path", F.floor(F.col("tse") / 86400).cast("bigint").alias("day_num")
        )
        .agg(F.round(F.sum("value"), 6).alias("day_sum"))
    )
    w = Window.partitionBy("path").orderBy("day_num")
    chg = daily.select(
        "path",
        "day_num",
        "day_sum",
        F.lag("day_sum").over(w).alias("prev_sum"),
        F.lag("day_num").over(w).alias("prev_day"),
    )
    pct = chg.filter(
        (F.col("prev_day") == F.col("day_num") - 1) & (F.col("prev_sum") != 0)
    ).select(
        "path",
        "day_num",
        "day_sum",
        "prev_sum",
        F.round(
            (F.col("day_sum") - F.col("prev_sum")) / F.col("prev_sum") * 100, 6
        ).alias("pct_change"),
    )
    return ranked_topk(
        pct,
        MOVERS_N,
        [F.abs(F.col("pct_change")).desc(), F.col("path"), F.col("day_num")],
    ).select("path", "day_num", "day_sum", "prev_sum", "pct_change", "rank")
