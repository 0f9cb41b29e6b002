"""Product/behavioral analytics over the `events` fixture (EXT — §2.4
report surface): conversion funnel, retention cohorts, and event-transition
bigrams.  These are the standard "what do users do" queries a TSDB-adjacent
analytics engine is asked for once events carry a user dimension.

Cross-engine time discipline: Spark sees `ts` at microsecond precision
(a NANOS column is rebuilt by the catalog) while DuckDB reads parquet
nanos natively, so any ordering or comparison on raw timestamps can
disagree in sub-microsecond digits.  Every op here therefore works on ``tse = floor-epoch-seconds``
with ``event_id`` as the tiebreak — identical on both engines (same rule
as ``_shared.OBS_CTE``).

Scale posture: the funnel and bigram ops shuffle ONCE on ``user_id`` (all
window passes share the partitioning; the final tiny aggregate rides AQE);
retention adds the unavoidable second shuffle onto the (cohort, offset)
grid.  Nothing materializes per-user state wider than a few columns, so
per-user cardinality (the 100 TB axis) only grows the shuffle, not the
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

# DuckDB twin of the per-user funnel timestamps (keep in lockstep with
# event_funnel below).  Strictly-after semantics at second granularity.
_FUNNEL_CTE = """ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tse
  FROM events
),
u AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN tse END) AS t_view
  FROM ev GROUP BY user_id
),
u2 AS (
  SELECT e.user_id, any_value(u.t_view) AS t_view,
         min(CASE WHEN e.event_type = 'click' AND e.tse > u.t_view
                  THEN e.tse END) AS t_click
  FROM ev e JOIN u ON e.user_id = u.user_id
  GROUP BY e.user_id
),
u3 AS (
  SELECT e.user_id, any_value(u2.t_view) AS t_view,
         any_value(u2.t_click) AS t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.tse > u2.t_click
                  THEN e.tse END) AS t_buy
  FROM ev e JOIN u2 ON e.user_id = u2.user_id
  GROUP BY e.user_id
)"""


def _ev(t) -> DataFrame:
    return t["events"].select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("tse"),
    )


@op(
    "event_funnel",
    oracle=f"""
WITH {_FUNNEL_CTE},
f AS (
  SELECT count(t_view) AS n1, count(t_click) AS n2, count(t_buy) AS n3
  FROM u3
)
SELECT step, n_users, round(n_users * 1.0 / nullif(n1, 0), 6) AS conv_from_first
FROM (
  SELECT 'step1_view' AS step, n1 AS n_users, n1 FROM f
  UNION ALL SELECT 'step2_click', n2, n1 FROM f
  UNION ALL SELECT 'step3_purchase', n3, n1 FROM f
)
""",
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel with strictly-ordered
    steps (each step must happen AFTER the user's previous step, not
    merely ever).

    One shuffle: the three "first time reaching step k" columns are
    chained min-windows over the same ``user_id`` partitioning (no order
    spec — no sort, no single-partition risk), the per-user reduction
    reuses that partitioning, and the 3-row unpivot is driver-trivial.
    The oracle computes the identical chain as grouped self-joins."""
    w = Window.partitionBy("user_id")
    ev = _ev(register_views(spark, sf_dir))
    stepped = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("tse"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("tse") > F.col("t_view")),
                    F.col("tse"),
                )
            ).over(w),
        )
        .withColumn(
            "t_buy",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("tse") > F.col("t_click")),
                    F.col("tse"),
                )
            ).over(w),
        )
    )
    per_user = stepped.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_buy").alias("t_buy"),
    )
    f = per_user.agg(
        F.count("t_view").alias("n1"),
        F.count("t_click").alias("n2"),
        F.count("t_buy").alias("n3"),
    )
    steps = F.array(
        F.struct(F.lit("step1_view").alias("step"), F.col("n1").alias("n_users")),
        F.struct(F.lit("step2_click").alias("step"), F.col("n2").alias("n_users")),
        F.struct(F.lit("step3_purchase").alias("step"), F.col("n3").alias("n_users")),
    )
    return (
        f.select(F.explode(steps).alias("s"), "n1")
        .select(
            F.col("s.step").alias("step"),
            F.col("s.n_users").alias("n_users"),
            F.round(
                F.col("s.n_users") / F.nullif(F.col("n1").cast("double"), F.lit(0.0)), 6
            ).alias("conv_from_first"),
        )
    )


@op(
    "retention_cohort",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
coh AS (
  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
)
SELECT c.cohort_day, e.day - c.cohort_day AS offset_days,
       count(DISTINCT e.user_id) AS n_users, count(*) AS n_events
FROM ev e JOIN coh c ON e.user_id = c.user_id
GROUP BY c.cohort_day, e.day - c.cohort_day
""",
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by first-seen day, then
    activity counted per day-offset from that cohort day.

    Cohort assignment is a min-window over ``user_id`` (shuffle 1); the
    (cohort, offset) roll-up is shuffle 2 — both partial-aggregated
    map-side.  Day arithmetic is integer epoch-days, so both engines
    bucket identically regardless of timestamp precision."""
    ev = register_views(spark, sf_dir)["events"].select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    )
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("cohort_day", F.min("day").over(w))
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@op(
    "event_bigrams",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS tse
  FROM events
),
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY tse, event_id)
           AS prev_type
  FROM ev
)
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
ORDER BY n DESC, prev_type, next_type
LIMIT 20
""",
)
def event_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common consecutive event-type transitions (behavioral
    bigrams).  lag() over (user, time) — one shuffle on user_id, sorted
    within partitions only; the transition matrix is ≤ |event_type|² rows
    so the top-20 is a TakeOrdered over a tiny aggregate.  Ordering ties
    (tse, event_id) are engine-stable by construction."""
    ev = _ev(register_views(spark, sf_dir))
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "prev_type", "next_type")
        .limit(20)
    )


@op(
    "cumulative_distinct_users",
    oracle="""
WITH ev AS (
  SELECT event_type, user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
firsts AS (
  SELECT event_type, user_id, min(day) AS first_day
  FROM ev GROUP BY event_type, user_id
),
per_day AS (
  SELECT event_type, first_day AS day, count(*) AS n_new
  FROM firsts GROUP BY event_type, first_day
)
SELECT event_type, day, n_new,
       CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM per_day
""",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — computed as
    FIRST-TOUCH counts + a running integer sum, NOT a windowed
    ``COUNT(DISTINCT)``.

    The naive windowed-distinct formulation keeps every seen user id in
    per-frame state (O(users) per row — a scale-killer, and Spark has no
    exact windowed distinct anyway).  First-touch reduction makes it two
    cheap shuffles: min(day) per (type, user), then a per-type running
    sum over at most |days| rows.  Integer math end to end, so no float
    discipline is even needed."""
    ev = register_views(spark, sf_dir)["events"].select(
        "event_type",
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    )
    firsts = ev.groupBy("event_type", "user_id").agg(F.min("day").alias("first_day"))
    per_day = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        "event_type", "day", "n_new", F.sum("n_new").over(w).alias("cum_users")
    )
