"""§2.2 analytics surface, batch 7 (EXT): the NOC triage pair — change
attribution (which series moved the class total) and alert flap
detection (which series oscillate around their threshold).

Determinism: traffic is integer cents throughout; breach decisions
compare chain-rounded slot averages (round 6 before compare, the
`ts_alert_rules_eval` discipline); ranks order on exact integers with a
path tiebreak.

Scale posture: both ops are scan → one keyed aggregate → one
partitioned window over the (bounded) per-series aggregate; the change
rank partitions by event class, never globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import (
    BUCKET,
    OBS_CTE,
    T_JAN10,
    T_JAN11,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs

T_JAN12 = T_JAN11 + 86400
CONTRIB_TOP = 3

FLAP_THRESH = 60.0  # slot-average breach line
FLAP_MIN = 4  # state changes before a series counts as flapping


@op(
    "ts_topk_change_contributors",
    oracle=f"""
WITH {OBS_CTE},
per AS (
  SELECT path, split_part(path, '/', 2) AS event_type,
         CAST(sum(CASE WHEN tse >= {T_JAN10} AND tse < {T_JAN11}
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS d1_cents,
         CAST(sum(CASE WHEN tse >= {T_JAN11} AND tse < {T_JAN12}
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS d2_cents
  FROM obs
  WHERE tse >= {T_JAN10} AND tse < {T_JAN12}
  GROUP BY 1, 2
),
d AS (
  SELECT *, d2_cents - d1_cents AS delta_cents,
         CAST(sum(d2_cents - d1_cents) OVER (PARTITION BY event_type)
              AS BIGINT) AS class_delta_cents
  FROM per
)
SELECT event_type, path, d1_cents, d2_cents, delta_cents,
       class_delta_cents, rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(delta_cents) DESC, path) AS rank
  FROM d
) WHERE rank <= {CONTRIB_TOP}
""",
)
def ts_topk_change_contributors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-over-day change attribution: for each event class, the
    {CONTRIB_TOP} series that moved the class total most between Jan 10
    and Jan 11 (|Δ| ranked), alongside the class-level Δ they explain —
    the "traffic jumped 20%, WHO did it" NOC query that composes
    `ts_percent_change_movers` (which series moved) with the class
    roll-up (how much of the move they own).

    One conditional-aggregate scan produces both days per series (no
    second pass, no join of two filtered scans); the class Δ is a window
    over the per-series AGGREGATE (bounded by the catalog) and the rank
    partitions by class — both windows are catalog-sized.  All traffic
    is exact integer cents end to end."""
    obs = flat_obs(spark, sf_dir).filter(
        (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN12)
    )
    cents = F.floor(F.col("value") * 100).cast("bigint")
    per = (
        obs.select(
            "path",
            F.split("path", "/").getItem(1).alias("event_type"),
            F.when(
                (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN11), cents
            )
            .otherwise(0)
            .alias("c1"),
            F.when(
                (F.col("tse") >= T_JAN11) & (F.col("tse") < T_JAN12), cents
            )
            .otherwise(0)
            .alias("c2"),
        )
        .groupBy("path", "event_type")
        .agg(
            F.sum("c1").cast("bigint").alias("d1_cents"),
            F.sum("c2").cast("bigint").alias("d2_cents"),
        )
    )
    d = per.withColumn(
        "delta_cents", F.col("d2_cents") - F.col("d1_cents")
    ).withColumn(
        "class_delta_cents",
        F.sum("delta_cents")
        .over(Window.partitionBy("event_type"))
        .cast("bigint"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("delta_cents")).desc(), "path"
    )
    return (
        d.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= CONTRIB_TOP)
        .select(
            "event_type",
            "path",
            "d1_cents",
            "d2_cents",
            "delta_cents",
            "class_delta_cents",
            "rank",
        )
    )


@op(
    "ts_alert_flap_detect",
    oracle=f"""
WITH {OBS_CTE},
s AS (
  SELECT path, tse - tse % {BUCKET} AS slot, round(avg(value), 6) AS x
  FROM obs GROUP BY 1, 2
),
b AS (
  SELECT path, slot,
         CASE WHEN x > {FLAP_THRESH} THEN 1 ELSE 0 END AS breach
  FROM s
),
t AS (
  SELECT path, breach,
         lag(breach) OVER (PARTITION BY path ORDER BY slot) AS prev
  FROM b
),
agg AS (
  SELECT path,
         CAST(sum(CASE WHEN prev IS NOT NULL AND breach != prev
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
         CAST(sum(breach) AS BIGINT) AS n_breach_slots,
         count(*) AS n_slots
  FROM t GROUP BY path
)
SELECT path, n_transitions, n_breach_slots, n_slots
FROM agg WHERE n_transitions >= {FLAP_MIN}
""",
)
def ts_alert_flap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert flap detection: series whose hourly slot average crosses the
    {FLAP_THRESH} breach line {FLAP_MIN}+ times — the hysteresis report
    that separates a flapping alert (notify once, add damping) from a
    sustained breach (`ts_alert_rules_eval` fires per slot; this op says
    which of those alert streams are noise).

    Consolidate → breach bool → one lag window per series → aggregate:
    the state-change count is a sum over slot-to-slot XORs inside the
    per-path partition.  Breach compares the chain-rounded slot average,
    so the flap count is bit-stable cross-engine."""
    obs = flat_obs(spark, sf_dir)
    s = obs.groupBy(
        "path", tsdb.slot_of(F.col("tse"), BUCKET).alias("slot")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    b = s.select(
        "path",
        "slot",
        (F.col("x") > FLAP_THRESH).cast("int").alias("breach"),
    )
    w = Window.partitionBy("path").orderBy("slot")
    t = b.select(
        "path", "breach", F.lag("breach").over(w).alias("prev")
    )
    agg = t.groupBy("path").agg(
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("breach") != F.col("prev")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_transitions"),
        F.sum("breach").cast("bigint").alias("n_breach_slots"),
        F.count(F.lit(1)).alias("n_slots"),
    )
    return agg.filter(F.col("n_transitions") >= FLAP_MIN).select(
        "path", "n_transitions", "n_breach_slots", "n_slots"
    )
