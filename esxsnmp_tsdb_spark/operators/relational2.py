"""§2.4/§2.6 supplements: batch sessionization (the lag-gap twin of
`stream_session`), pivot/unpivot, approximate percentiles (the 100 TB
quantile path), and a salted aggregation demonstrating the skew recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.skew import salted_agg
from esxsnmp_tsdb_spark.operators._shared import OBS_CTE
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs, register_views

SESSION_GAP_SEC = 1800


@op(
    "ts_sessionize",
    oracle=f"""
WITH {OBS_CTE},
flagged AS (
  SELECT path, tse, event_id,
         CASE WHEN tse - lag(tse) OVER w > {SESSION_GAP_SEC}
              OR lag(tse) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM obs
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
sessions AS (
  SELECT path, tse,
         SUM(new_session) OVER (PARTITION BY path ORDER BY tse, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT path, CAST(sid AS BIGINT) AS sid, min(tse) AS session_start,
       max(tse) AS session_last, count(*) AS n_events,
       max(tse) - min(tse) AS duration_sec
FROM sessions GROUP BY path, sid
""",
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — lag-gap flag + running sum (the classic
    two-window formulation; one shuffle on path serves both windows).
    Batch twin of `stream_session`; gap == the heartbeat idea (§2.2)."""
    obs = flat_obs(spark, sf_dir)
    w = Window.partitionBy("path").orderBy("tse", "event_id")
    # Cumsum ordered by the SAME total order as the boundary flag — a
    # tse tie at a session boundary must not reorder between engines.
    wrun = Window.partitionBy("path").orderBy("tse", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = obs.withColumn(
        "new_session",
        F.when(
            (F.col("tse") - F.lag("tse").over(w) > SESSION_GAP_SEC)
            | F.lag("tse").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("sid", F.sum("new_session").over(wrun))
    return sessions.groupBy("path", F.col("sid").cast("bigint").alias("sid")).agg(
        F.min("tse").alias("session_start"),
        F.max("tse").alias("session_last"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("tse") - F.min("tse")).alias("duration_sec"),
    )


@op(
    "pivot_unpivot",
    oracle="""
WITH agg AS (
  SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
         round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'O' AS linestatus, qty_O AS qty FROM agg
UNION ALL
SELECT l_returnflag, 'F' AS linestatus, qty_F AS qty FROM agg
""",
)
def pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide (explicit value list → single-pass, no extra job to
    discover columns) then unpivot back via ``stack`` — round-trips the
    long layout, proving both directions."""
    li = register_views(spark, sf_dir)["lineitem"]
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return wide.select(
        "l_returnflag",
        F.expr("stack(2, 'O', `O`, 'F', `F`) AS (linestatus, qty)"),
    )


@op("approx_percentiles")
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95 via the KLL-style sketch behind
    ``percentile_approx`` — fixed memory per group, mergeable partials;
    the quantile path that actually runs at 100 TB (exact twin:
    `percentiles`).  Rows-only: sketch output has no cross-engine oracle.
    """
    return (
        register_views(spark, sf_dir)["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("o_totalprice", 0.95, 10000).alias("p95_approx"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@op(
    "salted_aggregate",
    oracle="""
SELECT event_type,
       round(sum(value), 2) AS sum_value,
       min(value) AS min_value, max(value) AS max_value,
       count(*) AS n
FROM events GROUP BY event_type
""",
)
def salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew recipe as an operator: two-phase salted aggregation over
    event_type (5 hot keys × 20k rows each at sf0.1 — exactly the shape
    where one reducer would otherwise own a whole key).  Result is
    identical to the direct group-by (the oracle computes it directly);
    only the task-size distribution changes."""
    ev = register_views(spark, sf_dir)["events"].select("event_type", "value")
    out = salted_agg(
        ev,
        keys=["event_type"],
        n_salts=16,
        sum_cols=("value",),
        min_cols=("value",),
        max_cols=("value",),
    )
    return out.select(
        "event_type",
        F.round("sum_value", 2).alias("sum_value"),
        F.col("min_value"),
        F.col("max_value"),
        "n",
    )


@op(
    "window_distribution",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile quartiles, percent_rank,
    cume_dist per order priority (the remaining window family beyond
    rank/running/lag).  The compound (o_totalprice, o_orderkey) order
    makes ntile's positional split deterministic under price ties.
    Same single-shuffle shape as every other window op."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return register_views(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@op(
    "asof_join_nearest",
    oracle="""
WITH e AS (SELECT event_id, user_id, event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) AS tse
           FROM events),
tagged AS (
  SELECT user_id, tse, event_id, event_type,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id_t,
         CASE WHEN event_type = 'click' THEN tse END AS click_tse_t
  FROM e WHERE event_type IN ('click', 'purchase')
),
filled AS (
  SELECT user_id, tse, event_id, event_type,
         last_value(click_id_t IGNORE NULLS) OVER wb AS prev_id,
         last_value(click_tse_t IGNORE NULLS) OVER wb AS prev_tse,
         first_value(click_id_t IGNORE NULLS) OVER wf AS next_id,
         first_value(click_tse_t IGNORE NULLS) OVER wf AS next_tse
  FROM tagged
  WINDOW wb AS (PARTITION BY user_id ORDER BY tse, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY tse, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id AS purchase_id, user_id, tse AS purchase_tse,
       CASE WHEN next_tse IS NULL THEN prev_id
            WHEN prev_tse IS NULL THEN next_id
            WHEN tse - prev_tse <= next_tse - tse THEN prev_id
            ELSE next_id END AS near_click_id,
       CASE WHEN next_tse IS NULL THEN tse - prev_tse
            WHEN prev_tse IS NULL THEN next_tse - tse
            WHEN tse - prev_tse <= next_tse - tse THEN tse - prev_tse
            ELSE next_tse - tse END AS near_gap
FROM filled WHERE event_type = 'purchase'
""",
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of variant: each purchase pairs with its CLOSEST
    click per user, before or after (backward as-of is `asof_join`; the
    nearest flavor is what sensor alignment and feature-store lookups
    want).  Ties (equidistant) take the earlier click — both engines
    break them with `<=` on the backward gap.

    Same union+window shape as `asof_join` — backward forward-fill plus
    a mirrored forward fill over ONE user_id shuffle (both window frames
    share the sort), then an arithmetic pick.  No inequality join, no
    explosion, no second shuffle."""
    e = register_views(spark, sf_dir)["events"].select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("tse"),
    )
    tagged = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "tse",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id_t"),
        F.when(F.col("event_type") == "click", F.col("tse")).alias("click_tse_t"),
    )
    ob = Window.partitionBy("user_id").orderBy("tse", "event_id")
    wb = ob.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = ob.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    filled = tagged.select(
        "user_id",
        "tse",
        "event_id",
        "event_type",
        F.last("click_id_t", ignorenulls=True).over(wb).alias("prev_id"),
        F.last("click_tse_t", ignorenulls=True).over(wb).alias("prev_tse"),
        F.first("click_id_t", ignorenulls=True).over(wf).alias("next_id"),
        F.first("click_tse_t", ignorenulls=True).over(wf).alias("next_tse"),
    )
    prev_gap = F.col("tse") - F.col("prev_tse")
    next_gap = F.col("next_tse") - F.col("tse")
    take_prev = F.col("next_tse").isNull() | (
        F.col("prev_tse").isNotNull() & (prev_gap <= next_gap)
    )
    return filled.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("tse").alias("purchase_tse"),
        F.when(take_prev, F.col("prev_id")).otherwise(F.col("next_id"))
        .alias("near_click_id"),
        F.when(take_prev, prev_gap).otherwise(next_gap).alias("near_gap"),
    )


@op(
    "array_agg_sorted",
    oracle="""
SELECT lang, count(DISTINCT source) AS n_sources,
       string_agg(DISTINCT source, ',' ORDER BY source) AS sources_csv
FROM documents GROUP BY lang
""",
)
def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set aggregation parity: the distinct sources per language
    as a canonical sorted CSV — Spark's `sort_array(collect_set(...))` ≡
    DuckDB's ordered `string_agg(DISTINCT ...)`.  Collection aggregates
    are unordered by contract on both engines, so any op that EMITS a
    collection must impose the order itself; this op is the registry's
    proof of that rule.

    Per-group state is the distinct source set (bounded by domain
    cardinality); one shuffle, partial collect_set map-side."""
    docs = register_views(spark, sf_dir)["documents"]
    return docs.groupBy("lang").agg(
        F.countDistinct("source").alias("n_sources"),
        F.concat_ws(",", F.sort_array(F.collect_set("source"))).alias("sources_csv"),
    )


BASKET_TOP = 20


@op(
    "market_basket_pairs",
    oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS n_orders
FROM pairs GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT {BASKET_TOP}
""",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the part pairs most often bought in the
    same order.  The pair space is generated by a SELF-JOIN ON THE ORDER
    KEY — pairs explode per order (k items → k·(k−1)/2 rows), never
    across orders, so the blow-up is bounded by basket size, not corpus
    size.  Distinct (order, part) first so duplicate lines don't inflate
    counts; top-{BASKET_TOP} is TakeOrdered on the counted aggregate."""
    li = (
        register_views(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


@op(
    "customer_rfm",
    oracle="""
WITH base AS (
  SELECT o_custkey,
         max(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS recency_tse,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
),
th AS (
  SELECT round(quantile_cont(CAST(recency_tse AS DOUBLE), 0.5), 4) AS r_med,
         round(quantile_cont(CAST(frequency AS DOUBLE), 0.5), 4) AS f_med,
         round(quantile_cont(monetary, 0.5), 4) AS m_med
  FROM base
)
SELECT concat(CASE WHEN recency_tse > r_med THEN 'R1' ELSE 'R0' END,
              CASE WHEN frequency > f_med THEN 'F1' ELSE 'F0' END,
              CASE WHEN monetary > m_med THEN 'M1' ELSE 'M0' END) AS rfm,
       count(*) AS n_customers,
       round(sum(monetary), 2) AS seg_monetary
FROM base, th
GROUP BY 1
""",
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation done the scale-correct way: instead of a global
    ``ntile() OVER (ORDER BY …)`` — a single-partition window the plan
    audit forbids — the split thresholds are exact medians computed as a
    1-row aggregate and BROADCAST back onto the per-customer stream.
    Same segmentation, no global sort, no single-task funnel.

    Two shuffles total (per-customer base aggregate; 8-row segment
    roll-up).  Medians use the proven Spark-percentile ≡ DuckDB-
    quantile_cont parity, rounded before the strict compare so both
    engines cut every customer on the same side."""
    base = (
        register_views(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max(F.unix_timestamp("o_orderdate")).alias("recency_tse"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    th = base.agg(
        F.round(F.expr("percentile(CAST(recency_tse AS DOUBLE), 0.5)"), 4).alias("r_med"),
        F.round(F.expr("percentile(CAST(frequency AS DOUBLE), 0.5)"), 4).alias("f_med"),
        F.round(F.expr("percentile(monetary, 0.5)"), 4).alias("m_med"),
    )
    rfm = F.concat(
        F.when(F.col("recency_tse") > F.col("r_med"), "R1").otherwise("R0"),
        F.when(F.col("frequency") > F.col("f_med"), "F1").otherwise("F0"),
        F.when(F.col("monetary") > F.col("m_med"), "M1").otherwise("M0"),
    )
    return (
        base.join(F.broadcast(th))
        .groupBy(rfm.alias("rfm"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("seg_monetary"),
        )
    )
