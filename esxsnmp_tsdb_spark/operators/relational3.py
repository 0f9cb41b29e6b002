"""§2.4 relational surface, batch 3 (EXT): two aggregate shapes the
first two batches didn't cover — per-group quantile bucketing (NTILE)
and the deterministic per-group mode.

* ``window_ntile`` — decile assignment WITHIN each nation (partitioned
  window, never a global sort) rolled up into per-decile balance
  stats: the segmentation primitive behind `customer_rfm`, exposed as
  its own op with exact NTILE semantics.
* ``grouped_mode`` — most frequent value per group.  Built as
  count → rank rather than a native ``mode()`` because native modes
  leave tie-break unspecified (engine-dependent = hash-unstable); the
  count-desc + key-asc rank pins the answer on both engines.

Scale posture: NTILE partitions by nation — ~25 bounded partitions of
customers each, no single-task global window (plan-audit invariant);
mode is two hash aggregates + a partitioned rank over group-local
value counts.  Both survive arbitrary fact growth as long as no single
GROUP's distinct-value set exceeds a partition, which is the standard
mode contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views

NTILES = 10


@op(
    "window_ntile",
    oracle=f"""
WITH d AS (
  SELECT c_nationkey,
         ntile({NTILES}) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal, c_custkey) AS decile,
         c_acctbal
  FROM customer
)
SELECT c_nationkey, CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(min(c_acctbal), 6) AS min_bal,
       round(max(c_acctbal), 6) AS max_bal
FROM d GROUP BY c_nationkey, decile
""",
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance deciles via NTILE over a PARTITIONED
    window (order tie-broken by c_custkey so the bucket assignment is
    deterministic), rolled up into per-decile count and balance range —
    the banded-segmentation report.

    The window partitions by nation: each task sorts only its nation's
    customers, so there is no global sort and no single-partition window
    (the plan-audit invariant).  min/max per bucket avoids float
    summation entirely — the only doubles in the output are copied
    values, not accumulations."""
    c = register_views(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    d = c.select(
        "c_nationkey",
        F.ntile(NTILES).over(w).cast("bigint").alias("decile"),
        "c_acctbal",
    )
    return d.groupBy("c_nationkey", "decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("c_acctbal"), 6).alias("min_bal"),
        F.round(F.max("c_acctbal"), 6).alias("max_bal"),
    )


@op(
    "grouped_mode",
    oracle="""
WITH c AS (
  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY c_mktsegment, c_nationkey
),
r AS (
  SELECT c_mktsegment, c_nationkey, n,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY n DESC, c_nationkey) AS rn
  FROM c
)
SELECT c_mktsegment, c_nationkey AS modal_nationkey, n AS n_customers
FROM r WHERE rn = 1
""",
)
def grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most common nation per market
    segment, ties broken toward the smallest nation key.

    Native mode() aggregates don't specify tie-break order, which makes
    them hash-unstable across engines; the count → row_number
    formulation pins it, costs two map-side-combined aggregates plus a
    rank over the tiny (group, value) count table, and is the shape that
    scales: the fact table shuffles once on the composite key, and the
    rank input is |groups|·|values| rows, not facts."""
    c = register_views(spark, sf_dir)["customer"]
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), "c_nationkey"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("modal_nationkey"),
            F.col("n").alias("n_customers"),
        )
    )


SALT_R = 8  # replication factor for the salted join


@op(
    "salted_skew_join",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) / 100.0, 6) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: the fact side salts its join key with a
    deterministic salt (l_linenumber % R) and the dim side replicates
    R ways, so a hot orderkey's rows spread over R reducers instead of
    one straggler task — the manual recipe behind AQE's skew-join
    split, exposed as an operator for engines/pipelines that pin AQE
    off.  The oracle is the UNSALTED join: identical output proves the
    salt is pure plumbing.

    Revenue accumulates as integer cents before the one division, so
    the group sums are exact cross-engine.  At 100 TB: the replicated
    side costs R× a dim scan (still tiny), the fact side shuffles once
    on (key, salt) — no single reducer sees more than ~1/R of any hot
    key."""
    t = register_views(spark, sf_dir)
    li = t["lineitem"].withColumn("salt", (F.col("l_linenumber") % SALT_R))
    orders = t["orders"].withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_R)]))
    )
    j = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey) & (li.salt == orders.salt),
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(cents) / 100.0, 6).alias("revenue"),
    )


SKEW_TOP = 10


@op(
    "skew_key_report",
    oracle=f"""
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys FROM c),
r AS (
  SELECT user_id, n,
         row_number() OVER (ORDER BY n DESC, user_id) AS rank,
         sum(n) OVER (ORDER BY n DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_n
  FROM c
)
SELECT rank, user_id, n, total, n_keys,
       CAST({half_up_div('n', 'total', mul=1_000_000, idiv='//')} AS BIGINT)
         AS share_ppm,
       CAST({half_up_div('cum_n', 'total', mul=1_000_000, idiv='//')} AS BIGINT)
         AS cum_share_ppm
FROM r CROSS JOIN t WHERE rank <= {SKEW_TOP}
""",
)
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostics for a fact key: the top {SKEW_TOP} keys
    by row count with each key's share and the cumulative coverage, in
    half-up integer ppm — the report that decides whether a join/agg on
    this key needs the salting recipe (`functions/skew.py`,
    `salted_skew_join`) before it ships.  A top key holding >> 1/n_keys
    of the rows is the task-straggler signature; the cumulative column
    shows whether skew is one hot key or a fat head.

    Scale: one partial-aggregated group-by on the key (only (key, count)
    pairs shuffle), `ranked_topk` = TakeOrderedAndProject for the head,
    and the scalar totals broadcast back onto the {SKEW_TOP} survivors;
    the cumulative sum runs on the k-row bounded set via the audited
    `bounded_running` window — nothing global ever single-partitions
    the corpus."""
    from esxsnmp_tsdb_spark.functions.topk import bounded_running, ranked_topk

    ev = register_views(spark, sf_dir)["events"]
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    r = ranked_topk(c, SKEW_TOP, [F.col("n").desc(), F.col("user_id")])
    w = bounded_running(F.col("rank"), [F.col("rank")])
    return (
        r.withColumn("cum_n", F.sum("n").over(w))
        .crossJoin(F.broadcast(t))
        .select(
            "rank",
            "user_id",
            "n",
            "total",
            "n_keys",
            F.expr(
                f"CAST({half_up_div('n', 'total', mul=1_000_000)} AS BIGINT)"
            ).alias("share_ppm"),
            F.expr(
                f"CAST({half_up_div('cum_n', 'total', mul=1_000_000)}"
                " AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )
