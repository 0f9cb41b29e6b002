"""TPC-H-adapted query pack — 16 of the 22 queries live here; the six
blocked on absent columns (Q2/Q9/Q11/Q16/Q20 need `partsupp`, Q12 needs
shipmode/commit/receipt dates) live in ``tpch2.py`` on top of derived
columns.  Q4/Q21 substitute "shipped (long) after the order
date" for the missing commit/receipt-date lateness; Q22 substitutes
market segment + order dormancy for the missing phone prefix.

These are the workload-representative queries for the bench: multi-way
broadcast+shuffle joins, selective σ before joins (pushdown does the
work), group-by-then-top-k, and disjunctive predicate pushdown.

Float discipline: revenue sums round to 2 on both sides, and every top-k
ORDERS BY THE ROUNDED value (+ key tiebreaks) — ulp-level sum differences
between engines must not flip a rank across the hash comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views


def _rev():
    """Per-row revenue expression (built lazily: Column construction
    needs an active SparkContext, and this module imports at registry
    load time before any session exists)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@op(
    "tpch_q3",
    oracle="""
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_tse
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: σ on both fact inputs pushes to the scans,
    customer is broadcast, top-10 is TakeOrdered on the rounded revenue."""
    t = register_views(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < "1996-03-15")
    li = t["lineitem"].filter(F.col("l_shipdate") > "1996-03-15")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", F.unix_timestamp("o_orderdate").alias("orderdate_tse"))
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "orderdate_tse")
    )


@op(
    "tpch_q5",
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier volume: the 6-way join.  Facts (lineitem⋈orders)
    shuffle on orderkey; customer/supplier/nation/region are broadcast
    dims; the c_nationkey = s_nationkey condition rides the supplier join.
    """
    t = register_views(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


@op(
    "tpch_q6",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast revenue: pure σ+Σ — everything pushes to the scan; the
    canonical 'is pushdown working' query."""
    li = register_views(spark, sf_dir)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@op(
    "tpch_q10",
    oracle="""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(any_value(c_acctbal), 2) AS acctbal
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: selective returnflag σ, then customer
    rollup and top-20 on rounded revenue."""
    t = register_views(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.round(F.any_value(F.col("c_acctbal")), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@op(
    "tpch_q14",
    oracle="""
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: broadcast part, conditional aggregation."""
    t = register_views(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(_rev()), 6).alias("promo_revenue_pct")
        )
    )


@op(
    "tpch_q18",
    oracle="""
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 120
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_tse,
       round(o_totalprice, 2) AS totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
""",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: HAVING pre-aggregate as a semi-join
    filter (the IN-subquery becomes a broadcast semi-join of the small
    qualifying-order set — no re-aggregation of the full fact)."""
    t = register_views(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 120)
        .select("l_orderkey")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(big.withColumnRenamed("l_orderkey", "bk")),
              F.col("l_orderkey") == F.col("bk"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("orderdate_tse"),
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@op(
    "tpch_q19",
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue: disjunction of conjunctive ranges — the OR
    stays a single post-join filter; common subexpressions (the join key)
    still prune columns at both scans."""
    t = register_views(spark, sf_dir)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@op(
    "tpch_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1996-12-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: the full six-aggregate group-by over the fact
    (not just the `hash_aggregate` shape) — map-side partial aggregation
    collapses the fact to #(flag,status) groups before the one shuffle."""
    li = register_views(spark, sf_dir)["lineitem"].filter(
        F.col("l_shipdate") <= "1996-12-01"
    )
    disc = _rev()
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@op(
    "tpch_q4",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking, adapted: the correlated EXISTS tests
    "shipped after the order date" (fixtures lack commit/receipt dates —
    module docstring).  The EXISTS plans as a left-semi join whose
    condition carries the correlated predicate; the date sigma on orders
    pushes to the scan, so the semi-join probe side is 3 quarters small."""
    t = register_views(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@op(
    "tpch_q21",
    oracle="""
SELECT s_name, numwait FROM (
  SELECT s_name, count(*) AS numwait
  FROM supplier
  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
  JOIN orders ON o_orderkey = l1.l_orderkey
  WHERE o_orderstatus = 'F'
    AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
  GROUP BY s_name
)
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers-who-kept-orders-waiting, adapted: "late" means
    shipped >60 days after the order date (no receipt/commit dates in the
    fixtures).  The multi-semi-join shape survives intact: the sole-late-
    supplier condition is one left-semi join (another supplier exists on
    the order) plus one left-anti join (no OTHER supplier was late), both
    shuffling only (orderkey, suppkey, date) triples, never the wide fact.
    Top-k is TakeOrderedAndProject on (count, name)."""
    t = register_views(spark, sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        t["lineitem"]
        .join(
            t["orders"].filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(late)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = t["lineitem"].select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = t["lineitem"].select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    cand = l1.join(
        l2,
        (F.col("k2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("k3") == F.col("l_orderkey"))
        & (F.col("s3") != F.col("l_suppkey"))
        & (F.col("d3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    return (
        cand.join(
            F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@op(
    "tpch_q7",
    oracle="""
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between two nations: the nation pair disjunction
    rides the (broadcast) nation joins; the fact shuffles once on
    orderkey.  Nation names adapt to the fixture's NATION_<k> values."""
    t = register_views(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2key"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


@op(
    "tpch_q13",
    oracle="""
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution: outer join with a
    join-condition filter (NOT an o-side WHERE — customers with zero
    qualifying orders must survive with count 0), then a second tiny
    aggregate over the per-customer counts."""
    t = register_views(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@op(
    "tpch_q15",
    oracle="""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: revenue CTE reused twice (once aggregated to a
    1-row max, broadcast back as the filter) — Catalyst plans the scalar
    as a subquery over the same shuffle output.  Revenue is rounded
    BEFORE the max/equality so the winner is engine-stable."""
    t = register_views(spark, sf_dir)
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_rev()), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        t["supplier"]
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@op(
    "tpch_q17",
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT round(0.2 * avg(l_quantity), 4)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: the correlated scalar avg
    decorrelates into a per-part aggregate joined back to the fact (the
    explicit formulation here — same shape Catalyst produces for the
    subquery).  Threshold rounded on both engines before the compare."""
    t = register_views(spark, sf_dir)
    li = t["lineitem"]
    per_part = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.round(0.2 * F.avg("l_quantity"), 4).alias("qty_thresh")
    )
    return (
        li.join(
            F.broadcast(t["part"].filter(F.col("p_brand") == "Brand#23")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(per_part, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@op(
    "tpch_q22",
    oracle="""
SELECT c_mktsegment AS segment, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer
                   WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-05-01')
GROUP BY c_mktsegment
""",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-sales-opportunity, adapted: above-average-balance
    customers with NO orders since 1998-05-01 (fixtures lack c_phone, and
    every customer has SOME order — the dormancy window is what makes the
    anti-join selective; it must sit INSIDE the fixture's date range, the
    original 1999-01-01 cutoff was past the last order date so the
    NOT EXISTS excluded nobody).  Scalar subquery broadcast + left-anti
    join + rollup, the Q22 plan shape intact.  Threshold rounded on both
    engines."""
    t = register_views(spark, sf_dir)
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
    )
    recent = t["orders"].filter(F.col("o_orderdate") >= "1998-05-01")
    return (
        t["customer"]
        .join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@op(
    "tpch_q8",
    oracle="""
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
)
GROUP BY o_year
""",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: 8-way join where every non-fact input is
    a broadcast dim; the supplier-nation CASE rides the aggregate (one
    pass, conditional numerator / unconditional denominator)."""
    t = register_views(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1key"), F.col("n_regionkey").alias("n1region")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2key"), F.col("n_name").alias("nation")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    vol = _rev()
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_type") == "PROMO")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1key"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n1region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_1", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )
