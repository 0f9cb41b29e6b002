"""TPC-H queries 2/9/11/12/16/20 — the six blocked on absent columns,
unblocked with DERIVED columns computed identically on both engines.

The fixtures ship no ``partsupp`` table and no lineitem
commit/receipt/shipmode columns, so this module derives them with pure
integer arithmetic over existing keys (no RNG, no floats until the final
display column).  The Spark side and the DuckDB oracle CTE are kept in
lockstep, same as ``_shared.OBS_CTE``:

* ``partsupp``: 4 supplier links per part, ``ps_suppkey =
  (p_partkey*13 + i*17) % count(supplier) + 1`` for ``i`` in 0..3 —
  distinct per part for any realistic supplier count, scales with the
  fixture because the modulus is the live supplier count (a broadcast
  1-row aggregate, never a driver-side collect).
* ``ps_availqty``/``ps_supplycost``: modular-hash integers; supplycost's
  ``x/100.0 + 1.0`` is the same IEEE double on both engines (no rounding
  needed — identical integer input, identical operation).
* lineitem ``l_shipmode``/``l_commitdate``/``l_receiptdate`` (Q12):
  shipmode from a 7-way key hash; the two dates as integer day offsets
  from ``l_shipdate``.  The derived dates only feed same-engine boolean
  comparisons, never the output, so only offset equality matters.

Adaptation notes vs the published TPC-H text (columns the fixtures lack):
Q2 uses ``p_type = 'LARGE'`` (no '%BRASS' types) and derives ``p_mfgr``
from ``p_partkey``; Q16 substitutes the '%Complaints%' supplier exclusion
with ``s_suppkey % 10 = 0``; Q9/Q20 filter ``p_name`` on the fixture's
word vocabulary.  Join/aggregate/subquery shapes are unchanged.

Scale posture: partsupp is |part|×4 rows built map-side from the part
scan (explode of a 4-element sequence — no shuffle); every query below
joins it on its natural key.  The supplier-count scalar and all dims are
broadcast; facts shuffle at most once per aggregate, same as tpch.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views


# DuckDB twin of _partsupp() below (keep in lockstep!).
PARTSUPP_CTE = """ps0 AS (
  SELECT p_partkey AS ps_partkey,
         ((p_partkey * 13 + i.i * 17) % s.scnt) + 1 AS ps_suppkey,
         ((p_partkey * 4 + i.i) % 9999) + 1 AS ps_availqty
  FROM part,
       (SELECT unnest(range(4)) AS i) i,
       (SELECT count(*) AS scnt FROM supplier) s
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey, ps_availqty,
         ((ps_partkey * 31 + ps_suppkey * 7) % 100000) / 100.0 + 1.0
           AS ps_supplycost
  FROM ps0
)"""

# DuckDB twin of _lineitem_ext() below (keep in lockstep!).
LINEITEM_EXT_CTE = """li_ext AS (
  SELECT *,
         list_extract(['MAIL','SHIP','AIR','TRUCK','RAIL','FOB','REG AIR'],
                      CAST((l_orderkey * 11 + l_linenumber) % 7 + 1 AS INTEGER))
           AS l_shipmode,
         l_shipdate + INTERVAL 1 DAY * ((l_orderkey + l_linenumber * 7) % 45)
           AS l_commitdate,
         l_shipdate + INTERVAL 1 DAY * ((l_orderkey * 3 + l_linenumber) % 30 + 1)
           AS l_receiptdate
  FROM lineitem
)"""

_SHIPMODES = ["MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "FOB", "REG AIR"]


def _partsupp(t) -> DataFrame:
    """Derived partsupp: |part|×4 rows, built map-side (explode, no
    shuffle); the supplier count rides in as a broadcast 1-row aggregate
    so the derivation scales with the fixture instead of hardcoding."""
    scnt = t["supplier"].agg(F.count(F.lit(1)).alias("scnt"))
    ps0 = (
        t["part"]
        .select("p_partkey")
        .join(F.broadcast(scnt))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
            "scnt",
        )
    )
    return ps0.select(
        "ps_partkey",
        (F.pmod(F.col("ps_partkey") * 13 + F.col("i") * 17, F.col("scnt")) + 1)
        .alias("ps_suppkey"),
        (F.pmod(F.col("ps_partkey") * 4 + F.col("i"), F.lit(9999)) + 1)
        .alias("ps_availqty"),
    ).withColumn(
        "ps_supplycost",
        F.pmod(F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7, F.lit(100000))
        / 100.0
        + 1.0,
    )


def _lineitem_ext(t) -> DataFrame:
    """lineitem + derived shipmode/commitdate/receiptdate (map-side)."""
    li = t["lineitem"]
    # Multiplier must be coprime to 7 — `* 7` would algebraically reduce to
    # `l_linenumber % 7`, erasing the orderkey contribution from the hash.
    idx = F.pmod(F.col("l_orderkey") * 11 + F.col("l_linenumber"), F.lit(7))
    return (
        li.withColumn(
            "l_shipmode",
            F.element_at(F.array(*[F.lit(m) for m in _SHIPMODES]), (idx + 1).cast("int")),
        )
        .withColumn(
            "l_commitdate",
            F.date_add(
                F.to_date("l_shipdate"),
                F.pmod(F.col("l_orderkey") + F.col("l_linenumber") * 7, F.lit(45)).cast("int"),
            ),
        )
        .withColumn(
            "l_receiptdate",
            F.date_add(
                F.to_date("l_shipdate"),
                (F.pmod(F.col("l_orderkey") * 3 + F.col("l_linenumber"), F.lit(30)) + 1).cast("int"),
            ),
        )
    )


@op(
    "tpch_q2",
    oracle=f"""
WITH {PARTSUPP_CTE},
eu_ps AS (
  SELECT ps_partkey, ps_supplycost, s_name, s_acctbal, n_name
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
minc AS (
  SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost
  FROM eu_ps GROUP BY ps_partkey
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
       concat('MFG#', CAST(p_partkey % 5 + 1 AS VARCHAR)) AS p_mfgr,
       ps_supplycost
FROM part
JOIN eu_ps ON ps_partkey = p_partkey
JOIN minc ON mk = p_partkey AND ps_supplycost = min_cost
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: the correlated min-subquery decorrelates
    into a per-part min joined back (the plan Catalyst produces for the
    published formulation).  partsupp is derived map-side; supplier/
    nation/region are broadcast; the min-cost equality join is exact
    because ps_supplycost is bit-identical on both engines.  Adapted:
    p_type = 'LARGE' (fixture types have no BRASS), p_mfgr derived."""
    t = register_views(spark, sf_dir)
    eu_ps = (
        _partsupp(t)
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    minc = eu_ps.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    part = t["part"].filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    return (
        part.join(eu_ps, F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            minc,
            (F.col("mk") == F.col("p_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.concat(
                F.lit("MFG#"), (F.pmod(F.col("p_partkey"), F.lit(5)) + 1).cast("string")
            ).alias("p_mfgr"),
            "ps_supplycost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@op(
    "tpch_q9",
    oracle=f"""
WITH {PARTSUPP_CTE}
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - ps_supplycost * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY n_name, year(o_orderdate)
""",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit: lineitem ⋈ orders shuffle on orderkey;
    part/partsupp/supplier/nation broadcast (partsupp is |part|×4 — a dim
    at any scale).  The (partkey, suppkey) partsupp join keeps only
    catalog-linked lineitems — the fixture adaptation of TPC-H's
    referential guarantee.  Profit sum rounded on both engines."""
    t = register_views(spark, sf_dir)
    part = t["part"].filter(F.col("p_name").like("%widget%"))
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(_partsupp(t)),
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("ps_supplycost") * F.col("l_quantity")
                ),
                2,
            ).alias("sum_profit")
        )
    )


@op(
    "tpch_q11",
    oracle=f"""
WITH {PARTSUPP_CTE},
ps_nat AS (
  SELECT ps_partkey, ps_supplycost * ps_availqty AS val
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_7')
),
per_part AS (
  SELECT ps_partkey, round(sum(val), 2) AS value
  FROM ps_nat GROUP BY ps_partkey
)
SELECT ps_partkey, value
FROM per_part
WHERE value > (SELECT round(1.5 * avg(value), 4) FROM per_part)
ORDER BY value DESC, ps_partkey
""",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock: per-part inventory value, kept when above
    1.5× the average part value (scale-free where TPC-H's fixed fraction
    would empty out as |part| grows).  The scalar average is a broadcast
    1-row reuse of the same aggregate.  Rounded before compare on both
    engines so ulp-level sum order can't flip membership."""
    t = register_views(spark, sf_dir)
    nat = t["nation"].filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    per_part = (
        _partsupp(t)
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("ps_partkey")
        .agg(
            F.round(F.sum(F.col("ps_supplycost") * F.col("ps_availqty")), 2).alias(
                "value"
            )
        )
    )
    thresh = per_part.agg(F.round(1.5 * F.avg("value"), 4).alias("thresh"))
    return (
        per_part.join(F.broadcast(thresh), F.col("value") > F.col("thresh"))
        .select("ps_partkey", "value")
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


@op(
    "tpch_q12",
    oracle=f"""
WITH {LINEITEM_EXT_CTE}
SELECT l_shipmode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN li_ext ON o_orderkey = l_orderkey
WHERE l_shipmode IN ('MAIL', 'SHIP')
  AND l_commitdate < l_receiptdate
  AND l_shipdate < l_commitdate
  AND l_receiptdate >= TIMESTAMP '1996-01-01'
  AND l_receiptdate < TIMESTAMP '1997-01-01'
GROUP BY l_shipmode
ORDER BY l_shipmode
""",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping modes / priority: shipmode + commit/receipt dates are
    derived map-side (integer day offsets off l_shipdate), the σ prunes
    before the orderkey shuffle join, priority split is conditional
    aggregation.  The derived dates feed only same-engine comparisons —
    never the output — so engine date-type differences can't leak."""
    t = register_views(spark, sf_dir)
    li = (
        _lineitem_ext(t)
        .filter(F.col("l_shipmode").isin("MAIL", "SHIP"))
        .filter(
            (F.col("l_commitdate") < F.col("l_receiptdate"))
            & (F.to_date("l_shipdate") < F.col("l_commitdate"))
            & (F.col("l_receiptdate") >= "1996-01-01")
            & (F.col("l_receiptdate") < "1997-01-01")
        )
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["orders"]
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


@op(
    "tpch_q16",
    oracle=f"""
WITH {PARTSUPP_CTE}
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#23'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 15, 25, 35, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 = 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship: NOT IN becomes a broadcast
    left-anti join against the excluded-supplier list (the fixture
    substitute for '%Complaints%': s_suppkey % 10 = 0), then distinct
    count per (brand, type, size).  All inputs are part-scale dims."""
    t = register_views(spark, sf_dir)
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#23")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
    )
    excluded = t["supplier"].filter(F.col("s_suppkey") % 10 == 0).select("s_suppkey")
    return (
        _partsupp(t)
        .join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            F.broadcast(excluded),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@op(
    "tpch_q20",
    oracle=f"""
WITH {PARTSUPP_CTE},
qty AS (
  SELECT l_partkey AS qk, l_suppkey AS qs, sum(l_quantity) AS tot_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey
),
cand AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN part ON p_partkey = ps_partkey AND p_name LIKE 'large%'
  JOIN qty ON qk = ps_partkey AND qs = ps_suppkey
  WHERE ps_availqty > 0.5 * tot_qty
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN cand ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_name
""",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential part promotion: the nested IN-subqueries decorrelate
    into partsupp ⋈ part ⋈ per-(part,supplier) shipped-quantity, then a
    semi-join into supplier.  l_quantity is integral so the 0.5×sum
    threshold is exact on both engines (no rounding needed).  The fact
    aggregate shuffles once on (partkey, suppkey); everything else is
    broadcast."""
    t = register_views(spark, sf_dir)
    qty = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy(
            F.col("l_partkey").alias("qk"), F.col("l_suppkey").alias("qs")
        )
        .agg(F.sum("l_quantity").alias("tot_qty"))
    )
    part = t["part"].filter(F.col("p_name").like("large%"))
    cand = (
        _partsupp(t)
        .join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            qty,
            (F.col("qk") == F.col("ps_partkey")) & (F.col("qs") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("tot_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(F.broadcast(cand), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name")
    )
