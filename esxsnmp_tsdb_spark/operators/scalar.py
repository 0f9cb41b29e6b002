"""§2.4 scalar function families (EXT) — string/date/math/JSON/array
expressions, each as an oracle-checked projection.  All built-ins: these
run inside whole-stage codegen, no Python anywhere.

Dialect-drift notes (SURVEY.md §7 Phase 2): DuckDB `regexp_replace` needs
the 'g' flag to match Spark's replace-all; DuckDB `log` is log10 while
Spark `log` is ln (use `ln`); `year()` returns BIGINT in DuckDB (cast);
day-diffs compare DATEs explicitly on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views


@op(
    "scalar_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substring(p_name, 1, 8) AS name_prefix,
       concat(p_brand, '#', p_type) AS brand_type,
       p_name LIKE '%a%' AS has_a,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
       length(p_name) AS name_len
FROM part
""",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return register_views(spark, sf_dir)["part"].select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat("p_brand", F.lit("#"), "p_type").alias("brand_type"),
        F.col("p_name").like("%a%").alias("has_a"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("no_vowels"),
        F.length("p_name").cast("bigint").alias("name_len"),
    )


@op(
    "scalar_date_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_tse,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
         AS days_since_epoch_start,
       CAST(o_orderdate AS DATE) = DATE '1995-03-15' AS is_ides
FROM orders
""",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = F.col("o_orderdate")
    return register_views(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.year(od).alias("order_year"),
        F.month(od).alias("order_month"),
        F.unix_timestamp(F.date_trunc("month", od)).alias("month_tse"),
        F.datediff(od.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        (od.cast("date") == F.lit("1995-03-15").cast("date")).alias("is_ides"),
    )


@op(
    "scalar_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(abs(l_extendedprice - l_tax * 1000), 4) AS abs_adj,
       round(ln(l_extendedprice), 6) AS ln_price,
       round(pow(1 + l_discount, 2), 6) AS disc_sq,
       round(sqrt(l_quantity), 6) AS qty_sqrt,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_bucket
FROM lineitem
""",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return register_views(spark, sf_dir)["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - F.col("l_tax") * 1000), 4).alias(
            "abs_adj"
        ),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("ln_price"),
        F.round(F.pow(F.lit(1) + F.col("l_discount"), 2), 6).alias("disc_sq"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.floor(F.col("l_extendedprice") / 100).cast("bigint").alias("price_bucket"),
    )


@op(
    "scalar_json_funcs",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       json_extract_string(props, '$.missing') AS missing
FROM events
""",
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the string `props` column (codegen'd path ops,
    no parse-to-struct materialization)."""
    return register_views(spark, sf_dir)["events"].select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@op(
    "scalar_array_funcs",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
       round(CAST(list_aggregate(embedding, 'sum') AS DOUBLE), 4) AS elem_sum,
       round(CAST(list_aggregate(
         list_transform(embedding, x -> x * x), 'sum') AS DOUBLE), 4) AS sq_sum
FROM embeddings
""",
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column — size,
    indexing, transform+aggregate (the building blocks of the §2.5 vector
    ops), all JVM-side."""
    emb = F.col("embedding")
    dbl = F.transform(emb, lambda x: x.cast("double"))
    return register_views(spark, sf_dir)["embeddings"].select(
        "vec_id",
        F.size(emb).cast("bigint").alias("dim"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("first_elem"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("elem_sum"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_sum"),
    )


@op(
    "scalar_bitwise_funcs",
    oracle="""
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id | 4096 AS set_bit,
       xor(event_id, 1365) AS xored,
       CAST(event_id << 3 AS BIGINT) AS shifted_l,
       CAST(event_id >> 2 AS BIGINT) AS shifted_r,
       CAST(bit_count(event_id) AS BIGINT) AS popcount
FROM events WHERE event_id % 37 = 0
""",
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family parity (and/or/xor/shifts/popcount) — the
    bit-packing toolkit the SimHash/LSH ops build on, checked as scalars
    in their own right.  Spark's shiftleft/shiftright/bit_count line up
    with DuckDB's operators once popcount is cast (DuckDB TINYINT vs
    Spark int) — all map-side codegen."""
    ev = register_views(spark, sf_dir)["events"].filter(F.col("event_id") % 37 == 0)
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(255).alias("low_byte"),
        F.col("event_id").bitwiseOR(4096).alias("set_bit"),
        F.col("event_id").bitwiseXOR(1365).alias("xored"),
        F.shiftleft(F.col("event_id"), 3).cast("bigint").alias("shifted_l"),
        F.shiftright(F.col("event_id"), 2).cast("bigint").alias("shifted_r"),
        F.bit_count("event_id").cast("bigint").alias("popcount"),
    )
