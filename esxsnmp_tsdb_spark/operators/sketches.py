"""§2.4 sketch surface (EXT): mergeable-sketch distinct counting.

`approx_distinct` (relational.py) proves HLL works as a one-shot
aggregate; this module proves the property that actually matters at
100 TB — HLL sketches are MERGEABLE STATE.  Count once per partition
(here: per day), persist the byte-sized sketch, and answer any coarser
rollup by unioning sketches instead of re-shuffling raw keys: the
consolidation-ladder pattern (`sources/ladder.py`) applied to distinct
counts, which plain `count(DISTINCT ...)` can never ladder because
distinct counts don't add.

Oracle strategy: a cross-engine estimate compare is impossible (DuckDB's
approx_count_distinct is a different HLL), so the oracle pins the EXACT
per-scope counts plus the CLAIM "the sketch path lands within tolerance"
as a boolean the Spark side computes from its own deterministic sketch —
if a Spark upgrade ever degrades the estimator beyond tolerance, the
hash comparison fails loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._shared import OBS_CTE
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs, register_views

# |estimate − exact| ≤ exact / HLL_TOL_DIV must hold per scope (5 %:
# default lgConfigK=12 gives ~1.6 % standard error, so 5 % is ~3σ).
HLL_TOL_DIV = 20


@op(
    "approx_distinct_hll_merge",
    oracle=f"""
WITH {OBS_CTE},
b AS (SELECT path, tse // 86400 AS day FROM obs),
d AS (
  SELECT 'day:' || CAST(day AS VARCHAR) AS scope,
         count(DISTINCT path) AS n_exact
  FROM b GROUP BY day
),
m AS (SELECT 'month' AS scope, count(DISTINCT path) AS n_exact FROM b)
SELECT scope, n_exact, TRUE AS est_ok FROM d
UNION ALL
SELECT scope, n_exact, TRUE AS est_ok FROM m
""",
)
def approx_distinct_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active series per day via HLL sketches, then the month
    answered by UNIONING the daily sketches — never re-touching raw
    paths.  Each output row carries the exact count and `est_ok` =
    "this scope's sketch estimate landed within 5 % of exact", which
    the oracle pins to TRUE: the estimator's accuracy is part of the
    contract, not a hope.

    Scale: this is how distinct-counting ladders.  A 100 TB store keeps
    one ~4 KB sketch per (series-class, day) partition, written at
    ingest; weekly/monthly/arbitrary-range distinct counts are sketch
    unions over the manifest — O(days) bytes of state instead of a
    corpus-wide distinct shuffle per query.  `count(DISTINCT)` can't do
    this because distinct counts don't add; sketches are the only
    ladder-able form of this aggregate.  The month row here is computed
    from `hll_union_agg` over the day sketches (the exact count beside
    it is the audit), so the merge path itself is what the oracle
    checks."""
    base = flat_obs(spark, sf_dir).select(
        F.floor(F.col("tse") / 86400).cast("bigint").alias("day"), "path"
    )
    # One scan of obs feeds everything: the distinct (day, path) pairs
    # are checkpointed and reused by the daily rows, the month estimate,
    # AND the month exact — without this, collecting the returned union
    # would re-run the sketch build once per consumer.  Dedup before
    # sketching is free: HLL insertion is idempotent, so the sketch of
    # the distinct pairs is the sketch of the raw stream.
    pairs = base.distinct().localCheckpoint(eager=True)
    daily = pairs.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.hll_sketch_agg("path").alias("sk"),
    )
    tol_ok = (
        F.abs(F.col("est") - F.col("n_exact")) * HLL_TOL_DIV
        <= F.col("n_exact")
    ).alias("est_ok")
    day_rows = daily.withColumn(
        "est", F.hll_sketch_estimate("sk")
    ).select(
        F.concat(F.lit("day:"), F.col("day").cast("string")).alias("scope"),
        "n_exact",
        tol_ok,
    )
    month_exact = pairs.agg(F.count_distinct("path").alias("n_exact"))
    month_est = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    month_row = month_exact.crossJoin(F.broadcast(month_est)).select(
        F.lit("month").alias("scope"), "n_exact", tol_ok
    )
    return day_rows.unionByName(month_row)


HIST_BUCKET_W = 20  # value-domain bucket width (fixture values ~0..100)


@op(
    "ts_histogram_ladder",
    oracle=f"""
WITH {OBS_CTE},
b AS (
  SELECT tse // 86400 AS day,
         CAST(floor(value * 100) AS BIGINT) // {HIST_BUCKET_W * 100}
           AS bucket
  FROM obs WHERE flags = 1
),
d AS (
  SELECT 'day:' || CAST(day AS VARCHAR) AS scope, bucket,
         count(*) AS n
  FROM b GROUP BY day, bucket
),
m AS (
  SELECT 'month' AS scope, bucket, CAST(sum(n) AS BIGINT) AS n
  FROM (SELECT CAST(SUBSTRING(scope, 5) AS BIGINT) AS day, bucket, n
        FROM d) GROUP BY bucket
)
SELECT scope, bucket, n FROM d
UNION ALL
SELECT scope, bucket, n FROM m
""",
)
def ts_histogram_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution ladder: per-day equi-width histograms whose
    month rollup is computed FROM THE DAY HISTOGRAMS (bucket counts
    add), never from the raw observations — the exact-mergeable
    companion to `approx_distinct_hll_merge`: histograms, like sums and
    counts but unlike medians or distinct counts, are ladder-able state,
    which is why the consolidation ladder stores them and derives any
    coarser window for free.

    The month CTE in the oracle deliberately re-derives from the day
    rows (not from obs) so what the hash pins is the MERGE law itself:
    if bucket addition ever stopped reproducing the month distribution,
    the comparison would fail.

    Scale: one group-by over (day, bucket) — counts shuffle, values
    don't; the month level aggregates the day table (days×buckets rows,
    metadata-sized).  At 100 TB the day histograms persist next to the
    day partitions and a year-long distribution query reads 365 tiny
    rows per bucket instead of re-binning the corpus."""
    obs = flat_obs(spark, sf_dir)
    b = obs.filter(F.col("flags") == 1).select(
        F.expr("tse div 86400").alias("day"),
        F.expr(
            f"CAST(floor(value * 100) AS BIGINT) div {HIST_BUCKET_W * 100}"
        ).alias("bucket"),
    )
    d = b.groupBy("day", "bucket").agg(F.count(F.lit(1)).alias("n"))
    day_rows = d.select(
        F.concat(F.lit("day:"), F.col("day").cast("string")).alias("scope"),
        "bucket",
        "n",
    )
    month_rows = (
        d.groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .select(F.lit("month").alias("scope"), "bucket", "n")
    )
    return day_rows.unionByName(month_rows)


# |estimate − exact| ≤ exact / AD_TOL_DIV per group (10 %: rsd 0.02 gives
# ~2 % standard error, so 10 % is ~5σ — a failure means the estimator
# broke, not that it had an unlucky day).
AD_TOL_DIV = 10

# percentile_approx(accuracy=10000) bounds RANK error by 1/10000; the
# check brackets the estimate between exact quantiles at q ± PCT_DELTA.
# 0.01 covers the sketch's 1e-4 rank error plus the ±1-rank discreteness
# slack (1/n) down to ~150-row groups — the sf0.001 fixture's smallest.
PCT_DELTA = 0.01


@op(
    "approx_distinct_check",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS est_ok
FROM events GROUP BY event_type
""",
)
def approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance twin of `approx_distinct`: the same HLL++ estimate per
    event_type, hash-checked as the CLAIM "estimate within 10 % of exact"
    (the `approx_distinct_hll_merge` oracle strategy — a cross-engine
    estimate compare is impossible because DuckDB runs a different HLL,
    so the oracle pins the exact count plus est_ok=TRUE, and the Spark
    side computes est_ok from its own sketch).  Only the exact count and
    the boolean are output — never the estimate itself — so the hash is
    stable under partition-layout changes while still failing loudly if
    an engine upgrade degrades the estimator past tolerance.

    Scale: the estimate side is the 100 TB path (fixed memory per group,
    mergeable partials); the exact side rides the same shuffle as
    `distinct_agg`.  In production the exact audit runs on a sample or a
    single partition — here the fixture is small enough to audit fully."""
    return (
        register_views(spark, sf_dir)["events"]
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", 0.02).alias("est"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("est") - F.col("n_exact")) * AD_TOL_DIV
                <= F.col("n_exact")
            ).alias("est_ok"),
        )
    )


@op(
    "approx_percentiles_check",
    oracle=f"""
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       count(*) AS n,
       TRUE AS p50_ok, TRUE AS p95_ok
FROM orders GROUP BY o_orderpriority
""",
)
def approx_percentiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance twin of `approx_percentiles`: KLL-style sketch quantiles
    per order priority, hash-checked as the CLAIM "the sketch value sits
    between the exact quantiles at q ± {PCT_DELTA}".  percentile_approx
    guarantees RANK error ≤ 1/accuracy and returns an actual data value,
    so bracketing by exact interpolated quantiles at q±0.01 (≫ 1e-4 rank
    error + per-group ±1-rank slack) is the correct tolerance shape —
    value-space tolerances would be distribution-dependent.  Output is
    the exact p50/p95 (Spark `percentile` vs DuckDB `quantile_cont`,
    both R-7 — the `percentiles` op precedent) plus the two booleans;
    the estimates themselves stay out of the hash because sketch
    compaction is partition-layout-sensitive even when accuracy holds.

    Scale: exact quantiles need the full sorted group; the sketch is the
    fixed-memory 100 TB path — this op pins that swapping one for the
    other changes answers by less than the contract tolerance."""
    return (
        register_views(spark, sf_dir)["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("e50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("e95"),
            F.expr(f"percentile(o_totalprice, {0.5 - PCT_DELTA})").alias("lo50"),
            F.expr(f"percentile(o_totalprice, {0.5 + PCT_DELTA})").alias("hi50"),
            F.expr(f"percentile(o_totalprice, {0.95 - PCT_DELTA})").alias("lo95"),
            F.expr(f"percentile(o_totalprice, {0.95 + PCT_DELTA})").alias("hi95"),
            F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("a50"),
            F.expr("percentile_approx(o_totalprice, 0.95, 10000)").alias("a95"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "o_orderpriority",
            F.round("e50", 4).alias("p50"),
            F.round("e95", 4).alias("p95"),
            "n",
            ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias("p50_ok"),
            ((F.col("a95") >= F.col("lo95")) & (F.col("a95") <= F.col("hi95"))).alias("p95_ok"),
        )
    )
