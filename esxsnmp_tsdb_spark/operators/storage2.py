"""Storage-layer ops, batch 2 (§3/§4 surface): bucketed co-located
joins, z-order (Morton) clustering, and schema evolution — the three
layout techniques a 100 TB deployment leans on hardest, each proven
through the same write → read-back → DuckDB-oracle gate as
``storage.py`` (the oracle aggregates the fixture directly; equality
proves the layout changed the PHYSICS, not the values).

* ``storage_bucketed_join`` — both fact tables are written
  ``bucketBy(8, key).sortBy(key)``; the join then consumes the bucket
  layout instead of shuffling either side.  tests/test_storage2.py
  asserts the physical plan has a SortMergeJoin with NO Exchange on
  either side — at 100 TB that is the difference between a join that
  moves 100 TB over the network and one that moves nothing.
* ``storage_zorder_scan`` — obs rows are ordered by the interleaved
  bits (Morton code) of the series-hash and the time slot, so files are
  simultaneously tight in BOTH dimensions and a (path-range × time-
  range) predicate prunes by row-group min/max on either axis.  The
  z-value is layout-only — it never appears in the result, so the
  engine-specific hash inside it needs no oracle twin.
* ``storage_schema_evolution`` — day partitions written before the
  schema change lack the new column; ``mergeSchema`` reads the union
  schema with NULLs backfilled, which is exactly how a long-lived
  ladder store absorbs a new quality/flags column without rewriting
  history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators.aggregator import (
    BIN_SPLIT_ORACLE,
    BUCKET,
    _counter,
)
from esxsnmp_tsdb_spark.operators._shared import (
    OBS_CTE,
    T_JAN10,
    T_JAN15_NOON,
    T_JAN20,
)
from esxsnmp_tsdb_spark.operators._workdirs import op_dir
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs, register_views
from esxsnmp_tsdb_spark.sources.catalog import record_bkt_obs

# Local projection of the 4096-bucket deployment layout (docs/CLUSTER.md):
# one bucket per core, so a zero-exchange bucketed plan runs at the same
# parallelism as the flat path's 32-wide shuffle and the bench's
# bucketed-vs-flat delta isolates the EXCHANGE, not a task-count artifact
# (at 8 buckets the bucketed side ran 4x fewer tasks and read slower
# locally despite the better plan).
N_BUCKETS = 32
ZBITS = 8  # Morton bits per dimension


def _bucketed_table(
    spark: SparkSession, df: DataFrame, name: str, key: str, *sort_cols: str
) -> DataFrame:
    """(Re)create an external bucketed+sorted parquet table and return it.

    ``sort_cols`` extends the in-bucket sort beyond the bucket key (e.g.
    ``(path, tse)`` for the obs store, so per-series windows read
    pre-sorted buckets).  The table lives in the op's scratch dir (never
    the warehouse), so the driver's vanilla session leaves nothing in cwd;
    DROP+overwrite makes repeated bench/driver invocations idempotent."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.format("parquet")
        .option("path", os.path.join(op_dir(name), "t"))
        .bucketBy(N_BUCKETS, key)
        .sortBy(key, *sort_cols)
        .mode("overwrite")
        .saveAsTable(name)
    )
    return spark.table(name)


def bucketed_obs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SURVEY §4 obs storage posture as a readable table: observations
    stored ``bucketBy(hash(path)).sortBy(path, tse)``.

    Every §2.2 consolidation shape then needs NO exchange: a group-by on
    (path, slot) is satisfied by the bucket hash on path (path ⊂ grouping
    keys ⇒ co-located), and a per-series lag/rate window on
    partitionBy(path).orderBy(tse) reads the bucket layout directly —
    the window/agg exchange that every raw-parquet plan carries simply
    disappears (asserted in tests/test_storage2.py).  At 100 TB this is
    the difference between consolidating a day re-shuffling the fleet's
    ingest and consolidating it bucket-local."""
    # Recorded so ``sources.load_obs`` routes onto it only for this
    # sf_dir and events stamp.  The source is always ``flat_obs``: a
    # routed read would scan the very table the DROP removes.
    return record_bkt_obs(
        spark,
        sf_dir,
        lambda: _bucketed_table(
            spark, flat_obs(spark, sf_dir), "bkt_obs", "path", "tse"
        ),
    )


@op(
    "storage_bucketed_join",
    oracle="""
SELECT o_orderpriority, count(*) AS n,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def storage_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketing: lineitem and orders are
    both stored ``bucketBy(8, orderkey).sortBy(orderkey)``, so the sort-
    merge join consumes the files' bucket layout directly — zero Exchange
    in the plan (asserted in tests/test_storage2.py).

    The ``merge`` hint pins SMJ (locally AQE would broadcast the small
    side, hiding the property under test); at 100 TB neither side
    broadcasts and the pre-bucketed layout IS the join strategy.  This is
    the batch analog of the obs store's hash(path) bucket axis
    (SURVEY.md §4)."""
    t = register_views(spark, sf_dir)
    li = _bucketed_table(
        spark,
        t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount"),
        "bkt_lineitem",
        "l_orderkey",
    )
    od = _bucketed_table(
        spark,
        t["orders"].select("o_orderkey", "o_orderpriority"),
        "bkt_orders",
        "o_orderkey",
    )
    return (
        li.hint("merge")
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


def _morton(a, b):
    """Interleave the low ZBITS bits of two int columns (a even lanes,
    b odd) — pure bitwise codegen, no UDF."""
    z = F.lit(0).cast("bigint")
    for i in range(ZBITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@op(
    "storage_zorder_scan",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, count(*) AS n, round(sum(value), 6) AS sum_value,
       min(tse) AS first_tse, max(tse) AS last_tse
FROM obs
WHERE path >= '3/' AND path < '6/' AND tse >= {T_JAN10} AND tse < {T_JAN20}
GROUP BY path
""",
)
def storage_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered obs store: rows are range-partitioned and sorted
    by the Morton interleave of (series-hash, hour slot), then a
    two-dimensional predicate (path range × time range) is answered from
    the read-back.

    Interleaved ordering keeps every file tight in BOTH dimensions, so
    parquet row-group min/max prunes on either axis — the standard cure
    when range scans come keyed by path sometimes and by time other
    times, and a single-key sort would only serve one of them.  The
    z-value is engine-local layout (Spark's hash feeds it) and never
    escapes: the oracle checks the VALUES straight off the fixture."""
    out = op_dir("zorder_obs")
    obs = flat_obs(spark, sf_dir)
    zed = obs.withColumn(
        "zval",
        _morton(
            F.pmod(F.hash("path"), F.lit(1 << ZBITS)).cast("bigint"),
            F.pmod((F.col("tse") / 3600).cast("bigint"), F.lit(1 << ZBITS)),
        ),
    )
    (
        zed.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(
            (F.col("path") >= "3/")
            & (F.col("path") < "6/")
            & (F.col("tse") >= T_JAN10)
            & (F.col("tse") < T_JAN20)
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.min("tse").alias("first_tse"),
            F.max("tse").alias("last_tse"),
        )
    )


@op(
    "storage_schema_evolution",
    oracle=f"""
WITH {OBS_CTE}
SELECT split_part(path, '/', 2) AS event_type,
       count(*) AS n,
       count(CASE WHEN tse >= {T_JAN15_NOON} AND flags IS NOT NULL
                  THEN 1 END) AS n_quality,
       CAST(sum(CASE WHEN tse >= {T_JAN15_NOON} THEN flags END) AS BIGINT)
         AS sum_quality
FROM obs GROUP BY split_part(path, '/', 2)
""",
)
def storage_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across partition generations: history written as
    (path, tse, value), newer data with an added ``quality`` column;
    ``mergeSchema`` reads the union schema and backfills NULLs for the
    old files — no rewrite of history, which at 100 TB is the only
    affordable way to add a column.

    The aggregate proves both generations surface in one scan with the
    new column NULL exactly where it predates the change."""
    out = op_dir("schema_evo")
    obs = flat_obs(spark, sf_dir)
    old = obs.filter(F.col("tse") < T_JAN15_NOON).select("path", "tse", "value")
    new = obs.filter(F.col("tse") >= T_JAN15_NOON).select(
        "path", "tse", "value", F.col("flags").alias("quality")
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    new.write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "gen=1"), os.path.join(out, "gen=2")
    )
    return (
        back.select(
            F.split("path", "/").getItem(1).alias("event_type"), "quality"
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("quality").alias("n_quality"),
            F.sum("quality").alias("sum_quality"),
        )
    )


SNAP_DAY0 = T_JAN10 // 86400  # first day of the snapshot window
SNAP_CHANGED = SNAP_DAY0 + 5  # the day the second snapshot rewrites


@op(
    "storage_snapshot_time_travel",
    oracle=f"""
WITH {OBS_CTE},
base AS (
  SELECT value, tse // 86400 AS day
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
),
v1 AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM base GROUP BY day
),
v2 AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(CASE WHEN day = {SNAP_CHANGED}
                                  THEN value * 2 ELSE value END * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM base GROUP BY day
)
SELECT v1.day, v1.n AS n_v1, v1.cents AS cents_v1,
       v2.n AS n_v2, v2.cents AS cents_v2,
       CAST(CASE WHEN v1.day = {SNAP_CHANGED} THEN 1 ELSE 0 END AS BIGINT)
         AS changed
FROM v1 JOIN v2 USING (day)
""",
)
def storage_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel on plain parquet — the
    poor-man's-Iceberg mechanism: data files are immutable under
    ``data/<day>/<version>/``, and a SNAPSHOT is nothing but a manifest
    mapping day → version directory.  An upsert copy-on-writes ONLY the
    touched day into a new version dir and publishes a new manifest;
    every older manifest still resolves to the untouched v1 files, so
    reading snapshot 1 after the upsert returns the pre-upsert table
    bit-for-bit.  This op builds both snapshots, reads BOTH back through
    their manifests, and emits the per-day diff; the oracle recomputes
    both versions from the fixture — equality proves isolation.

    At 100 TB: a snapshot read lists the manifest (KB) and opens only
    the referenced day dirs — manifest pruning, exactly how table
    formats skip dead files; the upsert cost is one day partition, not
    the table.  The v1 generation is ONE partitioned write (one source
    scan fans out to every day dir); the only per-day loop below
    assembles manifest entries — pure metadata."""
    import glob
    import json

    from esxsnmp_tsdb_spark.operators._workdirs import op_dir

    obs = flat_obs(spark, sf_dir)
    base = obs.where(
        (F.col("tse") >= T_JAN10) & (F.col("tse") < T_JAN20)
    ).withColumn("day", F.expr("tse div 86400"))

    root = op_dir("snapshot_tt")
    v1_root = os.path.join(root, "data_v1")
    # one scan writes every v1 day partition; day_p is the (dropped)
    # partition dir key, the data keeps its own day column for read-back
    (
        base.withColumn("day_p", F.col("day"))
        .write.mode("overwrite")
        .partitionBy("day_p")
        .parquet(v1_root)
    )
    manifest1 = {
        os.path.basename(p).split("=", 1)[1]: p
        for p in glob.glob(os.path.join(v1_root, "day_p=*"))
    }
    manifest2 = dict(manifest1)
    # copy-on-write upsert: double the changed day's values into v2
    p2 = os.path.join(root, "data", str(SNAP_CHANGED), "v2")
    (
        base.where(F.col("day") == SNAP_CHANGED)
        .withColumn("value", F.col("value") * 2)
        .write.mode("overwrite")
        .parquet(p2)
    )
    manifest2[str(SNAP_CHANGED)] = p2
    for name, m in (("s1", manifest1), ("s2", manifest2)):
        with open(os.path.join(root, f"manifest_{name}.json"), "w") as f:
            json.dump(m, f)

    def read_snapshot(name: str) -> DataFrame:
        with open(os.path.join(root, f"manifest_{name}.json")) as f:
            m = json.load(f)
        return spark.read.parquet(*m.values())

    cents = F.sum(F.floor(F.col("value") * 100).cast("bigint")).cast("bigint")
    v1 = read_snapshot("s1").groupBy("day").agg(
        F.count(F.lit(1)).alias("n_v1"), cents.alias("cents_v1")
    )
    v2 = read_snapshot("s2").groupBy("day").agg(
        F.count(F.lit(1)).alias("n_v2"), cents.alias("cents_v2")
    )
    return v1.join(v2, "day").select(
        "day",
        "n_v1",
        "cents_v1",
        "n_v2",
        "cents_v2",
        (F.col("day") == SNAP_CHANGED).cast("bigint").alias("changed"),
    )


@op("ts_bin_split_bucketed", oracle=BIN_SPLIT_ORACLE)
def ts_bin_split_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ts_bin_split`'s proportional boundary allocation (the heaviest
    §2.2 consolidation shape) demonstrated on the bucketed obs layout:
    identical values — same oracle as
    `ts_bin_split`, `aggregator.BIN_SPLIT_ORACLE` — from a plan with
    ZERO Exchange (asserted in tests/test_storage2.py):

    * the synthetic-counter and delta windows (partitionBy path) consume
      the ``bucketBy(hash(path)).sortBy(path, tse)`` file layout;
    * the explode preserves the bucket partitioning (row-local);
    * the final (path, bucket) allocation group-by is satisfied by
      hash(path) alone, path being a subset of the grouping keys.

    ``redistribute=False`` skips bin_split's pre-explode fan-out — the
    shuffle that restores parallelism on a narrow raw-parquet scan would
    here destroy the property being demonstrated; parallelism comes from
    the bucket count (thousands at 100 TB; N_BUCKETS locally)."""
    cnt = _counter(bucketed_obs_table(spark, sf_dir))
    d = tsdb.deltas(cnt, "counter").withColumn(
        "delta", F.col("delta").cast("double")
    )
    split = tsdb.bin_split(d, BUCKET, redistribute=False)
    return split.select(
        "path", "bucket", F.round("delta_alloc", 6).alias("delta_alloc")
    )
