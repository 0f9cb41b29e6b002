"""§2.6 streaming surface, batch 3 (EXT): exactly-once delivery under
replay.

`stream_replay_exactly_once` runs the same checkpointed query TWICE over
the same source.  The sink is the idempotent epoch-keyed overwrite
pattern (epoch id in the path, mode=overwrite), so a retried or replayed
micro-batch lands on the same location instead of appending a duplicate
— the foreachBatch half of Spark's exactly-once contract — and the
checkpoint's committed offsets make the second run a no-op.  The batch
oracle aggregates the fixture once; equality proves the replay added
nothing, and the op additionally asserts the store's row count did not
change between runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._workdirs import op_dir
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.streaming import drive, events_stream


@op(
    "stream_replay_exactly_once",
    oracle="""
SELECT concat_ws('/', user_id, event_type) AS path,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1
""",
)
def stream_replay_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest proven by replay: the query writes
    each micro-batch to ``store/epoch=<id>`` with mode=overwrite (the
    idempotent-sink recipe for foreachBatch), then the SAME query —
    same checkpoint, same source — is started again and driven to
    completion.  The checkpoint's committed source offsets mean run 2
    processes zero batches; if the sink were append-mode or the
    checkpoint ignored, every row would double and the per-path counts
    below would all be wrong.

    At 100 TB this is the ingest pipeline's restart story: a crashed
    driver resumes from the checkpoint and re-emits at most the one
    uncommitted epoch, which the overwrite absorbs — delivery is
    exactly-once END TO END, not just inside the engine."""
    out = op_dir("replay_once")
    store = os.path.join(out, "store")
    ckpt = os.path.join(out, "ckpt")
    ev = events_stream(spark, sf_dir)
    rows = ev.select(
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )

    def write_epoch(bdf, epoch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(store, f"epoch={epoch_id}")
        )

    drive(rows, write_epoch, ckpt)
    n_first = spark.read.parquet(store).count()
    # replay: committed offsets → no new epochs, no duplicates
    drive(rows, write_epoch, ckpt)
    back = spark.read.parquet(store)
    n_second = back.count()
    assert n_first == n_second, (
        f"replay duplicated rows: {n_first} -> {n_second}"
    )
    return back.groupBy("path").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


# Shared import, not a copy: the live twin must assert the SAME accuracy
# contract as the batch op, or the pair silently drifts apart.
from esxsnmp_tsdb_spark.operators.sketches import HLL_TOL_DIV


def _stage_three_parts(base: DataFrame, src: str) -> None:
    """Stage ``base`` as three source files split on event_id % 3 (the
    id column is dropped after splitting).  Every day spans every
    micro-batch, so per-day state must genuinely merge across batches —
    the staging shared by the incremental-state streaming ops."""
    for part in range(3):
        base.filter(F.col("event_id") % 3 == part).drop(
            "event_id"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"part={part}")
        )


@op(
    "stream_distinct_hll",
    oracle="""
WITH obs AS (
  SELECT concat_ws('/', user_id, event_type) AS path,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
d AS (
  SELECT 'day:' || CAST(day AS VARCHAR) AS scope,
         count(DISTINCT path) AS n_exact
  FROM obs GROUP BY day
),
m AS (SELECT 'month' AS scope, count(DISTINCT path) AS n_exact FROM obs)
SELECT scope, n_exact, TRUE AS est_ok FROM d
UNION ALL
SELECT scope, n_exact, TRUE AS est_ok FROM m
""",
)
def stream_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct counting via incremental HLL state — the live
    twin of `approx_distinct_hll_merge`.  The fixture is staged as THREE
    source files split on event_id (every day spans every micro-batch,
    so each batch's per-day sketch must genuinely MERGE into carried
    state, not just append); foreachBatch folds the batch sketch into a
    per-day sketch table with `hll_union_agg`.  Because HLL union is a
    register-wise max — associative, commutative, idempotent — the
    thrice-merged streaming sketch is BIT-EQUAL in estimate to the
    one-shot batch sketch, which the op asserts before returning; the
    oracle then pins the exact counts and the 5 % tolerance claim.

    This is why sketches, not count(DISTINCT), are the streaming answer
    at 100 TB: distinct counts can't be updated incrementally, but a
    4 KB-per-day sketch table absorbs any arrival order and any restart
    (an idempotent union re-applied by a replayed batch changes
    nothing), and the month rollup stays a union over the state table."""
    from esxsnmp_tsdb_spark.sources import register_views

    out = op_dir("hll_stream")
    src = os.path.join(out, "src")
    state = os.path.join(out, "state")
    base = register_views(spark, sf_dir)["events"].select(
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        F.expr(
            "CAST(floor(unix_timestamp(ts)) AS BIGINT) div 86400"
        ).alias("day"),
        "event_id",
    )
    _stage_three_parts(base, src)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("day", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part=*")
    )

    def merge_batch(bdf, epoch_id: int) -> None:
        # Read-modify-write is replay-safe HERE because HLL union is
        # IDEMPOTENT: a re-delivered epoch re-unions the same registers
        # and changes nothing.  An additive aggregate must NOT use this
        # shape — see stream_histogram_ladder's epoch-keyed partials.
        s = bdf.sparkSession
        bsk = bdf.groupBy("day").agg(F.hll_sketch_agg("path").alias("sk"))
        if os.path.exists(state):
            prior = s.read.parquet(state)
            merged = (
                prior.unionByName(bsk)
                .groupBy("day")
                .agg(F.hll_union_agg("sk").alias("sk"))
                # materialize before overwriting the path we just read
                # (the stream_cdc_apply self-read-overwrite discipline)
                .localCheckpoint(eager=True)
            )
        else:
            merged = bsk
        merged.write.mode("overwrite").parquet(state)

    drive(stream, merge_batch, os.path.join(out, "ckpt"))

    sk = spark.read.parquet(state)
    streamed = sk.select(
        "day", F.hll_sketch_estimate("sk").alias("est_stream")
    )
    oneshot = base.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("path")).alias("est_batch"),
        F.count_distinct("path").alias("n_exact"),
    )
    # FULL outer: a day lost from the state table (or conjured into it)
    # must count as divergence — an inner join would silently drop it
    # and the guard below would never fire.
    joined = oneshot.join(streamed, "day", "full").localCheckpoint(
        eager=True
    )
    n_diverged = joined.filter(
        F.col("est_stream").isNull()
        | F.col("est_batch").isNull()
        | (F.col("est_stream") != F.col("est_batch"))
    ).count()
    if n_diverged:
        raise AssertionError(
            f"stream_distinct_hll: {n_diverged} day sketches diverged "
            "from the one-shot batch sketch — HLL union stopped being "
            "associative/idempotent, which breaks the restart story"
        )
    tol_ok = (
        F.abs(F.col("est") - F.col("n_exact")) * HLL_TOL_DIV
        <= F.col("n_exact")
    ).alias("est_ok")
    day_rows = joined.select(
        F.concat(F.lit("day:"), F.col("day").cast("string")).alias("scope"),
        "n_exact",
        F.col("est_stream").alias("est"),
    ).select("scope", "n_exact", tol_ok)
    month_exact = base.agg(F.count_distinct("path").alias("n_exact"))
    month_est = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    month_row = month_exact.crossJoin(F.broadcast(month_est)).select(
        F.lit("month").alias("scope"), "n_exact", tol_ok
    )
    return day_rows.unionByName(month_row)


from esxsnmp_tsdb_spark.operators._shared import OBS_CTE  # noqa: E402
from esxsnmp_tsdb_spark.operators.sketches import HIST_BUCKET_W  # noqa: E402


@op(
    "stream_histogram_ladder",
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
  FROM d GROUP BY bucket
)
SELECT scope, bucket, n FROM d
UNION ALL
SELECT scope, bucket, n FROM m
""",
)
def stream_histogram_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming value-distribution ladder — the live, EXACT-mergeable
    companion to `stream_distinct_hll` (and the streaming twin of
    `ts_histogram_ladder`).  Counts ADD, so unlike the idempotent HLL
    union a read-modify-write state table would double-count a replayed
    micro-batch; instead each batch writes its per-(day, bucket) partial
    counts to ``state/epoch=<id>`` with mode=overwrite — the
    `stream_replay_exactly_once` idempotent-sink recipe — and the day/
    month ladder is derived by summing the epoch partials at read.  A
    re-delivered epoch lands on its own directory and changes nothing.
    The 3-batch incremental result must equal the one-shot batch
    histogram EXACTLY (addition is associative), which the op asserts
    cell-by-cell over a FULL outer join before returning.

    Scale: each epoch's partial is days×buckets rows (metadata-sized);
    deriving totals reads O(epochs) tiny files, compacted periodically
    like any ladder level; at 100 TB this is the continuously-maintained
    distribution panel that plain streaming percentile state cannot
    express (quantiles don't merge; histograms do)."""
    from pyspark.sql import types as T

    from esxsnmp_tsdb_spark.sources import register_views

    out = op_dir("hist_stream")
    src = os.path.join(out, "src")
    state = os.path.join(out, "state")
    ev = register_views(spark, sf_dir)["events"]
    base = ev.select(
        F.expr(
            "CAST(floor(unix_timestamp(ts)) AS BIGINT) div 86400"
        ).alias("day"),
        F.expr(
            f"CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT)"
            f" div {HIST_BUCKET_W * 100}"
        ).alias("bucket"),
        "event_id",
    ).filter(F.col("event_id") % 10 != 0)
    _stage_three_parts(base, src)

    schema = T.StructType(
        [
            T.StructField("day", T.LongType()),
            T.StructField("bucket", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part=*")
    )

    def write_epoch_partial(bdf, epoch_id: int) -> None:
        # idempotent: a retried epoch overwrites its own partial
        bdf.groupBy("day", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).write.mode("overwrite").parquet(
            os.path.join(state, f"epoch={epoch_id}")
        )

    drive(stream, write_epoch_partial, os.path.join(out, "ckpt"))

    st = (
        spark.read.parquet(state)
        .groupBy("day", "bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    oneshot = base.drop("event_id").groupBy("day", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # exact-merge proof: full outer so lost/conjured cells count too
    j = st.withColumnRenamed("n", "n_stream").join(
        oneshot.withColumnRenamed("n", "n_batch"),
        ["day", "bucket"],
        "full",
    )
    n_diverged = j.filter(
        F.col("n_stream").isNull()
        | F.col("n_batch").isNull()
        | (F.col("n_stream") != F.col("n_batch"))
    ).count()
    if n_diverged:
        raise AssertionError(
            f"stream_histogram_ladder: {n_diverged} (day, bucket) cells "
            "diverged from the one-shot histogram — count addition "
            "stopped being exact, which can only be lost state"
        )
    day_rows = st.select(
        F.concat(F.lit("day:"), F.col("day").cast("string")).alias("scope"),
        "bucket",
        "n",
    )
    month_rows = (
        st.groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .select(F.lit("month").alias("scope"), "bucket", "n")
    )
    return day_rows.unionByName(month_rows)
