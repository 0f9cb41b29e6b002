"""§2.2/§2.3 — the full RRD ingest pipeline as ONE
maintained op, and ROW_HIDDEN visibility semantics.

``ts_ladder_full_pipeline`` composes the whole reference ingest path
(``Aggregator.update`` → ``TSDBVar.update_all_aggregates`` †) end to end:
wrap-correct → heartbeat-invalidate → proportional bin-split into the fine
(5 m) level → cascaded 1 h stored level carrying the delta CF.  Every prior
round proved the stages piecewise (aggregator.py `ts_counter_wrap`,
`ts_heartbeat_invalidate`, `ts_bin_split`; sources/ladder.py cascade);
this op pins the COMPOSED behavior under one oracle that recomputes the
stored level straight from raw.

Exactness discipline: the proportional allocation runs in integer
micro-units end to end — ``alloc_micro = wd·overlap·10⁶ div dt`` with every
operand non-negative (wrap-corrected delta ≥ 0, 0 < overlap ≤ dt), so
Spark's ``div`` (truncate) and DuckDB's ``//`` (floor) agree digit-exact,
and both ladder levels are BIGINT sums — no float enters the cascade, so
cross-engine summation order cannot flip the hash.

``ts_flag_visibility`` adds the second flags bit the reference row format
carries (``tsdb/row.py`` · ROW_VALID | ROW_HIDDEN †): a row can be valid
but hidden (operator-suppressed from display while still aggregable).  The
fixture synthesizes bit 1 deterministically (every 7th event_id), mirroring
how ``obs_from_events`` synthesizes bit 0.

Scale posture: one window shuffle on ``path``, then the FINE explode is
JVM `sequence` (K rows per K-bucket span), and both levels are partial-
aggregated group-bys on (path, slot) — the same single-exchange shape the
plan audit enforces registry-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._shared import (
    BUCKET,
    CNT_CTE,
    FINE,
    HEARTBEAT,
    OBS_CTE,
    SYNTH_WRAP,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.sources import flat_obs


MICRO = 1_000_000


def _valid_spans(d: DataFrame) -> DataFrame:
    """Stage 2: wrap-corrected, heartbeat-filtered spans from a lagged
    delta frame carrying (path, tse, delta, dt)."""
    return d.filter(
        F.col("delta").isNotNull() & (F.col("dt") > 0) & (F.col("dt") <= HEARTBEAT)
    ).select(
        "path",
        "tse",
        "dt",
        (F.col("tse") - F.col("dt")).alias("t0"),
        tsdb.wrap_correct(F.col("delta"), SYNTH_WRAP).cast("bigint").alias("wd"),
    )


def _fine_partial(spans: DataFrame, redistribute: bool = True) -> DataFrame:
    """Stage 3: proportional bin-split of spans into the FINE level (JVM
    ``sequence`` explode; integer micro-unit allocation — see module
    docstring).  Output (path, fbucket, delta_micro, n_spans) is a PURE
    ADDITIVE PARTIAL: partials from any split of the span set sum to the
    whole, which is what makes the streaming twin exact.

    ``redistribute=False`` assumes the caller already co-partitioned by
    ``path`` below its windows (keyed fan_out) so the groupBy here runs
    in-stage on the exploded rows; the default round-robin fan-out is for
    callers (the streaming micro-batch persister) whose input arrives
    un-partitioned."""
    from esxsnmp_tsdb_spark.session import fan_out

    ex = (fan_out(spans) if redistribute else spans).withColumn(
        "fbucket",
        F.explode(
            F.sequence(
                tsdb.slot_of(F.col("t0"), FINE),
                tsdb.slot_of(F.col("tse") - 1, FINE),
                F.lit(FINE),
            )
        ),
    )
    overlap = F.least(F.col("tse"), F.col("fbucket") + FINE) - F.greatest(
        F.col("t0"), F.col("fbucket")
    )
    alloc = F.expr(f"wd * overlap * {MICRO} div dt")
    return (
        ex.withColumn("overlap", overlap.cast("bigint"))
        .withColumn("alloc_micro", alloc)
        .groupBy("path", "fbucket")
        .agg(
            F.sum("alloc_micro").alias("delta_micro"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )


def _cascade_1h(fine: DataFrame) -> DataFrame:
    """Stage 4: stored 1 h level cascaded FROM THE FINE LEVEL, never raw
    (update_all_aggregates †): delta CF plus the fine distribution."""
    return (
        fine.groupBy("path", tsdb.slot_of(F.col("fbucket"), BUCKET).alias("slot"))
        .agg(
            F.sum("delta_micro").cast("bigint").alias("delta_micro"),
            F.min("delta_micro").cast("bigint").alias("fine_min_micro"),
            F.max("delta_micro").cast("bigint").alias("fine_max_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_fine"),
            F.sum("n_spans").cast("bigint").alias("n_spans"),
        )
    )


def ladder_full_pipeline(obs: DataFrame) -> DataFrame:
    """Library form of the composed ingest pipeline (see module docstring).

    Returns the stored 1 h level: one row per (path, slot) with the delta
    CF in micro-units plus the fine-level distribution the Aggregate row
    keeps (min/max of contributing 5 m deltas, fine-bucket and span counts).
    """
    from esxsnmp_tsdb_spark.operators.aggregator import _counter
    from esxsnmp_tsdb_spark.session import fan_out

    # Stage 1 — synthetic Counter32: running sum wrapped at the modulus.
    # Keyed fan-out below the windows (see ts_bin_split): ONE exchange of
    # raw obs rows, AQE-coalesce-exempt, whose HashPartitioning(path)
    # carries through both windows, the FINE explode-aggregate and the 1 h
    # cascade — the exploded allocation rows are never reshuffled.
    # width=4 sizes tasks for the post-explode volume (session.fan_out).
    cnt = _counter(fan_out(obs, "path", width=4)).withColumn(
        "counter", F.col("counter") % SYNTH_WRAP
    )
    return _cascade_1h(
        _fine_partial(_valid_spans(tsdb.deltas(cnt, "counter")), redistribute=False)
    )


# Shared by the batch op and its streaming twin: BOTH must converge to
# this exact recomputation from raw (allocation partials are additive,
# so micro-batch boundaries cannot change the stored level).
LADDER_PIPELINE_ORACLE = f"""
WITH {OBS_CTE}, {CNT_CTE},
wrapped AS (SELECT path, tse, event_id, counter % {SYNTH_WRAP} AS cw FROM cnt),
d AS (
  SELECT path, tse, cw - lag(cw) OVER w AS delta, tse - lag(tse) OVER w AS dt
  FROM wrapped
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
),
spans AS (
  SELECT path, tse, dt, tse - dt AS t0,
         CASE WHEN delta < 0 THEN delta + {SYNTH_WRAP} ELSE delta END AS wd
  FROM d WHERE delta IS NOT NULL AND dt > 0 AND dt <= {HEARTBEAT}
),
exploded AS (
  SELECT path, tse, dt, t0, wd,
         CAST(unnest(generate_series(t0 - t0 % {FINE},
                                     (tse - 1) - (tse - 1) % {FINE},
                                     {FINE})) AS BIGINT) AS fbucket
  FROM spans
),
fine AS (
  SELECT path, fbucket,
         SUM(wd * (least(tse, fbucket + {FINE}) - greatest(t0, fbucket))
             * {MICRO} // dt) AS delta_micro,
         count(*) AS n_spans
  FROM exploded GROUP BY 1, 2
)
SELECT path, fbucket - fbucket % {BUCKET} AS slot,
       CAST(sum(delta_micro) AS BIGINT) AS delta_micro,
       CAST(min(delta_micro) AS BIGINT) AS fine_min_micro,
       CAST(max(delta_micro) AS BIGINT) AS fine_max_micro,
       CAST(count(*) AS BIGINT) AS n_fine,
       CAST(sum(n_spans) AS BIGINT) AS n_spans
FROM fine GROUP BY 1, 2
"""


@op("ts_ladder_full_pipeline", oracle=LADDER_PIPELINE_ORACLE)
def ts_ladder_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole ingest-time pipeline composed end to end
    (Aggregator.update wrap + heartbeat + slot-boundary allocation →
    update_all_aggregates stored levels †) — the oracle recomputes the
    stored 1 h delta CF straight from raw, proving the composition, not
    just the stages."""
    return ladder_full_pipeline(flat_obs(spark, sf_dir))


@op(
    "ts_flag_visibility",
    oracle=f"""
WITH {OBS_CTE},
f AS (
  SELECT path,
         flags | (CASE WHEN event_id % 7 = 0 THEN 2 ELSE 0 END) AS flags2
  FROM obs
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN (flags2 & 1) != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       CAST(sum(CASE WHEN (flags2 & 2) != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hidden,
       CAST(sum(CASE WHEN (flags2 & 3) = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_visible_valid
FROM f GROUP BY path
""",
)
def ts_flag_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_HIDDEN semantics (tsdb/row.py · ROW_VALID=0x1, ROW_HIDDEN=0x2 †):
    a row can be valid-but-hidden — suppressed from display queries while
    still counted by maintenance.  Per-path visibility census: total,
    valid (bit 0), hidden (bit 1), and displayable (valid AND NOT hidden,
    i.e. flags & 0b11 == 0b01) — the predicate ``TSDBVar.select(flags=…)``
    † applies.  The hidden bit is synthesized every 7th event_id, same
    convention as obs_from_events' bit 0.

    One partial-aggregated group-by on path; the bit tests are JVM
    bitwise expressions inside whole-stage codegen."""
    obs = flat_obs(spark, sf_dir)
    flags2 = F.col("flags").bitwiseOR(
        F.when(F.col("event_id") % 7 == 0, F.lit(tsdb.ROW_HIDDEN)).otherwise(0)
    )
    return (
        obs.select("path", flags2.alias("flags2"))
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(
                F.when(F.col("flags2").bitwiseAND(tsdb.ROW_VALID) != 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_valid"),
            F.sum(
                F.when(F.col("flags2").bitwiseAND(tsdb.ROW_HIDDEN) != 0, 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_hidden"),
            F.sum(
                F.when(
                    F.col("flags2").bitwiseAND(tsdb.ROW_VALID | tsdb.ROW_HIDDEN)
                    == tsdb.ROW_VALID,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_visible_valid"),
        )
    )


@op("stream_ladder_full_pipeline", oracle=LADDER_PIPELINE_ORACLE)
def stream_ladder_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed RRD ingest pipeline maintained INCREMENTALLY — the
    streaming twin of `ts_ladder_full_pipeline`, same oracle: the stored
    1 h delta level after 3 time-sliced micro-batches must equal the
    batch recomputation from raw EXACTLY (micro-unit allocations are
    integers and additive, so batch boundaries cannot change any cell).

    This is the reference persister's actual loop (§3.2 —
    ``TSDBPollPersister`` → ``update_all_aggregates`` reading the
    last-processed position from metadata †) in Structured Streaming
    shape:

    - the source arrives time-ordered (poller semantics); each
      micro-batch carries one time slice;
    - per-series carry state (last tse/event_id/counter) is the
      "last-processed position": snapshotted per epoch
      (``state/v=<epoch>``), read back at ``epoch-1`` — a retried epoch
      re-reads the same carry and overwrites its own outputs, so the
      sink is exactly-once without read-modify-write;
    - each batch computes its spans (including the one crossing the
      batch boundary, formed when the later endpoint arrives), allocates
      them into FINE buckets, and writes the ADDITIVE partial to
      ``fine/epoch=<id>`` (the `stream_histogram_ladder` recipe: counts
      add, so partials are epoch-keyed, never read-modify-write);
    - the stored 1 h level is derived by summing epoch partials and
      cascading — never by re-reading historical raws.

    Scale: state is one row per live series; each epoch partial is
    (series × touched fine buckets) rows.  At 100 TB this is the only
    shape that keeps the ladder current: the day's raws stream through
    once, and everything downstream is metadata-sized.
    """
    import os

    from esxsnmp_tsdb_spark.operators._shared import T_JAN10, T_JAN20
    from esxsnmp_tsdb_spark.operators._workdirs import op_dir
    from esxsnmp_tsdb_spark.streaming import drive, stage_ordered_slices

    out = op_dir("ladder_full_stream")
    src = os.path.join(out, "src")
    fine_dir = os.path.join(out, "fine")
    state_dir = os.path.join(out, "state")

    obs = flat_obs(spark, sf_dir).select("path", "tse", "value", "event_id")
    # Stage the source as three consecutive time slices (poller delivery
    # order; file mod-time + path order make the 1-file-per-trigger
    # stream consume them in sequence).
    cuts = [(None, T_JAN10), (T_JAN10, T_JAN20), (T_JAN20, None)]
    slices = []
    for lo, hi in cuts:
        part = obs
        if lo is not None:
            part = part.filter(F.col("tse") >= lo)
        if hi is not None:
            part = part.filter(F.col("tse") < hi)
        slices.append(part)
    # delivery order is load-bearing (the carry pairs each slice's first
    # row with the previous slice's last) — the shared stager pins
    # strictly increasing mtimes
    stage_ordered_slices(slices, src)

    from pyspark.sql import Window

    def fold(batch: DataFrame, epoch_id: int) -> None:
        prev_path = os.path.join(state_dir, f"v={epoch_id - 1}")
        if epoch_id > 0 and os.path.isdir(prev_path):
            prev = spark.read.parquet(prev_path)
        else:
            prev = local_frame(
                spark, [], "path string, p_tse long, p_eid long, p_counter long"
            )
        # Stage 1, incremental: counter = carry + in-batch running sum.
        w = (
            Window.partitionBy("path")
            .orderBy("tse", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # Two consumers (fine-partial write + state write) — checkpoint
        # so the running-sum window and carry join run once per epoch,
        # not once per write action (the stream_dedup_indexed recipe).
        b = (
            batch.withColumn(
                "inc", F.floor(F.col("value") * 100).cast("bigint")
            )
            .withColumn("csum", F.sum("inc").over(w))
            .join(F.broadcast(prev), "path", "left")
            .withColumn(
                "counter", F.coalesce("p_counter", F.lit(0)) + F.col("csum")
            )
            .withColumn("cw", F.col("counter") % SYNTH_WRAP)
            .localCheckpoint()
        )
        # Stage 2, incremental: in-batch lag, with the carry sample as
        # the predecessor of each series' first batch row.
        lw = Window.partitionBy("path").orderBy("tse", "event_id")
        prev_cw = F.coalesce(
            F.lag("cw").over(lw), F.col("p_counter") % SYNTH_WRAP
        )
        prev_tse = F.coalesce(F.lag("tse").over(lw), F.col("p_tse"))
        d = b.select(
            "path",
            "tse",
            (F.col("cw") - prev_cw).alias("delta"),
            (F.col("tse") - prev_tse).cast("bigint").alias("dt"),
        )
        # Stages 3+: additive fine partial, epoch-keyed (idempotent).
        _fine_partial(_valid_spans(d)).write.mode("overwrite").parquet(
            os.path.join(fine_dir, f"epoch={epoch_id}")
        )
        # New carry = latest sample per path across batch ∪ old carry.
        last_in_batch = b.groupBy("path").agg(
            F.max(F.struct("tse", "event_id", "counter")).alias("m")
        ).select(
            "path",
            F.col("m.tse").alias("p_tse"),
            F.col("m.event_id").alias("p_eid"),
            F.col("m.counter").alias("p_counter"),
        )
        carried = prev.join(last_in_batch, "path", "left_anti")
        last_in_batch.unionByName(carried).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v={epoch_id}")
        )

    stream = (
        spark.readStream.schema(
            "path string, tse long, value double, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/part=*")
    )
    drive(stream, fold, os.path.join(out, "ckpt"))

    fine = (
        spark.read.parquet(fine_dir)
        .groupBy("path", "fbucket")
        .agg(
            F.sum("delta_micro").alias("delta_micro"),
            F.sum("n_spans").alias("n_spans"),
        )
    )
    return _cascade_1h(fine)
