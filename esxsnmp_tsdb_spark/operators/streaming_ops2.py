"""§2.6 streaming surface, batch 2 (EXT): windowed top-k talkers and a
stateful online z-score anomaly detector.

Same batch-twin discipline as ``streaming_ops.py``: each op runs a real
``readStream`` micro-batch pipeline to completion and the DuckDB oracle
recomputes the identical semantics from the batch fixture — equality
proves the streaming formulation converges to the batch answer.

Determinism note for the z-score op: values are lifted to integer cents
(the ``floor(value*100)`` house trick), so the running sums the state
carries are EXACT integers and the mean/variance every row sees are
identical doubles in the pandas state path and the oracle's cumulative
window — no float-accumulation-order drift between engines."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from esxsnmp_tsdb_spark.operators.analytics5 import (
    _CAP10_VALUES as _CAP10_VALUES,
)
from esxsnmp_tsdb_spark.operators.analytics5 import CAP10 as _CAP10
from esxsnmp_tsdb_spark.functions.exact import half_up_div
from esxsnmp_tsdb_spark.functions.tsdb import obs_from_events
from esxsnmp_tsdb_spark.operators._workdirs import op_dir, scratch_dir
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.session import local_frame
from esxsnmp_tsdb_spark.streaming import drive, events_stream, run_to_memory

TOPK_WINDOW_SEC = 6 * 3600
TOPK_K = 3
Z_CUT = 3.0  # |z| above this = anomaly
Z_MIN_PRIOR = 10  # need this many prior samples before judging


@op(
    "stream_topk_talkers",
    oracle=f"""
WITH agg AS (
  SELECT concat_ws('/', user_id, event_type) AS path,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % {TOPK_WINDOW_SEC} AS slot,
         count(*) AS n, round(sum(value), 6) AS total
  FROM events GROUP BY 1, 2
)
SELECT slot, path, n, total, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY slot
                               ORDER BY total DESC, path) AS rank
  FROM agg
) WHERE rank <= {TOPK_K}
""",
)
def stream_topk_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k talkers per tumbling window — the live 'who is
    hammering the network right now' board (`ts_top_talkers` as a
    stream).

    The stream side does only the windowed aggregate (state = one row
    per live (window, path) — bounded by the window retention, never the
    event volume); ranking runs on the materialized window set, where
    each window holds at most the path catalog, so the rank window is
    per-slot and bounded.  At 100 TB the same split holds: aggregate in
    the stream, rank in the (tiny) serving layer."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", f"{TOPK_WINDOW_SEC} seconds"),
        F.concat_ws("/", "user_id", "event_type").alias("path"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_raw"))
    out = run_to_memory(agg, "complete", spark)
    scored = out.select(
        F.unix_timestamp(F.col("window.start")).alias("slot"),
        "path",
        "n",
        F.round("total_raw", 6).alias("total"),
    )
    w = Window.partitionBy("slot").orderBy(F.col("total").desc(), F.col("path"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOPK_K)
        .select("slot", "path", "n", "total", "rank")
    )


def _zscore_fn(key, pdfs, state):
    """Per-series online z-score: state carries exact integer (n, Σc, Σc²)
    over all prior samples; each row is scored against the statistics of
    the rows BEFORE it (its own value joins the state afterwards).

    Vectorized: prefix sums via cumsum + shift splice the carried state
    in as the prefix of the batch — no per-row Python loop.

    Requires an in-order source: prefix statistics are only correct if
    batches arrive in (tse, event_id) order per series, so the state also
    carries the last scored (tse, event_id) and a regression raises
    instead of silently scoring rows against wrong prefix moments."""
    (path,) = key
    n0, s0, q0, last_tse, last_eid = (
        state.get if state.exists else (0, 0, 0, -1, -1)
    )
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["tse", "event_id"])
        first = (int(pdf["tse"].iloc[0]), int(pdf["event_id"].iloc[0]))
        if first < (last_tse, last_eid):
            raise ValueError(
                f"stream_anomaly_zscore: out-of-order micro-batch for "
                f"series {path!r}: batch starts at {first}, state already "
                f"advanced past ({last_tse}, {last_eid}); the online "
                f"prefix moments require an in-(tse,event_id)-order source"
            )
        last_tse = int(pdf["tse"].iloc[-1])
        last_eid = int(pdf["event_id"].iloc[-1])
        c = pdf["cents"].astype("int64")
        n_prior = n0 + pd.RangeIndex(len(pdf))
        s_prior = (c.cumsum().shift(fill_value=0) + s0).astype("int64")
        q_prior = ((c * c).cumsum().shift(fill_value=0) + q0).astype("int64")
        n0 = int(n0 + len(pdf))
        s0 = int(s0 + int(c.sum()))
        q0 = int(q0 + int((c * c).sum()))
        nf = pd.Series(n_prior, index=c.index).astype("float64")
        mean = s_prior / nf
        var = q_prior / nf - mean * mean
        ok = (pd.Series(n_prior, index=c.index) >= Z_MIN_PRIOR) & (var > 0)
        # Half-away-from-zero to match the oracle's round(); pandas
        # .round() is half-even and would flip an exact 5e-7 tie.
        z_raw = (c - mean) / (var**0.5)
        z = np.floor(z_raw.abs() * 1e6 + 0.5) / 1e6 * np.sign(z_raw)
        hit = ok & (z.abs() > Z_CUT)
        if hit.any():
            yield pd.DataFrame(
                {
                    "path": path,
                    "tse": pdf.loc[hit, "tse"].astype("int64"),
                    "event_id": pdf.loc[hit, "event_id"].astype("int64"),
                    "cents": c[hit],
                    "z": z[hit],
                }
            )
    state.update((n0, s0, q0, last_tse, last_eid))


@op(
    "stream_anomaly_zscore",
    oracle=f"""
WITH c AS (
  SELECT concat_ws('/', user_id, event_type) AS path,
         CAST(floor(epoch(ts)) AS BIGINT) AS tse,
         event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
pre AS (
  SELECT path, tse, event_id, cents,
         count(*) OVER w AS n_prior,
         CAST(sum(cents) OVER w AS BIGINT) AS s_prior,
         CAST(sum(cents * cents) OVER w AS BIGINT) AS q_prior
  FROM c
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT path, tse, event_id, cents,
         round((cents - CAST(s_prior AS DOUBLE) / n_prior) /
               sqrt(CAST(q_prior AS DOUBLE) / n_prior
                    - (CAST(s_prior AS DOUBLE) / n_prior)
                      * (CAST(s_prior AS DOUBLE) / n_prior)), 6) AS z
  FROM pre
  WHERE n_prior >= {Z_MIN_PRIOR}
    AND CAST(q_prior AS DOUBLE) / n_prior
        - (CAST(s_prior AS DOUBLE) / n_prior)
          * (CAST(s_prior AS DOUBLE) / n_prior) > 0
)
SELECT path, tse, event_id, cents, z FROM scored WHERE abs(z) > {Z_CUT}
""",
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful online anomaly detection: each sample is z-scored against
    the running mean/variance of every EARLIER sample of its series, with
    the (n, Σ, Σ²) moments carried in the state store — the streaming
    twin of `ts_anomaly_zscore`'s batch statistics, evaluated causally
    (no peeking at the future, unlike a batch z-score).

    The moments are exact integers (cents lift), so the state is 24
    bytes/series forever and the scores match the oracle's cumulative-
    window formulation bit-for-bit.  The pandas path is fully vectorized
    (cumsum + shift, state spliced in as the prefix)."""
    ev = events_stream(spark, sf_dir)
    obs = ev.select(
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        F.unix_timestamp("ts").alias("tse"),
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    result = obs.groupBy("path").applyInPandasWithState(
        _zscore_fn,
        outputStructType="path string, tse bigint, event_id bigint, "
        "cents bigint, z double",
        stateStructType="n bigint, s bigint, q bigint, "
        "last_tse bigint, last_eid bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(result, "append", spark)


TOMBSTONE_MOD = 17  # keep in lockstep with operators/ingest2.py


@op(
    "stream_cdc_apply",
    oracle=f"""
WITH c AS (
  SELECT concat_ws('/', user_id, event_type) AS path,
         CAST(floor(epoch(ts)) AS BIGINT) AS tse,
         event_id, value,
         CASE WHEN event_id % {TOMBSTONE_MOD} = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
lww AS (
  SELECT path, slot, value, op FROM (
    SELECT path, tse - tse % 300 AS slot, value, op,
           row_number() OVER (PARTITION BY path, tse - tse % 300
                              ORDER BY tse DESC, event_id DESC) AS rn
    FROM c
  ) WHERE rn = 1
)
SELECT path, slot, round(value, 6) AS value FROM lww WHERE op = 'U'
""",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC consumer: a change feed of upserts and tombstones
    (every {TOMBSTONE_MOD}th event deletes its slot) applied to a
    parquet store via ``foreachBatch`` — the live twin of
    `ingest_cdc_merge`, converging to the same last-change-wins table.

    Each micro-batch is LWW-collapsed, merged against ONLY the day
    partitions it touches, and written back with dynamic partition
    overwrite (the ladder-maintenance pattern — historical days are
    never re-read, which is what keeps a 100 TB store's CDC lag bounded
    by change volume, not store size).  Tombstones are retained in the
    store so later micro-batches order correctly against them; the
    serving read filters them out.

    Known cost on a skewed feed: when every batch touches TODAY, the
    per-batch rewrite re-reads and re-writes the full hot day even for a
    one-row change.  The fix at scale is a finer merge grain under the
    day: a bucketed MERGE target (hash(path) buckets inside the day, so
    a batch rewrites only the buckets it touches — the
    `storage_bucketed_join` layout as a sink) or a deletion-vector table
    format (Delta/Iceberg v2), where the merge appends + tombstones and
    the rewrite moves to compaction.  Plain parquet has no sub-file
    replace primitive, so day grain is the honest floor here."""
    import os

    out = op_dir("stream_cdc_store")
    store = os.path.join(out, "t")
    ev = events_stream(spark, sf_dir)
    chg = ev.select(
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        F.unix_timestamp("ts").alias("tse"),
        "event_id",
        "value",
        F.when(F.col("event_id") % TOMBSTONE_MOD == 0, "D")
        .otherwise("U")
        .alias("op"),
    ).withColumn("slot", F.col("tse") - F.col("tse") % 300)

    def apply_batch(bdf, epoch_id):
        s = bdf.sparkSession
        w = Window.partitionBy("path", "slot").orderBy(
            F.col("tse").desc(), F.col("event_id").desc()
        )
        cols = ["path", "slot", "tse", "event_id", "value", "op"]
        inc = (
            bdf.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(*cols)
            .withColumn("day", F.to_date(F.timestamp_seconds(F.col("slot"))))
        )
        if os.path.exists(store):
            days = [r.day for r in inc.select("day").distinct().collect()]
            existing = s.read.parquet(store).filter(F.col("day").isin(days))
            merged = (
                existing.unionByName(inc)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
                # Materialize BEFORE the overwrite below: the plan reads the
                # same parquet paths the write replaces, and relying on the
                # staging order of dynamic partition overwrite would lose
                # the touched days if the job failed mid-write.
                .localCheckpoint(eager=True)
            )
        else:
            merged = inc
        (
            merged.repartition("day")
            .write.mode("overwrite" if os.path.exists(store) else "append")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(store)
        )

    drive(chg, apply_batch, scratch_dir("cdc_ckpt_"))
    back = spark.read.parquet(store)
    return back.filter(F.col("op") == "U").select(
        "path", "slot", F.round("value", 6).alias("value")
    )


RETENTION_CUTOFF_TSE = 1704844800  # 2024-01-10 00:00Z (_shared.T_JAN10)
RETENTION_CUTOFF_DAY = "2024-01-10"


@op(
    "stream_ladder_retention",
    oracle=f"""
WITH obs AS (
  SELECT concat_ws('/', user_id, event_type) AS path,
         CAST(floor(epoch(ts)) AS BIGINT) AS tse,
         CAST(value AS DOUBLE) AS value
  FROM events
)
SELECT path, tse - tse % 3600 AS slot,
       round(avg(value), 6) AS average,
       min(value) AS vmin, max(value) AS vmax, count(*) AS n
FROM obs WHERE tse >= {RETENTION_CUTOFF_TSE}
GROUP BY path, tse - tse % 3600
""",
)
def stream_ladder_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ladder maintenance under a retention policy: the foreachBatch
    upsert loop (`streaming/maintenance.py`) runs with
    ``retention_cutoff``, so any arrival older than the cutoff day is
    dropped AT THE MERGE POINT — the guard that stops a late backfill
    from resurrecting a day partition retention already expired (the
    expiry-vs-backfill race, also staged deterministically in
    tests/test_maintenance.py).

    The oracle is the batch aggregate over the RETAINED window only:
    equality proves the policy is exact (nothing past the cutoff leaks
    in, nothing inside it is lost), on top of the convergence property
    `stream_ladder_maintenance` already proves without a policy."""
    import os

    from esxsnmp_tsdb_spark.streaming.maintenance import (
        maintain_levels,
        read_level,
    )

    out = op_dir("ladder_retention_op")
    maintain_levels(
        obs_from_events(events_stream(spark, sf_dir)),
        out,
        levels=(3600,),
        retention_cutoff=RETENTION_CUTOFF_DAY,
    )
    # the store must not even contain a pre-cutoff day directory
    level_dir = os.path.join(out, "level=3600")
    assert not any(
        d.startswith("day=") and d.split("=", 1)[1] < RETENTION_CUTOFF_DAY
        for d in os.listdir(level_dir)
    ), "retention leaked a pre-cutoff day partition"
    lvl = read_level(spark, out, 3600)
    return lvl.select(
        "path",
        "slot",
        F.round("average", 6).alias("average"),
        "vmin",
        "vmax",
        "n",
    )


N_CDC_BUCKETS = 16


@op(
    "stream_cdc_apply_bucketed",
    oracle=f"""
WITH c AS (
  SELECT concat_ws('/', user_id, event_type) AS path,
         CAST(floor(epoch(ts)) AS BIGINT) AS tse,
         event_id, value,
         CASE WHEN event_id % {TOMBSTONE_MOD} = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
lww AS (
  SELECT path, slot, value, op FROM (
    SELECT path, tse - tse % 300 AS slot, value, op,
           row_number() OVER (PARTITION BY path, tse - tse % 300
                              ORDER BY tse DESC, event_id DESC) AS rn
    FROM c
  ) WHERE rn = 1
)
SELECT path, slot, round(value, 6) AS value FROM lww WHERE op = 'U'
""",
)
def stream_cdc_apply_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`stream_cdc_apply` with the sub-day merge grain its docstring
    names: the store is partitioned by (day, bkt = hash(path) mod
    {N_CDC_BUCKETS}), and each micro-batch merges against ONLY the
    (day, bucket) combinations it touches — on a skewed feed where every
    batch lands on today, a one-series change rewrites 1/{N_CDC_BUCKETS}
    of the hot day instead of all of it.  Dynamic partition overwrite at
    the finer grain is the plain-parquet stand-in for a bucketed MERGE
    target; same LWW semantics, same oracle as `stream_cdc_apply` — the
    layout changes the physics, not the answer."""
    import os

    out = op_dir("stream_cdc_bucketed_store")
    store = os.path.join(out, "t")
    ev = events_stream(spark, sf_dir)
    chg = (
        ev.select(
            F.concat_ws("/", "user_id", "event_type").alias("path"),
            F.unix_timestamp("ts").alias("tse"),
            "event_id",
            "value",
            F.when(F.col("event_id") % TOMBSTONE_MOD == 0, "D")
            .otherwise("U")
            .alias("op"),
        )
        .withColumn("slot", F.col("tse") - F.col("tse") % 300)
        .withColumn("bkt", F.pmod(F.xxhash64("path"), F.lit(N_CDC_BUCKETS)))
    )

    def apply_batch(bdf, epoch_id):
        s = bdf.sparkSession
        w = Window.partitionBy("path", "slot").orderBy(
            F.col("tse").desc(), F.col("event_id").desc()
        )
        cols = ["path", "slot", "tse", "event_id", "value", "op", "bkt"]
        inc = (
            bdf.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(*cols)
            .withColumn("day", F.to_date(F.timestamp_seconds(F.col("slot"))))
        )
        if os.path.exists(store):
            touched = [
                (r.day, r.bkt)
                for r in inc.select("day", "bkt").distinct().collect()
            ]
            existing = s.read.parquet(store).join(
                F.broadcast(
                    local_frame(s, touched, "day date, bkt bigint")
                ),
                ["day", "bkt"],
                "leftsemi",
            )
            merged = (
                existing.unionByName(inc)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
                .localCheckpoint(eager=True)  # never overwrite our own input
            )
        else:
            merged = inc
        (
            merged.repartition("day", "bkt")
            .write.mode("overwrite" if os.path.exists(store) else "append")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day", "bkt")
            .parquet(store)
        )

    drive(chg, apply_batch, scratch_dir("cdcb_ckpt_"))
    back = spark.read.parquet(store)
    return back.filter(F.col("op") == "U").select(
        "path", "slot", F.round("value", 6).alias("value")
    )


UTIL_WINDOW_SEC = 3600
UTIL_ALERT_MICRO = 800_000  # windows above 80% of provisioned capacity alert
# Integer cap10 dim imported from analytics5 (single source of truth):
# utilization is exact integer micro-units — util = vol_cents/(36000·cap10)
# for a 1 h window, round-half-up via (2n + d) div 2d.  A double
# formulation hit a true 5e-7 rounding tie at sf0.01 (1053/144000 =
# 0.0073125 exactly).


@op(
    "stream_utilization_alert",
    oracle=f"""
WITH caps(etype, cap10) AS (VALUES {_CAP10_VALUES}),
agg AS (
  SELECT concat_ws('/', user_id, event_type) AS path,
         event_type AS etype,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % {UTIL_WINDOW_SEC} AS slot,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vol_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
u AS (
  SELECT slot, path, n, vol_cents,
         {half_up_div('vol_cents', f'{UTIL_WINDOW_SEC} * 10 * cap10', mul=1_000_000, idiv='//')}
           AS util_micro
  FROM agg JOIN caps USING (etype)
)
SELECT slot, path, n, vol_cents,
       round(util_micro / 1e6, 6) AS util,
       CAST(CASE WHEN util_micro > {UTIL_ALERT_MICRO} THEN 1 ELSE 0 END
            AS BIGINT) AS alert
FROM u
""",
)
def stream_utilization_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming utilization alerting — the live twin of
    `ts_utilization_report`: per-series traffic volume per tumbling hour,
    divided by the class capacity from a STATIC broadcast dim joined
    in-stream, alerting windows past 80 % — the NOC wallboard query.

    Composition: stream-static broadcast join (the `stream_static_join`
    mechanism) feeding a windowed aggregate whose state is one row per
    live (window, series) — bounded by the catalog, not the event rate.
    Volumes accumulate as integer cents and utilization is exact integer
    micro-units against the integer cap10 dim (analytics5 discipline),
    so the state and the emitted numbers are cross-engine exact.  The
    batch oracle recomputes the same windows from the fixture; equality
    proves stream/batch convergence."""
    ev = events_stream(spark, sf_dir)
    caps = local_frame(
        spark, sorted(_CAP10.items()), "event_type string, cap10 bigint"
    )
    joined = ev.join(F.broadcast(caps), "event_type")
    agg = joined.groupBy(
        F.window("ts", f"{UTIL_WINDOW_SEC} seconds"),
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        "cap10",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("vol_cents"),
    )
    out = run_to_memory(agg, "complete", spark)
    util_micro = F.expr(
        half_up_div(
            "vol_cents", f"{UTIL_WINDOW_SEC} * 10 * cap10", mul=1_000_000
        )
    )
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("slot"),
        "path",
        "n",
        F.col("vol_cents").cast("bigint").alias("vol_cents"),
        F.round(util_micro / 1e6, 6).alias("util"),
        (util_micro > UTIL_ALERT_MICRO).cast("bigint").alias("alert"),
    )


WM_SPLIT_TSE = 1705708800  # 2024-01-20 00:00Z — hour-aligned lateness cut
WM_TAIL_TSE = 1706572800  # 2024-01-30 00:00Z — hour-aligned sentinel cut
WM_DELAY_SEC = 3600


@op(
    "stream_watermark_late_check",
    oracle=f"""
WITH b1 AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tse
  FROM events WHERE epoch(ts) >= {WM_SPLIT_TSE}
),
wm AS (
  SELECT max(epoch(ts)) - {WM_DELAY_SEC} AS w
  FROM events WHERE epoch(ts) >= {WM_SPLIT_TSE}
)
SELECT b1.event_type, b1.tse - b1.tse % 3600 AS slot, count(*) AS n
FROM b1, wm
WHERE b1.tse - b1.tse % 3600 + 3600 <= wm.w
GROUP BY 1, 2
""",
)
def stream_watermark_late_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked twin of `stream_watermark_late`: watermark lateness
    staged so EVENT-TIME ORDER, not arrival timing, decides what is late,
    so the result is free of processing time and can be value-hashed.

    The fixture is replayed as exactly three micro-batches
    (``maxFilesPerTrigger=1``, file order pinned via mtime):

    * batch 0 = events in [``WM_SPLIT_TSE``, ``WM_TAIL_TSE``) — the
      mid-range body (2024-01-20 .. 01-30, hour-aligned cuts).
    * batch 1 = events at/after ``WM_TAIL_TSE`` (the final day).  After
      this batch the watermark is pinned at ``max(ts) - delay`` — ~10
      days PAST every pre-cut event.
    * batch 2 = every event before ``WM_SPLIT_TSE``: each row's 1h
      window closed long before the watermark, so ALL of batch 2 is
      dropped as late, deterministically — the streaming analog of the
      reference's refusal to backfill past a flushed chunk †.

    Why three batches, not two: Spark filters batch N's late input with
    the EVICTION watermark of batch N-1 (watermark propagation lags one
    batch for late events — measured on this Spark: a late file arriving
    as batch 1 sees a zero late-event watermark and sails through).  The
    sentinel batch 1 burns that lag, so by batch 2 the late-event
    watermark is already ``max(ts through batch 0) - delay``.

    The emitted append-mode set is therefore exactly: hourly windows of
    post-cut rows whose window end <= max(ts) - delay (the no-data final
    batch closes eligible tail windows; later windows stay open and
    unemitted).  The oracle recomputes that set in batch SQL — a value
    hash, not a rows-only count.  If the engine failed to drop late rows,
    pre-cut windows would appear and the hash would differ; if it failed
    to hold the tail, extra windows would appear.

    Knife-edge note: window ends are whole-hour
    integers while ``max(ts)`` carries microseconds at every fixture SF,
    so ``end <= max - delay`` can never tie;
    tests/test_watermark_late_check.py::test_no_knife_edge_at_any_sf
    asserts the non-alignment per SF.
    """
    import os
    import shutil

    from esxsnmp_tsdb_spark.sources.catalog import load_table

    root = op_dir("wm_late_check")
    src = os.path.join(root, "src")
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    tmp = os.path.join(root, "tmp")
    tse = F.unix_timestamp("ts")
    for fname, cond, mtime in (
        (
            "batch0.parquet",
            (tse >= WM_SPLIT_TSE) & (tse < WM_TAIL_TSE),
            1_000_000_000,
        ),
        ("batch1.parquet", tse >= WM_TAIL_TSE, 1_000_000_600),
        ("batch2.parquet", tse < WM_SPLIT_TSE, 1_000_001_200),
    ):
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.startswith("part-")][0]
        dst = os.path.join(src, fname)
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp)

    staged = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        staged.withWatermark("ts", f"{WM_DELAY_SEC} seconds")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, "append", spark)
    return out.select(
        "event_type",
        F.unix_timestamp(F.col("window.start")).alias("slot"),
        F.col("n").cast("bigint").alias("n"),
    )
