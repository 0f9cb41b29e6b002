"""§2.6 Structured Streaming surface (EXT): the reference's poller ingest
loop † formalized as micro-batch pipelines.  Each op runs a REAL streaming
query (file source → transforms → memory sink, driven to completion), then
returns the sink contents so the driver's checker can compare it — with a
batch-twin DuckDB oracle where the semantics are batch-equivalent, rows-only
otherwise.

Scale posture: these exact pipelines run unchanged against Kafka/object-
store sources; state (dedup keys, session windows, rate state) lives in the
state store keyed by the same columns the batch twins shuffle on.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from esxsnmp_tsdb_spark.functions.tsdb import obs_from_events
from esxsnmp_tsdb_spark.operators._shared import OBS_CTE
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import register_views
from esxsnmp_tsdb_spark.streaming import events_stream, run_to_memory

SESSION_GAP_SEC = 1800  # session gap == heartbeat semantics (SURVEY §2.6)


@op(
    "stream_ingest",
    oracle="""
SELECT event_type, count(*) AS n_rows,
       CAST(min(floor(epoch(ts))) AS BIGINT) AS first_tse,
       CAST(max(floor(epoch(ts))) AS BIGINT) AS last_tse
FROM events GROUP BY event_type
""",
)
def stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch append ingest (``TSDBPollPersister`` † as a stream):
    rows flow file-source → append sink; the check aggregates the landed
    rows, proving ingest is complete and loss-free."""
    landed = run_to_memory(events_stream(spark, sf_dir), "append", spark)
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.unix_timestamp("ts")).alias("first_tse"),
        F.max(F.unix_timestamp("ts")).alias("last_tse"),
    )


@op(
    "stream_tumbling",
    oracle="""
SELECT event_type,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS slot,
       count(*) AS n, round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregate — the streaming twin of
    `ts_downsample_avg`; complete mode emits the full window set, and the
    batch oracle checks exact equivalence."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_raw")
    )
    out = run_to_memory(agg, "complete", spark)
    return out.select(
        "event_type",
        F.unix_timestamp(F.col("window.start")).alias("slot"),
        "n",
        F.round("avg_raw", 6).alias("avg_value"),
    )


@op(
    "stream_sliding",
    oracle="""
WITH offs AS (SELECT unnest(generate_series(0, 3)) AS k),
hits AS (
  SELECT e.event_type,
         (CAST(floor(epoch(e.ts)) AS BIGINT)
          - CAST(floor(epoch(e.ts)) AS BIGINT) % 900) - o.k * 900 AS slot
  FROM events e CROSS JOIN offs o
)
SELECT event_type, slot, count(*) AS n FROM hits GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h window, 15m slide): each event lands in 4
    overlapping windows; the oracle materializes the same 4 offsets
    explicitly."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_to_memory(agg, "complete", spark)
    return out.select(
        "event_type", F.unix_timestamp(F.col("window.start")).alias("slot"), "n"
    )


@op(
    "stream_session",
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
SELECT path, min(tse) AS session_start, max(tse) AS session_last,
       count(*) AS n_events
FROM sessions GROUP BY path, sid
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per series with gap == the heartbeat idea (§2.2):
    a gap over SESSION_GAP starts a new session.  Streaming side uses
    native ``session_window``; the oracle is the classic lag-gap-cumsum
    batch sessionization — semantically identical for closed sessions."""
    ev = events_stream(spark, sf_dir)
    obs = ev.select(
        F.concat_ws("/", "user_id", "event_type").alias("path"), "ts"
    )
    agg = obs.groupBy(
        F.session_window("ts", f"{SESSION_GAP_SEC} seconds"), "path"
    ).agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
    out = run_to_memory(agg, "complete", spark)
    return out.select(
        "path",
        F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
        F.unix_timestamp(F.col("last_ts")).alias("session_last"),
        "n_events",
    )


@op("stream_watermark_late")
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append mode: only windows the 1-hour watermark has
    passed are finalized and emitted; the tail of the stream stays open —
    the streaming analog of the reference's refusal to backfill past a
    flushed chunk †.  Rows-only: emission timing depends on micro-batch
    boundaries, so no batch oracle."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, "append", spark)
    return out.select(
        "event_type", F.unix_timestamp(F.col("window.start")).alias("slot"), "n"
    )


@op(
    "stream_dedup",
    oracle="SELECT event_id FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id: the fixture stream unioned with itself
    (every row a duplicate) → ``dropDuplicates`` state recovers exactly the
    original id set."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    deduped = a.unionAll(b).select("event_id").dropDuplicates(["event_id"])
    return run_to_memory(deduped, "append", spark)


@op(
    "stream_static_join",
    oracle="""
WITH dim AS (
  SELECT DISTINCT event_type,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
              WHEN event_type = 'error' THEN 'fault'
              ELSE 'engagement' END AS category
  FROM events
)
SELECT e.event_id, e.event_type, d.category
FROM events e JOIN dim d ON e.event_type = d.event_type
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (the classic streaming lookup — the static side is re-read
    per micro-batch and broadcast; no state store involved)."""
    ev = events_stream(spark, sf_dir)
    static_dim = (
        register_views(spark, sf_dir)["events"]
        .select("event_type")
        .distinct()
        .withColumn(
            "category",
            F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
            .when(F.col("event_type") == "error", "fault")
            .otherwise("engagement"),
        )
        .withColumnRenamed("event_type", "dim_event_type")
    )
    joined = ev.join(
        F.broadcast(static_dim),
        F.col("event_type") == F.col("dim_event_type"),
    ).select("event_id", "event_type", "category")
    return run_to_memory(joined, "append", spark)


@op(
    "stream_stream_join",
    oracle="""
SELECT b.user_id, b.event_id AS buy_id, e.event_id AS err_id,
       CAST(floor(epoch(e.ts)) - floor(epoch(b.ts)) AS BIGINT) AS gap_s
FROM events b JOIN events e
  ON b.user_id = e.user_id
 AND b.event_type = 'purchase' AND e.event_type = 'error'
 AND epoch_us(e.ts) - epoch_us(b.ts) BETWEEN -300000000 AND 300000000
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases ⋈ errors per user within ±5
    minutes of event time — "which conversions raced a fault".  Both sides
    carry a 1-hour watermark and the join predicate carries the time-range
    bound, so the state store evicts rows older than watermark−5min
    instead of buffering both streams forever (THE correctness condition
    for stream-stream joins at scale).  Batch twin: the same time-bounded
    self-join, microsecond-exact (`epoch_us` ≡ Spark's µs event time)."""
    buys = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "1 hour")
    )
    errs = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = buys.join(
        errs,
        (F.col("b_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("b_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("e_ts") <= F.col("b_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select(
        F.col("b_user").alias("user_id"),
        "buy_id",
        "err_id",
        (F.unix_timestamp("e_ts") - F.unix_timestamp("b_ts"))
        .cast("bigint")
        .alias("gap_s"),
    )
    return run_to_memory(joined, "append", spark)


def _rate_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful counter→rate: state carries (last_tse, last_value) across
    micro-batches per series — the reference Aggregator's 'last-processed
    position' † living in the state store.

    Requires an in-order source (same contract as ``_zscore_fn``): a
    batch older than the carried position would silently rate rows
    against the wrong predecessor AND move the position backwards, so a
    regression raises instead."""
    (path,) = key
    if state.exists:
        last_tse, last_value = state.get
    else:
        last_tse, last_value = None, None
    for pdf in pdfs:
        pdf = pdf.sort_values(["tse", "event_id"])
        if len(pdf) and last_tse is not None and int(pdf["tse"].iloc[0]) < last_tse:
            raise ValueError(
                f"stream_stateful_rate: out-of-order micro-batch for series "
                f"{path!r}: batch starts at tse={int(pdf['tse'].iloc[0])}, "
                f"state already advanced past tse={last_tse}"
            )
        # Vectorized: each row rates against its predecessor via shift();
        # the state row splices in as the predecessor of row 0.  dt == 0
        # (same-timestamp consecutive samples) masks out, matching the
        # oracle's nullif(dt, 0).
        prev_tse = pdf["tse"].astype("float64").shift()
        prev_val = pdf["value"].astype("float64").shift()
        if last_tse is not None and len(pdf):
            prev_tse.iloc[0] = float(last_tse)
            prev_val.iloc[0] = float(last_value)
        dt = pdf["tse"] - prev_tse
        keep = dt > 0
        if len(pdf):
            last_tse = int(pdf["tse"].iloc[-1])
            last_value = float(pdf["value"].iloc[-1])
        if keep.any():
            yield pd.DataFrame(
                {
                    "path": path,
                    "tse": pdf.loc[keep, "tse"].astype("int64"),
                    "rate": ((pdf["value"] - prev_val) / dt)[keep].round(6),
                }
            )
    state.update((last_tse, last_value))


@op(
    "stream_stateful_rate",
    oracle=f"""
WITH {OBS_CTE},
d AS (
  SELECT path, tse,
         round((value - lag(value) OVER w) /
               nullif(tse - lag(tse) OVER w, 0), 6) AS rate
  FROM obs
  WINDOW w AS (PARTITION BY path ORDER BY tse, event_id)
)
SELECT path, tse, rate FROM d WHERE rate IS NOT NULL
""",
)
def stream_stateful_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-series gauge→rate with the previous sample carried in the state
    store.  The batch oracle is the lag-window formulation — equal output
    proves the stateful path computes the Aggregator semantics."""
    ev = events_stream(spark, sf_dir)
    obs = ev.select(
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        F.unix_timestamp("ts").alias("tse"),
        "value",
        "event_id",
    )
    result = obs.groupBy("path").applyInPandasWithState(
        _rate_fn,
        outputStructType="path string, tse bigint, rate double",
        stateStructType="last_tse bigint, last_value double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(result, "append", spark)
    # Same-timestamp consecutive samples produce no row on either side:
    # here via the dt > 0 mask, in the oracle via nullif(dt, 0) -> NULL
    # rate -> NOT NULL filter (explicit, not dependent on the engine's
    # division-by-zero default).
    return out


def stream_tws_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as `stream_stateful_rate` on the Spark 4
    ``transformWithStateInPandas`` API: a ``StatefulProcessor`` with typed
    ValueState instead of the legacy GroupState tuple — the engine's
    custom-stateful-operator path going forward (state schema evolution,
    timers, multiple state variables).

    NOT registered as a driver op: the TWS runtime needs ``google.protobuf``
    (absent from this container, installs disallowed) — gated via
    ``streaming.stateful.tws_available()`` and covered by a skip-marked
    test; `stream_stateful_rate` (applyInPandasWithState) is the working
    stateful path here.
    """
    from esxsnmp_tsdb_spark.streaming.stateful import RateProcessor, tws_available

    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires google.protobuf, which is "
            "not available in this environment"
        )

    ev = events_stream(spark, sf_dir)
    obs = ev.select(
        F.concat_ws("/", "user_id", "event_type").alias("path"),
        F.unix_timestamp("ts").alias("tse"),
        "value",
        "event_id",
    )
    result = obs.groupBy("path").transformWithStateInPandas(
        RateProcessor(),
        outputStructType="path string, tse bigint, rate double",
        outputMode="append",
        timeMode="none",
    )
    return run_to_memory(result, "append", spark)


@op(
    "stream_ladder_maintenance",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % 3600 AS slot,
       round(avg(value), 6) AS average,
       min(value) AS vmin, max(value) AS vmax, count(*) AS n
FROM obs GROUP BY path, tse - tse % 3600
""",
)
def stream_ladder_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time aggregate-ladder maintenance as a REGISTERED op: the
    ``foreachBatch`` upsert pipeline (streaming/maintenance.py) runs the
    event stream through per-micro-batch partial aggregation, merges the
    partials into a day-partitioned parquet level (dynamic partition
    overwrite — only touched days rewritten), and the stored level is
    read back consolidated.

    The batch-twin oracle is the plain per-slot aggregate over all events
    — equality proves the incremental path converges to the batch answer
    (partials are algebraic, so micro-batch boundaries can't change the
    result).  At 100 TB this is the property that lets the 1h ladder stay
    current without ever re-reading historical raws."""
    from esxsnmp_tsdb_spark.operators._workdirs import op_dir
    from esxsnmp_tsdb_spark.streaming.maintenance import (
        maintain_levels,
        read_level,
    )

    out = op_dir("ladder_op")
    maintain_levels(
        obs_from_events(events_stream(spark, sf_dir)), out, levels=(3600,)
    )
    lvl = read_level(spark, out, 3600)
    return lvl.select(
        "path",
        "slot",
        F.round("average", 6).alias("average"),
        "vmin",
        "vmax",
        "n",
    )


@op(
    "stream_first_touch",
    oracle="""
WITH ev AS (
  SELECT event_type, user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
firsts AS (
  SELECT event_type, user_id, min(day) AS first_day
  FROM ev GROUP BY event_type, user_id
)
SELECT event_type, first_day AS day, count(*) AS n_new
FROM firsts GROUP BY event_type, first_day
""",
)
def stream_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `cumulative_distinct_users`'s first-touch stage:
    per-(type, user) first-seen day maintained as STREAMING STATE (a
    stateful min aggregate — order-free, so micro-batch arrival order
    can't corrupt it, unlike a dropDuplicates formulation), then the
    per-day new-user roll-up finishes batch-side on the sink table
    (Structured Streaming allows one stateful aggregation per query).

    The batch oracle computes the same min + count directly — equality
    proves the streaming state converges to the batch answer regardless
    of how the replay was micro-batched."""
    ev = events_stream(spark, sf_dir).select(
        "event_type",
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    )
    firsts = ev.groupBy("event_type", "user_id").agg(F.min("day").alias("first_day"))
    out = run_to_memory(firsts, "complete", spark)
    return out.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
