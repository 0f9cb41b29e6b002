"""§2.3 ingest / API layer — the ESxSNMP shell around the TSDB:
``esxsnmp/persist.py · TSDBPollPersister`` † (batch append) and
``esxsnmp/api.py`` † (REST time-range query), re-expressed as a
partitioned parquet write and a parameterized SQL template.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions import tsdb
from esxsnmp_tsdb_spark.operators._workdirs import op_dir
from esxsnmp_tsdb_spark.operators._shared import (
    BUCKET,
    OBS_CTE,
    STEP,
    T_JAN10,
    T_JAN15_NOON,
    T_JAN20,
)
from esxsnmp_tsdb_spark.registry import op
from esxsnmp_tsdb_spark.sources import flat_obs, obs_range


@op(
    "ingest_batch_append",
    oracle=f"""
WITH {OBS_CTE}
SELECT strftime(make_timestamp(tse * 1000000), '%Y-%m-%d') AS day,
       count(*) AS n_rows
FROM obs GROUP BY 1 ORDER BY 1
""",
)
def ingest_batch_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poller persistence (``TSDBPollPersister`` †): append a batch of
    (path, ts, value) rows to the bronze observation store, partitioned by
    UTC day — the 1:1 analog of the reference's one-chunk-file-per-day
    layout, and the layout every §2.1 range scan prunes against.

    Returns the READ-BACK per-day counts, so the oracle comparison
    observes the durable result of the write, not the plan: the DuckDB
    twin derives the same counts straight from the source events, and
    any row the write path dropped, duplicated or mis-partitioned shows
    up as a count mismatch.  (Long rows-only "by contract (write op)" —
    but the working dir is cleared per call, so the read-back summary is
    deterministic and there is no reason to leave the write path
    unhashed; ``make_timestamp`` keeps the oracle's day TZ-independent.)
    At 100 TB: same write, plus ``sortWithinPartitions(path, ts)`` for
    row-group skipping and a small-file compaction pass (see
    ``sources.compaction``).
    """
    obs = flat_obs(spark, sf_dir)
    target = op_dir("append")  # cleared on next call / at process exit
    (
        obs.withColumn("day", F.to_date(F.timestamp_seconds(F.col("tse"))))
        .repartition("day")
        .sortWithinPartitions("path", "tse")
        .write.mode("append")
        .partitionBy("day")
        .parquet(target)
    )
    back = spark.read.parquet(target)
    return (
        back.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("day").cast("string").alias("day"), "n_rows")
        .orderBy("day")
    )


_LWW_SQL = """
  SELECT path, slot, value FROM (
    SELECT path, tse - tse % {step} AS slot, value,
           row_number() OVER (PARTITION BY path, tse - tse % {step}
                              ORDER BY tse DESC, event_id DESC) AS rn
    FROM obs WHERE {pred}
  ) WHERE rn = 1
"""


@op(
    "ts_merge_upsert",
    oracle=f"""
WITH {OBS_CTE},
base AS ({_LWW_SQL.format(step=STEP, pred=f"tse < {T_JAN15_NOON}")}),
upd AS ({_LWW_SQL.format(step=STEP, pred=f"tse >= {T_JAN10} AND tse < {T_JAN20}")})
SELECT coalesce(u.path, b.path) AS path,
       coalesce(u.slot, b.slot) AS slot,
       round(coalesce(u.value, b.value), 6) AS value,
       CASE WHEN u.value IS NOT NULL THEN 'update' ELSE 'base' END AS src
FROM base b FULL JOIN upd u ON b.path = u.path AND b.slot = u.slot
""",
)
def ts_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics for the slot store (``TSDBVar.insert`` positional
    overwrite †, extended to batch reconciliation): an update batch
    overwrites matched (path, slot) rows, unmatched base rows survive,
    brand-new slots insert — WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT, expressed as a full outer join + coalesce (the declarative
    form Catalyst can plan as one co-partitioned shuffle on (path, slot);
    with the bucketed layout of ``sources.compaction`` the shuffle
    disappears entirely, which is how the 100 TB nightly reconciliation
    stays one pass)."""
    base = tsdb.slot_dedup(obs_range(spark, sf_dir, 0, T_JAN15_NOON), STEP)
    upd = tsdb.slot_dedup(obs_range(spark, sf_dir, T_JAN10, T_JAN20), STEP)
    b = base.select("path", "slot", F.col("value").alias("b_value"))
    u = upd.select(
        F.col("path").alias("u_path"),
        F.col("slot").alias("u_slot"),
        F.col("value").alias("u_value"),
    )
    merged = b.join(
        u,
        (F.col("path") == F.col("u_path")) & (F.col("slot") == F.col("u_slot")),
        "full",
    )
    return merged.select(
        F.coalesce("u_path", "path").alias("path"),
        F.coalesce("u_slot", "slot").alias("slot"),
        F.round(F.coalesce("u_value", "b_value"), 6).alias("value"),
        F.when(F.col("u_value").isNotNull(), "update")
        .otherwise("base")
        .alias("src"),
    )


@op(
    "api_timerange_json",
    oracle=f"""
WITH {OBS_CTE},
agg AS (
  SELECT path, tse - tse % {BUCKET} AS slot,
         CAST(floor(avg(value) * 1000000 + 0.5) AS BIGINT) AS avg_micro
  FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN20}
  GROUP BY 1, 2
)
SELECT path, slot,
       concat('[', CAST(slot AS VARCHAR), ',', CAST(avg_micro AS VARCHAR), ']')
         AS json_row
FROM agg
""",
)
def api_timerange_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST time-range query (``esxsnmp/api.py`` †):
    ``GET …?begin&end&agg=3600&cf=average`` → pick the aggregation level ≤
    requested, select the range, emit ``[ts, value]`` JSON rows.

    The value is emitted as integer microunits so the JSON string is
    byte-identical across engines (float formatting differs; SURVEY.md §7).
    Level routing mirrors the reference: the engine selects the stored
    aggregate whose step divides the request (here the 1h ladder level).
    """
    obs = obs_range(spark, sf_dir, T_JAN10, T_JAN20)
    agg = (
        tsdb.range_scan(obs, T_JAN10, T_JAN20)
        .groupBy("path", tsdb.slot_of(F.col("tse"), BUCKET).alias("slot"))
        .agg(
            # floor(x + 0.5), not round(): Spark rounds half-up, DuckDB
            # half-even — an avg on an exact .5 microunit would diverge.
            F.floor(F.avg("value") * 1000000 + 0.5)
            .cast("bigint")
            .alias("avg_micro")
        )
    )
    return agg.select(
        "path",
        "slot",
        F.concat(
            F.lit("["),
            F.col("slot").cast("string"),
            F.lit(","),
            F.col("avg_micro").cast("string"),
            F.lit("]"),
        ).alias("json_row"),
    )


@op(
    "ingest_replay_idempotent",
    oracle=f"""
WITH {OBS_CTE}
SELECT path, tse - tse % {STEP} AS slot, count(*) AS n_raw,
       round(avg(value), 6) AS avg_value
FROM obs WHERE tse >= {T_JAN10} AND tse < {T_JAN15_NOON}
GROUP BY path, tse - tse % {STEP}
""",
)
def ingest_replay_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery made exactly-once: the same poller batch is
    appended TWICE (the reference's re-delivery case — a poller retries
    after an ack timeout), then the read path collapses replays by
    identity (path, tse, event_id) before consolidating.

    The oracle sees the batch ONCE — equality proves the dedup restores
    exactly-once semantics regardless of how many times the writer
    retried.  The identity dedup is a hash aggregate on the natural key
    (partial map-side — replayed copies of a row land in the same
    partition), not a window; at 100 TB it rides the same (path-keyed)
    shuffle the consolidation needs anyway."""
    obs = obs_range(spark, sf_dir, T_JAN10, T_JAN15_NOON)
    # The dir must outlive this function (the returned DataFrame is lazy
    # and reads these files when the caller executes it) — op_dir defers
    # clearing to the next call and removes everything at process exit.
    target = op_dir("replay")
    for _ in range(2):  # the retry: same batch, appended twice
        obs.write.mode("append").parquet(target)
    back = spark.read.parquet(target)
    deduped = back.groupBy("path", "tse", "event_id").agg(
        F.first("value").alias("value")
    )
    return (
        deduped.groupBy("path", tsdb.slot_of(F.col("tse"), STEP).alias("slot"))
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )
