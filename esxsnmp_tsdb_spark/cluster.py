"""The documented 100 TB cluster posture — copyable, not archaeological.

`session.get_session` builds the local[32] projection of this profile for
tests and bench runs; THIS module is the deployment answer: what the same
engine sets on a real cluster (the sizing example used throughout is
1000 executors × 8 cores = 8000 cores over ~100 TB of observation
parquet), and why each value is the one the `docs/PLANS.md` plan
invariants need.  Nothing here is load-bearing for correctness — every
operator is declarative DataFrame code and Catalyst re-plans under any of
these knobs; they bound shuffle volume, task counts and skew at scale.

Three layers:

- :func:`cluster_profile` — the conf dict, parameterized by cluster shape.
- :func:`apply` — set the runtime-settable subset on a live session
  (cluster managers own the rest via spark-defaults/submit args).
- :data:`OBS_TABLE_DDL` / :data:`LADDER_STORE_LAYOUT` — the storage-side
  half of the contract: the bucketed observation table and the
  aggregate-ladder store layout that make the §2.1/§2.2 window family
  zero-exchange (locally: `storage2.bucketed_obs_table`, which
  `sources.load_obs` serves to the registered ops when routing is on)
  and ingest probes partition-pruned (`dedup2`/`similarity2` indexed ops).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from esxsnmp_tsdb_spark.session import tune


def cluster_profile(
    total_cores: int = 8000,
    executor_mem_gb: int = 32,
) -> dict[str, str]:
    """Spark confs for the 100 TB deployment, each tied to the plan
    invariant (docs/PLANS.md, tests/test_plan_audit.py) it protects.

    ``total_cores``: executors × cores-per-executor (sizing example 8000).
    ``executor_mem_gb``: per-executor heap, used to bound in-flight
    partition bytes so a shuffle read never outgrows its task's share.
    """
    # Invariant "one shuffle, partial aggregation first": the §2.2 family
    # shuffles aggregate cardinality (#series × #slots), never raw rows.
    # 2.5× cores gives AQE room to coalesce DOWN to actual post-partial
    # volume while keeping every core fed on the widest stages; too low
    # and the big TPC-H/groupBy shuffles spill, too high and tiny tasks
    # dominate scheduler overhead.
    shuffle_partitions = int(total_cores * 2.5)

    # Shuffle-read target AQE coalesces toward.  128 MB ≈ one task's
    # comfortable working set at 4 tasks/core share of executor memory;
    # with partial aggregation upstream this is aggregate rows, so the
    # coalesced partition count self-scales with data, not with the
    # static shuffle_partitions ceiling.
    advisory_bytes = "128m"

    # A skewed series/key (one hot interface path, one giant orders key)
    # must split, not straggle: flag a partition at 5× median AND >256 MB,
    # both defaults tightened — the plan audit bans global windows, so
    # skew can only arrive through joins/groupBys, where AQE splitting is
    # semantics-free.
    skew_factor = "5"
    skew_threshold = "256m"

    # Invariant "dimension joins broadcast" (tpch_q3/q5 shapes): at 100 TB
    # the filtered dimension sides (customer after segment filter, the
    # date-filtered orders slice, minhash band tables) run tens of MB.
    # 64 MB keeps them broadcast instead of shuffling the fact table;
    # executors at 32 GB hold this ~0.2% overhead comfortably.  AQE can
    # still demote a misestimated broadcast at runtime.
    broadcast_threshold = "64m"

    return {
        # --- identity / correctness (same as local RUNTIME_CONF) ---
        "spark.sql.session.timeZone": "UTC",  # epoch-UTC uint32 contract
        "spark.sql.execution.arrow.pyspark.enabled": "true",  # all Py hops Arrow
        # --- adaptive execution: the runtime half of every plan claim ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory_bytes,
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": skew_factor,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": skew_threshold,
        # Convert shuffles feeding a broadcast join into local reads —
        # pairs with the demotion path of the broadcast threshold below.
        "spark.sql.adaptive.localShuffleReader.enabled": "true",
        # --- shuffle sizing ---
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.autoBroadcastJoinThreshold": broadcast_threshold,
        # --- scan sizing: 100 TB / 256 MB ≈ 400k input tasks, the sweet
        # spot between footer-read overhead and per-task memory; the
        # local profile shrinks this to 4 MB only because fixtures are
        # single ≤11 MB files (session.RUNTIME_CONF rationale). ---
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.files.openCostInBytes": "4m",
        # Footer-only min/max/count answers for the availability and
        # freshness report family — no row groups read.
        "spark.sql.parquet.aggregatePushdown": "true",
        # --- Arrow batch shape for the mapInPandas operators (vector
        # math, multimodal decode): bound peak Python memory per batch;
        # 10k rows × ~KB rows ≈ 10 MB batches, far under executor share.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }


def apply(spark: SparkSession, **profile_kwargs) -> list[str]:
    """Set the runtime-settable subset of :func:`cluster_profile` on a
    live session.  Static confs (files.*, some adaptive.*) must go in
    spark-defaults / submit args; those raise ``CANNOT_MODIFY_CONFIG``
    and are skipped — none are correctness-critical — but the skips are
    RETURNED (and logged) so a typoed or static key is visible to the
    caller instead of silently not taking effect.

    The session is ``session.tune``-d first, so the profile lands on top
    of the local posture: on a session the engine did not build, the
    first catalog load finds it tuned and keeps the profile's values."""
    tune(spark)
    skipped: list[str] = []
    for k, v in cluster_profile(**profile_kwargs).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            skipped.append(k)
    if skipped:
        print(f"cluster.apply: {len(skipped)} static/unknown confs skipped: {skipped}")
    return skipped


# The storage-side half of the 100 TB contract.  The observation table is
# bucketed by series and sorted by (series, time) so the whole §2.1/§2.2
# window family — counter deltas, wrap correction, downsampling, the
# composed RRD ladder — plans with ZERO exchanges: every window
# partitionBy(path).orderBy(tse) and every groupBy(path, …) consumes the
# bucket layout directly.  At local scale `sources.load_obs` routes the
# registered ops onto `storage2.bucketed_obs_table`, and bench.py's
# bucketed_vs_flat block records their exchange counts (an explicit
# `fan_out`, as in `ts_bin_split`, keeps its own exchange).  Day
# partitioning gives the time-range scans (ts_range_scan shape) partition
# pruning before row-group skipping.
def obs_table_ddl(n_buckets: int = 4096, name: str = "obs") -> str:
    """The observation-table DDL, parameterized so tests can EXECUTE it
    (8 buckets at fixture scale) while the documented deployment value
    stays 4096.  tests/test_cluster_profile.py runs this DDL, inserts a
    day of fixture obs through the documented writer path, and asserts
    the zero-exchange window plan on the result — the contract is
    executable, not prose."""
    return f"""
CREATE TABLE {name} (
    path    STRING,     -- series identity (device/interface/oidset)
    tse     BIGINT,     -- epoch-UTC seconds (uint32 contract)
    value   DOUBLE,
    flags   INT,        -- ROW_VALID / ROW_HIDDEN bit mask
    day     DATE        -- derived: date(from_unixtime(tse))
)
USING PARQUET
PARTITIONED BY (day)
CLUSTERED BY (path) SORTED BY (path, tse) INTO {n_buckets} BUCKETS
""".strip()


OBS_TABLE_DDL = obs_table_ddl()

# Writer-side equivalent (sources/compaction.py does this at 8 buckets
# locally):
#   df.repartition("day", "path").write.format("parquet")
#     .partitionBy("day").bucketBy(4096, "path").sortBy("path", "tse")
#     .saveAsTable("obs")
# 4096 buckets ≈ 100 TB / (4096 × ~250 days) ≈ 100 MB bucket files —
# one task per (day, bucket) at scan time, and a path's full history is
# bucket-addressable for point lookups and the indexed dedup/ANN probes.

LADDER_STORE_LAYOUT = {
    # Stored consolidation levels (the RRD ladder, rrd_pipeline.py):
    # each level is its own day-partitioned, path-bucketed table, written
    # by the incremental persister (streaming_ops.stream_ladder_maintenance)
    # via dynamic partition overwrite of ONLY the touched days.
    "levels": ["30s(raw)", "5m", "1h", "1d"],
    "table_per_level": "obs_agg_{level}",
    "partitioning": "PARTITIONED BY (day)",
    "bucketing": "CLUSTERED BY (path) SORTED BY (path, slot) INTO 4096 BUCKETS",
    "write_mode": "dynamic partition overwrite (spark.sql.sources.partitionOverwriteMode=dynamic)",
    # Cascade invariant (ts_agg_cascade): each level is computed from the
    # next-finer level, never from raw — at 100 TB the 1d rebuild reads
    # the 1h table (~4 orders of magnitude smaller than raw).
    "cascade": "level[i] computed from level[i-1]; raw read only by 5m",
}
