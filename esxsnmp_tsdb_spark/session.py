"""SparkSession factory + runtime tuning.

Entry points:

- :func:`get_session` — build a tuned local session (tests, bench).
- :func:`tune` — apply the runtime-settable subset of the tuning to a
  session we did NOT create (the driver passes its own ``spark`` into
  ``__spark_entry__.queries()`` callables; we cannot rebuild it, but
  shuffle partitions / AQE / timezone / Arrow are all runtime-settable).
  Once per session; later calls are no-ops, so a conf the caller sets
  after it stays set.
- :func:`local_frame` — the package's one way to turn driver-side rows
  into a DataFrame (an Arrow local relation).

Scale notes (100 TB design, SURVEY.md §4): these configs are the local[*]
projection of the cluster posture — AQE for runtime re-planning (skew joins,
partition coalescing, broadcast demotion), shuffle partitions sized to
cores locally (on a 1000-executor cluster this is set to ~2-3x total cores
and AQE coalesces down), UTC everywhere (the reference is epoch-UTC uint32,
SURVEY.md §1.1), Arrow for every Python<->JVM hop.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Runtime-settable confs applied once to every session the engine touches.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS), which vanilla Spark rejects, reads as a
    # nano-precision long; the catalog finds such columns in the footer
    # and rebuilds them as timestamps (sources/catalog.py ·
    # fixture_schema).  The fixtures here store MICROS, which needs none
    # of this; NANOS copies are tested too.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture files are single small parquet files; at cluster scale the
    # sources layer partitions by date(slot) + bucket by hash(path).
    "spark.sql.parquet.aggregatePushdown": "true",
    # Local projection of cluster split sizing: fixture files are ≤11 MB,
    # so the default 128 MB split yields ONE scan task and every CPU-bound
    # expression (md5 shingles, vector folds) runs single-threaded.  On a
    # real cluster the data arrives in many splits and this stays default.
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "1m",
}


# The ``session_memo`` key that marks a session as tuned.
TUNED = ("tuned",)


def tune(spark: SparkSession) -> SparkSession:
    """Apply ``RUNTIME_CONF`` to ``spark``, once per session; later calls
    are no-ops.  The first call records the session in
    ``sources.catalog.session_memo``, so a conf set after it — by a
    caller, a test or ``cluster.apply`` — is never undone by a later
    load.  That memo holds one session at a time: a session used again
    after another one was touched is tuned once more."""
    from esxsnmp_tsdb_spark.sources.catalog import session_memo

    def apply() -> SparkSession:
        for k, v in RUNTIME_CONF.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                # Non-settable at runtime on this build — keep going; none
                # of these are correctness-critical except the timezone,
                # which is always runtime-settable.
                pass
        return spark

    return session_memo(spark, TUNED, None, apply)


def fan_out(df, *cols, width: int = 1):
    """Spread a narrow input across the session's parallelism before a
    CPU-bound, row-multiplying stage (hash explosion, vector folds, Pandas
    UDFs).  Locally a small file scans as ~1 task and AQE coalesces small
    shuffles *before* the multiplication it cannot foresee; an explicit
    repartition (which AQE respects) restores parallelism.  On a cluster
    the same call is a cheap balanced redistribution of a small
    intermediate — never the big fact table.

    With ``cols``, fan out BY KEY instead of round-robin: the exchange is
    still AQE-coalesce-exempt (REPARTITION_BY_NUM origin) but its
    HashPartitioning(cols) survives downstream, so a later window or
    groupBy whose keys start with ``cols`` needs NO further exchange —
    the multiplied rows are aggregated in-stage and never reshuffled.
    Place the keyed call BELOW any window on the same key: an exchange
    the planner inserts for the window would sit under this one and get
    this call pruned as redundant, re-exposing the plan to AQE coalesce.
    Round-robin balances better under key skew; keyed avoids shuffling
    the post-multiplication volume.  Pick per call site.

    ``width`` multiplies the partition count for EXPLODE-heavy consumers:
    the exchange carries raw rows, but each task's in-stage volume is the
    post-explode multiple (~50× for the hourly bin-split), so sizing
    tasks by the input underfills nothing and overfills the downstream
    hash aggregate.  width≈4 keeps post-explode task working sets near
    what shuffle.partitions was tuned for while staying coarse enough
    that scheduler overhead stays negligible (measured on ts_bin_split:
    1× 0.57→0.39 s, 10× 2.73→2.42 s vs width=1).
    """
    n = width * int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) if isinstance(c, str) else c for c in cols])


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order),
    shipped to the JVM as one typed Arrow table.

    A Python list given to ``spark.createDataFrame`` is parallelized into
    ``defaultParallelism`` slices behind a Python re-serialize step, so
    every action over it starts one Python worker per slice — a fixed
    cost that dominates small literals and single-batch writes.  An Arrow
    table below ``spark.sql.execution.arrow.localRelationThreshold``
    plans as a ``LocalTableScan`` instead: one partition, no Python
    worker, and collecting an empty one runs no job.

    The table is built column by column from the Python values, not via
    pandas, so NaN stays NaN (pandas' Arrow route reads it as NULL) and
    ``None`` is NULL.  A value its column type cannot hold (an int out of
    ``int`` range, a string in a numeric column) raises here, on the
    driver, before any job runs.  A naive ``datetime`` is read as UTC
    (the list path read it in the host's zone)."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def cluster_profile(**kwargs):
    """The 100 TB deployment conf — see :mod:`esxsnmp_tsdb_spark.cluster`
    for the per-value justification, the bucketed obs-table DDL and the
    ladder-store layout.  RUNTIME_CONF above is the local[32] projection
    of the same posture."""
    from esxsnmp_tsdb_spark.cluster import cluster_profile as _profile

    return _profile(**kwargs)


def _default_driver_mem() -> str:
    """Default driver heap: 28g on big hosts, clamped to ~25% of physical
    RAM on smaller ones, so the default heap never outgrows physical
    memory (a fixed 28g on a small host risks a host-level OOM).
    Env-overridable via SPARK_GRAFT_DRIVER_MEM either way."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        quarter_g = max(1, int(phys / 4 / (1 << 30)))
        return f"{min(28, quarter_g)}g"
    except (ValueError, OSError, AttributeError):
        return "28g"


def get_session(app_name: str = "esxsnmp_tsdb_spark") -> SparkSession:
    """Build (or fetch) a tuned local session for tests and bench runs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # 28g (was 16g; still env-overridable): a long bench/sweep session
        # accumulates localCheckpoint blocks across hundreds of ops, and
        # the heap must hold them without stop-the-world full GCs landing
        # mid-measurement — at 16g, after 160 sweep ops, the two largest
        # ops read bimodal 4.5↔10.9 s, steady 4.0-5.8 s at 28g (on a
        # 128 GiB host).  On a cluster, sizing comes from
        # cluster_profile(), not this local default.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # Make explicit System.gc() (bench hygiene between queries, and the
        # ContextCleaner's periodic GC) run as a CONCURRENT cycle instead of
        # a stop-the-world full GC — cleaner weak-refs still get processed,
        # but a cleanup that lands inside a timed region no longer stalls it.
        .config(
            "spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent"
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
