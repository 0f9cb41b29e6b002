"""Table catalog: fixture parquet → DataFrames + temp views.

The reference's catalog is a directory tree walked by ``TSDBBase.list_sets /
list_vars`` (SURVEY.md §2.1 `ts_series_catalog`, † anchor); here the catalog
is simply the set of parquet tables plus Spark temp views, so every operator
can be written either with the DataFrame API or as ``spark.sql`` text over
registered view names.

Scale posture: each fixture table is one parquet file locally (a
Spark-written directory table is read and stamped the same way); the 100 TB
layout for the observation table is ``partitionBy(date(slot))`` + bucket by
``hash(path)`` (SURVEY.md §4).  ``register_views`` is idempotent and cheap —
it re-registers when ``sf_dir`` changes or a table is rewritten, so
queries() callables can be invoked against any scale factor.
Whatever is derived from a fixture and kept for reuse lives in one
per-session memo stamped with the fixture's files (``fixture_memo``), so
nothing outlives a rewrite and no session conf is written.
"""

from __future__ import annotations

import json
import os
import stat
import weakref

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from esxsnmp_tsdb_spark.session import TUNED, tune

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Footer key under which Spark stores a written table's Spark schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# Opt-in bucketed-obs routing.  Default OFF: the
# driver's vanilla session must see the flat-parquet path (its oracle
# runs DuckDB over the same events.parquet, and its session has no
# bkt_obs table).  When "true" AND a bkt_obs table built from THIS
# sf_dir exists, ``load_obs`` serves the §2.1/§2.2 family from the
# bucketed+sorted layout instead — the bench-proven 2-9x / zero-exchange
# path (BENCH bucketed_vs_flat, three consecutive rounds).
ROUTE_BUCKETED_CONF = "spark.esxsnmp_tsdb.routeBucketedObs"

# Canonical obs column order (functions/tsdb.py · obs_from_events): the
# routed table is re-projected to it so routing can never reorder the
# schema under an operator.
OBS_COLUMNS = ("path", "tse", "value", "flags", "event_id")


def flat_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observation table derived from the events fixture (registering
    the fixture temp views on the way).  Operators outside the routed
    §2.1/§2.2 family read obs only through here; so does
    ``storage2.bucketed_obs_table``, which must never read the bucketed
    table it is about to drop and rewrite."""
    from esxsnmp_tsdb_spark.functions import tsdb

    return tsdb.obs_from_events(register_views(spark, sf_dir)["events"])


def load_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observation table for the routed §2.1/§2.2 operator family
    (``timeseries``, ``aggregator``, ``aggregator2``, ``analytics``).

    Flat path (default): ``flat_obs`` — what the driver's vanilla
    session and its DuckDB oracle read.

    Routed path (``ROUTE_BUCKETED_CONF`` = "true", opt-in): serve
    ``bkt_obs`` — the SURVEY §4 bucketBy(hash(path)).sortBy(path, tse)
    layout materialized by ``storage2.bucketed_obs_table`` — so
    per-series window/consolidation plans consume the bucket layout with
    ZERO exchanges.  Routing refuses silently-wrong reads: the session's
    ``bkt_obs`` entry (``record_bkt_obs``; only read here) must name this
    ``sf_dir`` and its current ``events`` stamp, and the table must still
    exist (an external DROP falls back to flat).  Value parity
    flat-vs-routed is pinned for every routed op in
    tests/test_bucketed_routing.py."""
    tune_on_first_use(spark)
    if (
        (spark.conf.get(ROUTE_BUCKETED_CONF, "false") or "").lower() == "true"
        and _named_memo(spark, "bkt_obs", sf_dir, ("events",), None) is not None
        and spark.catalog.tableExists("bkt_obs")
    ):
        return spark.table("bkt_obs").select(*OBS_COLUMNS)
    return flat_obs(spark, sf_dir)


def record_bkt_obs(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """``build()`` the ``bkt_obs`` table from ``sf_dir``'s events and
    record it as the session's one ``bkt_obs`` entry, so ``load_obs``
    routes onto it for this fixture, as it is now, only."""
    return _named_memo(spark, "bkt_obs", sf_dir, ("events",), build, refresh=True)


# Per-session memo: (session -> {key: (stamp, value)}).  It holds lazy
# plans and small driver-side results (fixture DataFrames, the embedding
# width, the converged CC labels, the directories of persisted indexes),
# never table data of its own.  Everything derived from a fixture goes
# through ``fixture_memo`` (or ``_named_memo``), which own the key and
# stamp convention.  Weak session keys scope entries to the owning
# session, so a new/driver session never sees another session's values.
# The entry under ``session.TUNED`` marks a tuned session.
_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def session_memo(spark: SparkSession, key, stamp, compute, refresh: bool = False):
    """``compute()``, memoized per (session, key) and guarded by
    ``stamp``: a hit is served only when its stamp equals ``stamp``.
    ``refresh=True`` always computes and overwrites the entry;
    ``compute=None`` only looks: a miss returns None and records
    nothing."""
    try:
        if spark not in _MEMO and _MEMO:
            # Memoized DataFrames hold strong refs back to their session,
            # so weak keys alone never expire (value -> session -> key
            # cycle rooted at this module-level dict).  A NEW session
            # clears the prior sessions' entries instead, bounding the
            # memo to the active session (sessions are used one at a
            # time here; interleaved use would only recompute, never
            # misserve — a returning session is tuned once more).
            _MEMO.clear()
        entries = _MEMO.setdefault(spark, {})
    except TypeError:  # un-weakref-able session shim: skip memoization
        entries = {}
    hit = entries.get(key)
    if not refresh and hit is not None and hit[0] == stamp:
        return hit[1]
    if compute is None:
        return None
    value = compute()
    entries[key] = (stamp, value)
    return value


def _stamp(sf_dir: str, tables) -> tuple:
    """The ``_table_stamp`` of every table in ``tables``, concatenated."""
    return sum((_table_stamp(sf_dir, t) for t in tables), ())


def fixture_memo(
    spark: SparkSession, name: str, sf_dir: str, tables, compute, refresh: bool = False
):
    """``compute()`` for a result derived from ``sf_dir``'s fixture
    ``tables``, memoized per session under ``(name, abspath(sf_dir))``
    and stamped with the ``_table_stamp`` of every table it reads.  The
    stamp is taken BEFORE the compute, so a fixture rewritten
    mid-compute is refused on the next lookup, never stamped onto a
    result of the old bytes.  A result with files of its own (an index)
    rebuilds them on a stamp miss."""
    key = (name, os.path.abspath(sf_dir))
    return session_memo(spark, key, _stamp(sf_dir, tables), compute, refresh)


def _named_memo(
    spark: SparkSession, name: str, sf_dir: str, tables, compute, refresh: bool = False
):
    """``fixture_memo`` for a session-global name — the fixture temp
    views, the ``bkt_obs`` table — which points at one fixture at a
    time: ONE entry keyed by the name alone, whose stamp leads with
    ``abspath(sf_dir)``, so building the name for another fixture
    replaces it."""
    stamp = (os.path.abspath(sf_dir),) + _stamp(sf_dir, tables)
    return session_memo(spark, (name,), stamp, compute, refresh)


def tune_on_first_use(spark: SparkSession) -> None:
    """``session.tune`` a session at its first load — the driver's own
    session reaches the engine untuned — and skip the call for a tuned
    one, whose confs stay as its caller set them."""
    session_memo(spark, TUNED, None, lambda: tune(spark))


def _table_stamp(sf_dir: str, name: str) -> tuple[int, int, int]:
    """``(total bytes, newest mtime_ns, file count)`` of ``<name>.parquet``.

    A single-file table is stamped from the one ``stat`` (count 1).  A
    directory table (as Spark writes one) is stamped over its part files
    — everything Spark would read, i.e. not ``_``/``.``-prefixed — so
    rewriting any part file in place changes the stamp even when the
    directory entry itself keeps its mtime."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns, 1)
    size = newest = count = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            fst = os.stat(os.path.join(root, f))
            size += fst.st_size
            newest = max(newest, fst.st_mtime_ns)
            count += 1
    return (size, newest, count)


def fixture_schema(sf_dir: str, name: str) -> tuple[T.StructType, tuple[str, ...]]:
    """``<name>.parquet``'s Spark read schema, taken from its parquet
    footer on the driver (no schema-inference job), and the columns it
    stores as TIMESTAMP(NANOS).  Types map as Spark's inference maps
    them: MICROS not adjusted to UTC (the fixtures) is TIMESTAMP_NTZ,
    NANOS is a nano-long (``nanosAsLong``) for ``with_timestamps`` to
    rebuild, and a Spark-written footer's own Spark schema wins (it
    alone says INT96 means TIMESTAMP)."""
    arrow = ds.dataset(f"{sf_dir}/{name}.parquet", format="parquet").schema
    written_by_spark = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if written_by_spark is not None:
        return T.StructType.fromJson(json.loads(written_by_spark)), ()
    nanos = tuple(
        f.name
        for f in arrow
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    arrow = pa.schema(
        [f.with_type(pa.int64()) if f.name in nanos else f for f in arrow]
    )
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True), nanos


def with_timestamps(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    """Rebuild the nano-long columns ``fixture_schema`` reported as
    (microsecond) timestamps; every other column is left as read."""
    for col in nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<name>.parquet`` as a DataFrame, read with its footer schema and
    NANOS columns rebuilt as timestamps.  The constructed plan is
    memoized per session and fixture stamp: building a DataFrame is a
    py4j round trip, and ``register_views`` makes ten such calls per
    query.  Only plans are memoized; every execution still scans the
    parquet bytes."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    tune_on_first_use(spark)

    def read() -> DataFrame:
        schema, nanos = fixture_schema(sf_dir, name)
        df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
        return with_timestamps(df, nanos)

    return fixture_memo(spark, f"table:{name}", sf_dir, (name,), read)


def load_range(
    spark: SparkSession, sf_dir: str, name: str, col: str, begin: int, end: int
) -> DataFrame:
    """``<name>`` restricted to ``begin <= floor-epoch(col) < end``, with
    the bounds compared to the column as stored, *before* the timestamp
    rebuild.

    Filtering a rebuilt column wraps it in ``timestamp_micros(col div
    1000)`` — an expression the parquet reader cannot push, so every row
    group is read.  In the stored domain the bounds are literals: a
    NANOS long against ``b·10⁹``, a timestamp against the foldable
    ``timestamp_seconds(b)``; for integral bounds both are exact.  The
    scan then shows ``PushedFilters: [GreaterThanOrEqual(col,…),
    LessThan(col,…)]`` — min/max row-group skipping, the 100 TB analog of
    the reference's YYYYMMDD chunk mapper working *within* a day file."""
    tune_on_first_use(spark)
    schema, nanos = fixture_schema(sf_dir, name)
    if col in nanos:
        lo, hi = begin * 1_000_000_000, end * 1_000_000_000
    else:
        lo, hi = (
            F.timestamp_seconds(F.lit(t)).cast(schema[col].dataType)
            for t in (begin, end)
        )
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    return with_timestamps(df.filter((F.col(col) >= lo) & (F.col(col) < hi)), nanos)


def load_events_range(
    spark: SparkSession, sf_dir: str, begin: int, end: int
) -> DataFrame:
    """`events` restricted to ``begin <= floor-epoch(ts) < end``
    (``load_range`` on ``ts``)."""
    return load_range(spark, sf_dir, "events", "ts", begin, end)


def obs_range(spark: SparkSession, sf_dir: str, begin: int, end: int) -> DataFrame:
    """The observation table restricted to ``begin <= tse < end``, with
    the range pushed to the events scan (``load_events_range``)."""
    from esxsnmp_tsdb_spark.functions import tsdb

    return tsdb.obs_from_events(load_events_range(spark, sf_dir, begin, end))


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view.

    Returns the name → DataFrame mapping.  Registration is skipped while
    the session's views already hold ``sf_dir``'s tables as they are
    now; another ``sf_dir``, or any table rewritten since (a part file
    added to a directory table included), registers them again.
    """

    def register() -> dict[str, DataFrame]:
        dfs = {name: load_table(spark, sf_dir, name) for name in TABLES}
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        return dfs

    return dict(_named_memo(spark, "views", sf_dir, TABLES, register))
