"""SQL entry point for aggregate-ladder routing (SURVEY.md §4 optional
polish).

``sources/ladder.py`` routes at the library level, like the reference's
API did.  This module makes the ladder visible to RAW-SQL users: each
level is materialized to parquet and registered as a view
(``obs_agg_<step>``), and :func:`route_sql` compiles a
``(begin, end, step, cf)`` request into SQL over the COARSEST stored
level that divides the requested step.  The resulting plan scans the
routed ladder table only — never raw obs, never a finer level — which is
the whole point: a 1h-step query over a year touches the 1h table
(~1/120th of the 30s level, ~1/3600th of raw).

At 100 TB each level table is date-partitioned (slot is epoch seconds;
partition on ``floor(slot/86400)``) so the ``slot >= begin AND slot <
end`` predicate is partition pruning; the fixtures are small enough that
plain parquet + row-group pruning shows the same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.sources.ladder import (
    DEFAULT_LEVELS,
    build_ladder,
    pick_level,
)

_CF_COL = {
    "average": "average",
    "delta": "total",
    "min": "vmin",
    "max": "vmax",
    "last": "last",
}


def view_name(step: int) -> str:
    return f"obs_agg_{step}"


def materialize_ladder(
    spark: SparkSession,
    obs: DataFrame,
    warehouse_dir: str,
    levels: tuple[int, ...] = DEFAULT_LEVELS,
) -> dict[int, str]:
    """Write every ladder level to ``<warehouse_dir>/agg_<step>`` and
    register it as view ``obs_agg_<step>``; returns step → view name.

    Incremental maintenance of these tables is
    ``streaming/maintenance.py``'s job; this is the initial build +
    registration (each level cascades from the previous — raw is read
    exactly once regardless of ladder depth)."""
    out: dict[int, str] = {}
    for step, df in build_ladder(obs, levels).items():
        path = f"{warehouse_dir}/agg_{step}"
        (
            df.withColumn("day", F.to_date(F.timestamp_seconds(F.col("slot"))))
            .repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )
        name = view_name(step)
        spark.read.parquet(path).createOrReplaceTempView(name)
        out[step] = name
    return out


def register_ladder_store(
    spark: SparkSession,
    sf_dir: str,
    levels: tuple[int, ...] = DEFAULT_LEVELS,
) -> dict[int, str]:
    """Session-persistent ladder store for a corpus: the day-partitioned
    level tables, built once per ``events`` stamp
    (``catalog.fixture_memo``), with the ``obs_agg_<step>`` views
    re-registered on every call so one long-lived session can serve
    multiple corpora (the driver's sf0.01 pass and the bench's sf0.1
    pass coexist).  This is the serving-layer twin of the reference's
    pre-computed Aggregate vars: queries hit these tables, maintenance
    (`ts_ladder_backfill` / streaming ladder upkeep) refreshes only the
    day partitions that changed."""
    from esxsnmp_tsdb_spark.operators._workdirs import fixture_dir
    from esxsnmp_tsdb_spark.sources.catalog import fixture_memo, flat_obs

    def build() -> str:
        root = fixture_dir("ladder_store", sf_dir)
        materialize_ladder(spark, flat_obs(spark, sf_dir), root, levels)
        return root

    root = fixture_memo(spark, "ladder_store", sf_dir, ("events",), build)
    out = {}
    for step in levels:
        name = view_name(step)
        spark.read.parquet(f"{root}/agg_{step}").createOrReplaceTempView(name)
        out[step] = name
    return out


def route_sql(
    step: int,
    begin: int,
    end: int,
    cf: str = "average",
    levels: tuple[int, ...] = DEFAULT_LEVELS,
) -> str:
    """Compile ``GET …?begin&end&agg=<step>&cf=<cf>`` to SQL over the
    routed ladder view — the coarsest stored level dividing ``step``.
    Re-consolidates in SQL when the request is coarser than stored
    (sum/count carried per level, so averages re-weight exactly)."""
    if cf not in _CF_COL:
        raise ValueError(f"unknown consolidation function {cf!r}")
    stored = pick_level(tuple(sorted(levels)), step)
    col = _CF_COL[cf]
    # The derived day predicate rides along so the store's day layout
    # partition-prunes (slot-range alone only row-group-prunes).
    rng = (
        f"slot >= {begin} AND slot < {end}"
        f" AND day >= to_date(timestamp_seconds({begin}))"
        f" AND day <= to_date(timestamp_seconds({end - 1}))"
    )
    if stored == step:
        return f"""
SELECT path, slot, {col} AS value, n
FROM {view_name(stored)}
WHERE {rng}
"""
    return f"""
SELECT path, rslot AS slot, {col} AS value, n FROM (
  SELECT path, slot - slot % {step} AS rslot,
         sum(total) / sum(n) AS average,
         sum(total) AS total,
         min(vmin) AS vmin,
         max(vmax) AS vmax,
         max_by(last, slot) AS last,
         sum(n) AS n
  FROM {view_name(stored)}
  WHERE {rng}
  GROUP BY path, slot - slot % {step}
)
"""
