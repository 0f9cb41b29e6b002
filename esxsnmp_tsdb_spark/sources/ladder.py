"""Aggregate ladder: the reference's pre-computed consolidation levels and
query-time level routing (SURVEY.md §4 — ``TSDBVar.update_all_aggregates``
† maintains 30s/5m/1h/1d Aggregate vars; ``esxsnmp/api.py`` † picks the
stored level ≤ the requested resolution).

Catalyst will not rewrite a query to a materialized aggregate on its own,
so — exactly like the reference — the engine routes explicitly:

    ladder = build_ladder(obs, levels=(300, 3600, 86400))
    df = timerange(ladder, begin, end, step=7200, cf="average")

Each ladder level is computed FROM THE NEXT FINER level (sum/count carried
so averages re-weight exactly), which is what makes maintenance at 100 TB
incremental: a new day of raw data touches one day-partition per level,
never historical raws.  Conservation invariants are unit-tested
(cascade == direct, tests/test_ladder.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.tsdb import slot_of

DEFAULT_LEVELS = (300, 3600, 86400)

# Consolidation functions a timerange request may name (`cf=` query arg).
TIMERANGE_CFS = ("average", "delta", "min", "max", "last")


def _base_level(obs: DataFrame, step: int) -> DataFrame:
    return (
        obs.withColumn("slot", slot_of(F.col("tse"), step))
        .groupBy("path", "slot")
        .agg(
            F.sum("value").alias("sv"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.expr("max_by(value, struct(tse, event_id))").alias("last"),
            F.max(F.struct("tse", "event_id")).alias("_lastkey"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _cascade(finer: DataFrame, step: int) -> DataFrame:
    """Next level from the previous one — never from raw (†)."""
    return (
        finer.groupBy("path", slot_of(F.col("slot"), step).alias("slot"))
        .agg(
            F.sum("sv").alias("sv"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.expr("max_by(last, _lastkey)").alias("last"),
            F.max("_lastkey").alias("_lastkey"),
            F.sum("n").alias("n"),
        )
    )


def build_ladder(
    obs: DataFrame, levels: tuple[int, ...] = DEFAULT_LEVELS
) -> dict[int, DataFrame]:
    """step → consolidated DataFrame(path, slot, average, total, vmin,
    vmax, last, n), each level cascaded from the previous.

    Levels must be ascending and each a multiple of the previous (the
    reference enforced the same through its chunk/step configuration).
    """
    for a, b in zip(levels, levels[1:]):
        if b % a != 0:
            raise ValueError(f"level {b} is not a multiple of finer level {a}")
    ladder: dict[int, DataFrame] = {}
    current = _base_level(obs, levels[0])
    ladder[levels[0]] = current
    for step in levels[1:]:
        current = _cascade(current, step)
        ladder[step] = current
    return {
        step: df.select(
            "path",
            "slot",
            (F.col("sv") / F.col("n")).alias("average"),
            F.col("sv").alias("total"),
            "vmin",
            "vmax",
            "last",
            "n",
        )
        for step, df in ladder.items()
    }


def pick_level(levels: tuple[int, ...], requested_step: int) -> int:
    """The coarsest stored level that divides the requested resolution —
    the reference API's 'agg ≤ requested' rule made exact."""
    candidates = [s for s in levels if requested_step % s == 0]
    if not candidates:
        raise ValueError(
            f"no stored level divides requested step {requested_step}; "
            f"stored: {levels}"
        )
    return max(candidates)


def timerange(
    ladder: dict[int, DataFrame],
    begin: int,
    end: int,
    step: int,
    cf: str = "average",
) -> DataFrame:
    """``GET …?begin&end&agg=<step>&cf=<cf>`` (``esxsnmp/api.py`` †):
    route to the stored level, slice the range, re-consolidate to the
    requested step if coarser than stored.

    The range filter lands on the level table's slot column — with the
    date-partitioned layout that is partition pruning, identical in effect
    to the reference opening only covered chunk files.

    Like the reference, the ladder serves WHOLE stored slots: callers
    should align begin/end to ``step`` (a slot straddling ``end`` reflects
    its full contents, not a partial re-read of raw data).
    """
    if cf not in TIMERANGE_CFS:
        raise ValueError(f"unknown consolidation function {cf!r}")
    stored = pick_level(tuple(sorted(ladder)), step)
    return serve_level(ladder[stored], stored, begin, end, step, cf)


def serve_level(
    level: DataFrame,
    stored: int,
    begin: int,
    end: int,
    step: int,
    cf: str = "average",
) -> DataFrame:
    """The tail of :func:`timerange` once a level is routed: slice
    ``level`` (stored at step ``stored``) to ``[begin, end)`` and
    re-consolidate to ``step`` if coarser, returning ``cf``'s column as
    ``value``.  For callers that pick the level themselves."""
    df = level.filter((F.col("slot") >= begin) & (F.col("slot") < end))
    if stored == step:
        out = df
    else:
        out = (
            df.withColumn("rslot", slot_of(F.col("slot"), step))
            .groupBy("path", "rslot")
            .agg(
                (F.sum("total") / F.sum("n")).alias("average"),
                F.sum("total").alias("total"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
                F.expr("max_by(last, slot)").alias("last"),
                F.sum("n").alias("n"),
            )
            .withColumnRenamed("rslot", "slot")
        )
    col = {
        "average": "average",
        "delta": "total",
        "min": "vmin",
        "max": "vmax",
        "last": "last",
    }[cf]
    return out.select("path", "slot", F.col(col).alias("value"), "n")
