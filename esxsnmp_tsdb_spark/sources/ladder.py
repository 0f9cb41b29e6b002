"""Aggregate ladder: the reference's pre-computed consolidation levels and
query-time level routing (SURVEY.md §4 — ``TSDBVar.update_all_aggregates``
† maintains 30s/5m/1h/1d Aggregate vars; ``esxsnmp/api.py`` † picks the
stored level ≤ the requested resolution).

Catalyst will not rewrite a query to a materialized aggregate on its own,
so — exactly like the reference — the engine routes explicitly:

    ladder = build_ladder(obs, levels=(300, 3600, 86400))
    df = timerange(ladder, begin, end, step=7200, cf="average")

Every level holds the one consolidation partial of
``functions/tsdb.py`` (``consolidation_partial``: Σvalue, non-NULL count,
min, max and the latest ``(tse, event_id, value)``): the finest level is
the partial of raw obs, each coarser one is ``merge_partial`` of the next
finer level — never raw — and ``finish_partial`` turns a level into its
consolidation columns.  Because the partial merges, maintenance at 100 TB
is incremental: a new day of raw data touches one day-partition per
level, never historical raws (the stored form is ``sources/ladder_sql.py``,
its upkeep ``streaming/maintenance.py``).  Conservation invariants are
unit-tested (cascade == direct, tests/test_ladder.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.functions.tsdb import (
    CF_COLUMN,
    consolidation_partial,
    finish_partial,
    merge_partial,
)

DEFAULT_LEVELS = (300, 3600, 86400)


def ladder_partials(
    obs: DataFrame, levels: tuple[int, ...] = DEFAULT_LEVELS
) -> dict[int, DataFrame]:
    """step → consolidation partial, each level merged from the previous.

    Levels must be ascending and each a multiple of the previous (the
    reference enforced the same through its chunk/step configuration).
    """
    for a, b in zip(levels, levels[1:]):
        if b % a != 0:
            raise ValueError(f"level {b} is not a multiple of finer level {a}")
    ladder = {levels[0]: consolidation_partial(obs, levels[0])}
    for finer, step in zip(levels, levels[1:]):
        ladder[step] = merge_partial(ladder[finer], step)
    return ladder


def build_ladder(
    obs: DataFrame, levels: tuple[int, ...] = DEFAULT_LEVELS
) -> dict[int, DataFrame]:
    """step → consolidated DataFrame(path, slot, average, total, vmin,
    vmax, last, n): :func:`ladder_partials`, finished."""
    return {
        step: finish_partial(df) for step, df in ladder_partials(obs, levels).items()
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
    if cf not in CF_COLUMN:
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
    if stored != step:
        # A finished slot re-enters the partial with its own slot as the
        # key that orders its `last` among the slots it merges with.
        last = F.struct(
            F.col("slot").alias("tse"),
            F.lit(0).cast("long").alias("event_id"),
            F.col("last").alias("value"),
        )
        partial = df.select(
            "path", "slot", F.col("total").alias("sv"), "n", "vmin", "vmax",
            last.alias("_last"),
        )
        df = finish_partial(merge_partial(partial, step))
    return df.select("path", "slot", F.col(CF_COLUMN[cf]).alias("value"), "n")
