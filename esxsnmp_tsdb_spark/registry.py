"""Operator registry — the contract surface for ``__spark_entry__.py``.

Every operator module registers its queries with the :func:`op` decorator:

    @op("ts_rate", oracle=\"\"\"SELECT ... FROM events ...\"\"\")
    def ts_rate(spark, sf_dir):
        ...

``QUERIES`` maps op key → ``(spark, sf_dir) -> DataFrame``; ``ORACLE`` maps
op key → the equivalent DuckDB SQL (omitted for non-SQL-expressible ops —
the driver then records a weaker rows-only check, per the driver contract in
``__spark_entry__.py``).

Column-name discipline (driver hashes values after sorting columns BY NAME):
every computed column must be aliased identically in the Spark query and the
oracle SQL.  Float discipline: round aggregates on BOTH sides (SURVEY.md §7
hard parts) so cross-engine summation order cannot flip the hash.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# The ``queries()`` order (a module another imports is listed first): the
# first 50 keys are the oracle-checked §2.1–2.2 family.
_OPERATOR_MODULES = (
    "esxsnmp_tsdb_spark.operators.timeseries",
    "esxsnmp_tsdb_spark.operators.aggregator",
    "esxsnmp_tsdb_spark.operators.aggregator2",
    "esxsnmp_tsdb_spark.operators.analytics",
    "esxsnmp_tsdb_spark.operators.analytics2",
    "esxsnmp_tsdb_spark.operators.analytics3",
    "esxsnmp_tsdb_spark.operators.analytics4",
    "esxsnmp_tsdb_spark.operators.analytics5",
    "esxsnmp_tsdb_spark.operators.analytics6",
    "esxsnmp_tsdb_spark.operators.analytics7",
    "esxsnmp_tsdb_spark.operators.analytics8",
    "esxsnmp_tsdb_spark.operators.relational",
    "esxsnmp_tsdb_spark.operators.relational2",
    "esxsnmp_tsdb_spark.operators.relational3",
    "esxsnmp_tsdb_spark.operators.scalar",
    "esxsnmp_tsdb_spark.operators.sketches",
    "esxsnmp_tsdb_spark.operators.tpch",
    "esxsnmp_tsdb_spark.operators.tpch2",
    "esxsnmp_tsdb_spark.operators.dedup",
    "esxsnmp_tsdb_spark.operators.curation",
    "esxsnmp_tsdb_spark.operators.curation2",
    "esxsnmp_tsdb_spark.operators.curation3",
    "esxsnmp_tsdb_spark.operators.curation4",
    "esxsnmp_tsdb_spark.operators.curation5",
    "esxsnmp_tsdb_spark.operators.text",
    "esxsnmp_tsdb_spark.operators.curation6",
    "esxsnmp_tsdb_spark.operators.similarity",
    "esxsnmp_tsdb_spark.operators.curation7",
    "esxsnmp_tsdb_spark.operators.curation8",
    "esxsnmp_tsdb_spark.operators.events_analytics",
    "esxsnmp_tsdb_spark.operators.events2",
    "esxsnmp_tsdb_spark.operators.events3",
    "esxsnmp_tsdb_spark.operators.events4",
    "esxsnmp_tsdb_spark.operators.similarity2",
    "esxsnmp_tsdb_spark.operators.text2",
    "esxsnmp_tsdb_spark.operators.text3",
    "esxsnmp_tsdb_spark.operators.multimodal",
    "esxsnmp_tsdb_spark.operators.ingest",
    "esxsnmp_tsdb_spark.operators.ingest2",
    "esxsnmp_tsdb_spark.operators.storage",
    "esxsnmp_tsdb_spark.operators.storage2",
    "esxsnmp_tsdb_spark.operators.storage3",
    "esxsnmp_tsdb_spark.operators.ingest3",
    "esxsnmp_tsdb_spark.operators.streaming_ops",
    "esxsnmp_tsdb_spark.operators.streaming_ops2",
    "esxsnmp_tsdb_spark.operators.streaming_ops3",
    "esxsnmp_tsdb_spark.operators.rrd_pipeline",
    "esxsnmp_tsdb_spark.operators.dedup2",
    "esxsnmp_tsdb_spark.operators.training_mix",
)

_loaded = False


def op(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``key``; optionally attach its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate op key {key!r}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLE[key] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (idempotent) so decorators run."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    """Every op, in ``_OPERATOR_MODULES`` order (registration order
    within a module), whichever module the process imported first; an
    op from an unlisted module comes last."""
    load_all()
    rank = {m: i for i, m in enumerate(_OPERATOR_MODULES)}
    keys = sorted(QUERIES, key=lambda k: rank.get(QUERIES[k].__module__, len(rank)))
    return {k: QUERIES[k] for k in keys}


def oracle_sql() -> dict[str, str]:
    """The oracle SQL of every op that has one, in ``queries()`` order."""
    return {k: ORACLE[k] for k in queries() if k in ORACLE}
