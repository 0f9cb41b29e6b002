"""A façade var is read as one partition, so no façade plan shuffles.

Pins, on a var shaped like the benchmark's (30 s step, a ``+5m``/``+1h``/
``+1d`` ladder, two hourly batches), the jobs each call submits and the
absence of any Exchange in the plans it executes: the reads each run one
job, ``update_all_aggregates`` one checkpoint job plus one per level, and
``compact`` of a small var one job.  The level jobs run concurrently, one
thread per level; they are counted under the caller's job group, so the
count also proves each thread inherits it."""

from __future__ import annotations

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from esxsnmp_tsdb_spark.api import TSDB
from esxsnmp_tsdb_spark.functions.tsdb import ROW_HIDDEN, ROW_VALID

T0 = 1_704_067_200
LADDER = ("+5m", "+1h", "+1d")


@pytest.fixture()
def var(spark, tmp_path):
    v = TSDB.create(spark, str(tmp_path / "tsdb")).add_set("r").add_var(
        "v", step=30
    )
    for spec in LADDER:
        v.add_aggregate(spec)
    for hour in range(2):
        v.insert_batch(
            [
                (T0 + hour * 3600 + k * 30 + k % 7,
                 float(k),
                 ROW_VALID | (ROW_HIDDEN if k % 11 == 0 else 0))
                for k in range(120)
            ]
        )
    v.insert(T0 + 95, 7.5)  # a later batch overwrites one slot
    return v


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _reads(var) -> dict:
    """Every read a façade user makes, as DataFrame builders."""
    agg = var.get_aggregate("+5m")
    return {
        "select": lambda: var.select(T0, T0 + 3600),
        "select_agg": lambda: agg.select(T0, T0 + 3600),
        "timerange_raw": lambda: var.timerange(T0, T0 + 7200, step=60),
        "timerange_level": lambda: var.timerange(T0, T0 + 7200, step=7200),
        "timerange_level_exact": lambda: var.timerange(T0, T0 + 7200, step=3600),
    }


def test_each_read_runs_one_job(count_jobs, var):
    # before the ladder is built, a level-step request is served from raw
    unbuilt = count_jobs(
        "facade-timerange-unbuilt",
        lambda: var.timerange(T0, T0 + 7200, step=3600).collect(),
    )
    assert unbuilt == 1
    var.update_all_aggregates()
    for name, build in _reads(var).items():
        assert count_jobs(f"facade-{name}", lambda: build().collect()) == 1, name
    assert count_jobs("facade-get_last", var.get_last) == 1
    agg = var.get_aggregate("+1h")
    assert count_jobs("facade-get_last_agg", agg.get_last) == 1


def test_update_all_aggregates_runs_one_job_per_level(count_jobs, var):
    jobs = count_jobs("facade-update", var.update_all_aggregates)
    assert jobs == 1 + len(LADDER)


def test_compact_small_var_runs_one_job(count_jobs, var):
    assert var.file_count() == 3
    assert count_jobs("facade-compact", var.compact) == 1
    assert var.file_count() == 1


def test_read_plans_have_no_exchange(var):
    var.update_all_aggregates()
    for name, build in _reads(var).items():
        assert "Exchange" not in _executed(build()), name


def test_write_plans_have_no_exchange(spark, var, monkeypatch):
    """The ladder-level writes and the compaction rewrite, captured at
    ``DataFrameWriter.parquet``."""
    plans = []
    write = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    var.update_all_aggregates()
    var.compact()
    assert len(plans) == len(LADDER) + 1
    for plan in plans:
        assert "Exchange" not in plan
