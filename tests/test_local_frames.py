"""Driver-side rows reach Spark through ``session.local_frame`` only: an
Arrow local relation (``LocalTableScan``), never a Python list that
Spark parallelizes behind Python workers.

Pins the one-path rule by a source scan, the plan and job counts the
switch bought, the schema every converted call site had before the
switch, and the ``insert_batch`` semantics that must survive it (NaN
stays NaN, bad batches fail before any file is written, one job)."""

from __future__ import annotations

import ast
import datetime
import importlib
import math
import pathlib

import pytest

import esxsnmp_tsdb_spark
from esxsnmp_tsdb_spark import api
from esxsnmp_tsdb_spark.api import TSDB, TSDBVar
from esxsnmp_tsdb_spark.functions.tsdb import ROW_VALID
from esxsnmp_tsdb_spark.operators import (
    analytics4,
    analytics5,
    curation4,
    curation6,
    curation7,
    curation8,
)
from esxsnmp_tsdb_spark.operators.similarity import TOP_K
from esxsnmp_tsdb_spark.session import local_frame

PKG = pathlib.Path(esxsnmp_tsdb_spark.__file__).parent


def _calls(tree, fn=None):
    """(outermost enclosing function, call) for every call in ``tree``."""
    for child in ast.iter_child_nodes(tree):
        if fn is None and isinstance(child, ast.FunctionDef):
            yield from _calls(child, child.name)
            continue
        if isinstance(child, ast.Call):
            yield fn, child
        yield from _calls(child, fn)


def _sites(name: str) -> list[tuple[str, str, ast.Call]]:
    """(module, function, call) for every call of ``name`` in the package;
    module is dotted relative to the package, e.g. ``operators.curation6``."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for fn, call in _calls(ast.parse(path.read_text())):
            f = call.func
            if getattr(f, "attr", None) == name or getattr(f, "id", None) == name:
                out.append((mod, fn, call))
    return out


def test_create_dataframe_only_inside_local_frame():
    sites = [(mod, fn) for mod, fn, _ in _sites("createDataFrame")]
    assert sites == [("session", "local_frame")]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_plans_as_local_table_scan(spark):
    for rows in ([(1, 2.0), (2, None)], []):
        plan = _plan(local_frame(spark, rows, "a bigint, b double"))
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.fixture()
def var(spark, tmp_path):
    db = TSDB.create(spark, str(tmp_path / "tsdb"))
    v = db.add_set("r").add_var("v", step=300)
    v.add_aggregate("1h")
    return v


def test_empty_windows_submit_no_jobs(count_jobs, var):
    var.insert(300, 1.0)
    agg = var.get_aggregate("1h")  # configured, never built: no data dir
    empties = {
        "rows": lambda: agg._rows().collect(),
        "select": lambda: var.select(900, 900).collect(),
        "select_agg": lambda: agg.select(3600, 0).collect(),
        "timerange": lambda: var.timerange(900, 900, step=3600).collect(),
    }
    for name, action in empties.items():
        assert count_jobs(f"local-frames-empty-{name}", action) == 0, name


def test_insert_batch_runs_one_job(count_jobs, var):
    batch = [(300, 1.0, ROW_VALID), (600, 2.0, ROW_VALID)]
    jobs = count_jobs("local-frames-insert", lambda: var.insert_batch(batch))
    assert jobs == 1
    assert var.file_count() == 1


def test_insert_batch_keeps_nan_and_null(spark, var):
    var.insert_batch([(300, float("nan"), ROW_VALID), (600, None, ROW_VALID)])
    got = {r.slot: r for r in var.select(300, 900).collect()}
    assert got[300].flags == ROW_VALID and math.isnan(got[300].value)
    assert got[600].flags == ROW_VALID and got[600].value is None


@pytest.mark.parametrize(
    "bad",
    [(900, 3.0, 2**31), (900, "not a number", ROW_VALID)],
    ids=["int32_flag_overflow", "non_numeric_value"],
)
def test_bad_batch_raises_before_any_write(spark, var, bad):
    var.insert_batch([(300, 1.0, ROW_VALID)])
    def state(v):
        return v.metadata["LAST_SEQ"], v.metadata["LAST_UPDATE"], v.file_count()

    before = state(var)
    with pytest.raises(ValueError):
        var.insert_batch([(600, 2.0, ROW_VALID), bad])
    assert state(var) == state(TSDBVar(spark, var.fs_path, var.path)) == before


# Every converted call site → (rows it passes, schema argument of the
# createDataFrame call it replaced).  The list-based sites inferred
# their types: Python int → bigint, str → string.
OLD_CALLS = {
    "api.insert_batch": ([(1, ROW_VALID, 1.0, 1)], api._ROW_SCHEMA),
    "api._rows": ([], api._ROW_SCHEMA),
    "api.select": ([], "tse long, flags int, value double, slot long"),
    "api._select_agg": ([], api._AGG_SCHEMA),
    "api.timerange": ([], "path string, slot long, value double, n long"),
    "operators.analytics5._cap10_df": (
        sorted(analytics5.CAP10.items()),
        ["etype", "cap10"],
    ),
    "operators.analytics4.ts_alert_rules_eval": (
        list(analytics4.ALERT_RULES),
        "rule_id int, event_type string, kind string, thresh double",
    ),
    "operators.curation6.blocklist_filter": (
        [(w,) for w in curation6.BLOCKLIST],
        ["tok"],
    ),
    "operators.curation7.sample_importance_weighted": (
        sorted(curation7.LANG_KEEP_THR.items()),
        ["lang", "thr"],
    ),
    "operators.curation8.dataset_mixture_epochs": (
        sorted(curation8.MIX_TARGET_PPM.items()),
        "lang string, target_ppm int",
    ),
    "operators.curation4.minhash_band_sensitivity": (
        [(c,) for c in curation4.BAND_CONFIGS],
        "n_bands int",
    ),
    "operators.similarity2.ann_recall_eval": (
        [(TOP_K, 9, 7, round(7 / TOP_K, 6))],
        "k int, n_ann bigint, hits bigint, recall double",
    ),
    "operators.similarity2.ann_recall_eval_ivfpq": (
        [(TOP_K, 9, 7, round(7 / TOP_K, 6))],
        "k int, n_ann bigint, hits bigint, recall double",
    ),
    "operators.rrd_pipeline.stream_ladder_full_pipeline": (
        [],
        "path string, p_tse long, p_eid long, p_counter long",
    ),
    "operators.streaming_ops2.stream_cdc_apply_bucketed": (
        [(datetime.date(2024, 1, 10), 3)],
        "day date, bkt bigint",
    ),
    "operators.streaming_ops2.stream_utilization_alert": (
        sorted(analytics5.CAP10.items()),
        ["event_type", "cap10"],
    ),
}
# ``_rows`` passes its local ``schema``: the row or the aggregate DDL.
_LOCALS = {"api._rows": {"schema": api._ROW_SCHEMA}}


def test_every_converted_site_is_pinned():
    keys = [f"{mod}.{fn}" for mod, fn, _ in _sites("local_frame")]
    assert len(keys) == len(set(keys))
    assert set(keys) == set(OLD_CALLS)


@pytest.mark.parametrize("site", sorted(OLD_CALLS))
def test_site_schema_unchanged(spark, site):
    (mod, fn, call), = [
        s for s in _sites("local_frame") if f"{s[0]}.{s[1]}" == site
    ]
    module = importlib.import_module(f"esxsnmp_tsdb_spark.{mod}")
    new_schema = eval(
        ast.unparse(call.args[2]), vars(module), _LOCALS.get(site, {})
    )
    rows, old_schema = OLD_CALLS[site]
    old = spark.createDataFrame(rows, old_schema).schema
    assert local_frame(spark, rows, new_schema).schema == old
