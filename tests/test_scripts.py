"""The command-line scripts: ``check_ops.py``'s sweep, and every
``registry.<name>`` the scripts, bench and tests read still existing."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import sys

import pytest

from esxsnmp_tsdb_spark import registry, session
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_ops_survives_raising_rows_only_op(spark, monkeypatch, capsys):
    # a rows-only op that raises is a failure, not the end of the sweep
    spec = importlib.util.spec_from_file_location(
        "check_ops", os.path.join(ROOT, "scripts", "check_ops.py")
    )
    check_ops = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_ops)
    registry.load_all()

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    monkeypatch.setitem(registry.QUERIES, "zz_raising_rows_only", boom)
    # the fixture session as is: get_session() would re-apply its builder
    # confs to the shared session
    monkeypatch.setattr(session, "get_session", lambda *a, **k: spark)
    argv = ["check_ops.py", "--sf", SF_SMOKE, "zz_raising_rows_only", "ts_rate"]
    monkeypatch.setattr(sys, "argv", argv)
    assert check_ops.main() == 1
    out = capsys.readouterr().out
    assert "FAIL zz_raising_rows_only: EXCEPTION RuntimeError: boom" in out
    assert "PASS ts_rate" in out


def test_check_ops_runs_each_op_once_and_survives_unknown_key(
    spark, monkeypatch, capsys
):
    # one toPandas per oracle-checked key serves both the compare and the
    # printed row count, and a key nobody registered ends only its own line
    spec = importlib.util.spec_from_file_location(
        "check_ops", os.path.join(ROOT, "scripts", "check_ops.py")
    )
    check_ops = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_ops)
    registry.load_all()
    calls = []

    def counted(key):
        fn = registry.QUERIES[key]

        def wrapper(spark, sf_dir):
            calls.append(key)
            return fn(spark, sf_dir)

        return wrapper

    for key in ("ts_rate", "scan_parquet"):
        monkeypatch.setitem(registry.QUERIES, key, counted(key))
    monkeypatch.setattr(session, "get_session", lambda *a, **k: spark)
    keys = ["ts_rate", "zz_no_such_op", "scan_parquet"]
    argv = ["check_ops.py", "--sf", SF_SMOKE, *keys]
    monkeypatch.setattr(sys, "argv", argv)
    assert check_ops.main() == 1
    out = capsys.readouterr().out
    assert calls == ["ts_rate", "scan_parquet"]
    assert "FAIL zz_no_such_op: EXCEPTION KeyError" in out
    assert "PASS ts_rate" in out
    assert "PASS scan_parquet" in out


def _script(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "scripts", f"{name}.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize(
    "selection, want",
    [
        ([], ["ts_rate", "scan_parquet"]),  # no keys: every op
        (["--prefix", ""], ["ts_rate", "scan_parquet"]),
        (["--prefix", "scan_"], ["scan_parquet"]),
        (["--prefix", "zz_no_such_prefix"], []),
    ],
)
def test_check_ops_selection(spark, monkeypatch, capsys, selection, want):
    # every registered op unless keys or a prefix narrow it, and an empty
    # selection is a failure rather than a sweep that checked nothing
    check_ops = _script("check_ops")
    registry.load_all()
    ops = {k: registry.QUERIES[k] for k in ("ts_rate", "scan_parquet")}
    monkeypatch.setattr(registry, "queries", lambda: dict(ops))
    monkeypatch.setattr(session, "get_session", lambda *a, **k: spark)
    argv = ["check_ops.py", "--sf", SF_SMOKE, *selection]
    monkeypatch.setattr(sys, "argv", argv)
    assert check_ops.main() == (0 if want else 1)
    out = capsys.readouterr().out
    passed = [ln.split()[1] for ln in out.splitlines() if ln.startswith("PASS")]
    assert passed == want
    if not want:
        assert "FAIL no op matches" in out


def test_dump_plans_prints_scan_filters_uncut(spark, monkeypatch):
    # Spark cuts scan metadata at maxMetadataStringLength before the ids
    # are normalized; the script's session prints it whole
    dump_plans = _script("dump_plans")
    monkeypatch.setattr(dump_plans, "get_session", lambda *a, **k: spark)
    key = "spark.sql.maxMetadataStringLength"
    before = spark.conf.get(key)
    try:
        plan = dump_plans.normalized_plan(
            registry.QUERIES["projection_filter"](dump_plans.plan_session(), SF_SMOKE)
        )
    finally:
        spark.conf.set(key, before)
    assert "LessThan(l_shipdate,1997-01-01T00:00)]" in plan, plan


def test_dump_plans_diff_prints_changed_keys(tmp_path, capsys):
    # --diff names every key whose plan differs, and only those
    import json

    dump_plans = _script("dump_plans")
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"same": "P", "changed": "P1", "gone": "P"}))
    b.write_text(json.dumps({"same": "P", "changed": "P2", "new": "P"}))
    assert dump_plans.diff_json(str(a), str(b)) == 1
    out = capsys.readouterr().out.splitlines()
    assert out == ["changed", f"gone (only in {a})", f"new (only in {b})"]
    assert dump_plans.diff_json(str(a), str(a)) == 0
    assert capsys.readouterr().out == ""


def test_dump_plans_records_and_checks_shuffle_partitions(
    spark, tmp_path, monkeypatch, capsys
):
    # every hashpartitioning(…, N) carries the session's partition count,
    # so dumps taken at two counts differ in every shuffled plan
    import json

    dump_plans = _script("dump_plans")
    monkeypatch.setattr(dump_plans, "get_session", lambda *a, **k: spark)
    monkeypatch.setattr(
        dump_plans.registry, "queries", lambda: {"one": lambda s, sf: s.range(3)}
    )
    key = "spark.sql.maxMetadataStringLength"
    before = spark.conf.get(key)
    a = tmp_path / "a.json"
    try:
        dump_plans.dump_all_json(str(a), SF_SMOKE)
    finally:
        spark.conf.set(key, before)
    dumped = json.loads(a.read_text())
    assert sorted(dumped) == ["one", "spark.sql.shuffle.partitions"]
    n = spark.conf.get("spark.sql.shuffle.partitions")
    assert dumped["spark.sql.shuffle.partitions"] == n
    capsys.readouterr()
    assert dump_plans.diff_json(str(a), str(a)) == 0
    assert capsys.readouterr().out == ""

    b = tmp_path / "b.json"
    b.write_text(json.dumps({**dumped, "spark.sql.shuffle.partitions": n + "0"}))
    assert dump_plans.diff_json(str(a), str(b)) == 2
    err = capsys.readouterr().err
    assert f"{n} in {a}" in err and f"{n}0 in {b}" in err


def _registry_refs(path: str):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "registry"
        ):
            yield node.lineno, node.attr
        elif isinstance(node, ast.ImportFrom) and node.module == (
            "esxsnmp_tsdb_spark.registry"
        ):
            for alias in node.names:
                yield node.lineno, alias.name


def test_registry_attribute_references_resolve():
    # scripts are never imported by the suite, so a name deleted from
    # registry.py would otherwise fail only when someone runs the script
    registry.load_all()
    files = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for sub in ("scripts", "perfbench", "tests"):
        files += sorted(glob.glob(os.path.join(ROOT, sub, "*.py")))
    dangling = [
        f"{os.path.relpath(path, ROOT)}:{line}: registry.{attr}"
        for path in files
        for line, attr in _registry_refs(path)
        if not hasattr(registry, attr)
    ]
    assert dangling == []
