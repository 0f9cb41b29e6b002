"""``queries()``/``oracle_sql()`` list ops in the module order of
``registry._OPERATOR_MODULES``, registration order within a module,
whatever the process imported first.  A reader of the first 50 keys gets
the §2.1–2.2 timeseries/aggregator family, every one of them
oracle-checked, and the same 50 on every run."""

import glob
import json
import os
import subprocess
import sys

import pytest

from esxsnmp_tsdb_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FRESH_ORDER = """
import json
import __spark_entry__ as e
print(json.dumps([
    [[k, fn.__module__] for k, fn in e.queries().items()],
    sorted(e.oracle_sql()),
]))
"""


def test_queue_heads_the_window():
    # module order, then registration order within a module, even though
    # this suite imports operator modules in its own order
    q = registry.queries()
    idx = [registry._OPERATOR_MODULES.index(fn.__module__) for fn in q.values()]
    assert idx == sorted(idx)
    assert sorted(q) == sorted(registry.QUERIES)
    for mod in registry._OPERATOR_MODULES:
        own = [k for k, fn in registry.QUERIES.items() if fn.__module__ == mod]
        assert [k for k in q if q[k].__module__ == mod] == own, mod


def test_fallthrough_is_stalest_first():
    # oracle_sql() follows queries() order and carries the registered SQL
    oracle = registry.oracle_sql()
    assert list(oracle) == [k for k in registry.queries() if k in registry.ORACLE]
    for k, sql in oracle.items():
        assert sql == registry.ORACLE[k], k


def test_hash_round_covers_attested():
    # a rename must not orphan a key that a committed correctness file
    # records a driver row for
    registry.load_all()
    files = glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    assert files
    for path in files:
        with open(path) as f:
            missing = set(json.load(f)) - set(registry.QUERIES)
        assert not missing, (os.path.basename(path), sorted(missing))


def test_window_is_full_and_fresh():
    # in a fresh process that reaches the ops through the driver contract
    # (this suite imports operator modules before load_all), the tuple's
    # module order is the op order, and a 50-key window is value-checked,
    # not rows-only
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_ORDER],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    order, oracle = json.loads(out)
    mods = registry._OPERATOR_MODULES
    idx = [mods.index(mod) for _, mod in order]
    assert idx == sorted(idx)
    head = [k for k, _ in order[:50]]
    assert len(head) == 50
    assert [k for k in head if k not in oracle] == []


def test_import_history_does_not_reorder():
    # a module imported ahead of load_all registers its ops first; the
    # contract's order must not follow that import history
    def order(prelude):
        out = subprocess.run(
            [sys.executable, "-c", prelude + _FRESH_ORDER],
            cwd=ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        keys, oracle = json.loads(out)
        return [k for k, _ in keys], oracle

    fresh = order("")
    assert order("import esxsnmp_tsdb_spark.operators.relational\n") == fresh


def test_missing_operator_module_raises(monkeypatch):
    # load_all imports every listed module; a missing module (or a
    # missing dependency of one) must fail loudly, never silently drop
    # that module's ops from queries()
    registry.load_all()
    monkeypatch.setattr(
        registry,
        "_OPERATOR_MODULES",
        registry._OPERATOR_MODULES + ("esxsnmp_tsdb_spark.operators.no_such_ops",),
    )
    monkeypatch.setattr(registry, "_loaded", False)
    with pytest.raises(ModuleNotFoundError):
        registry.load_all()
