#!/usr/bin/env python
"""Oracle check for a list of op keys, a key prefix, or every op.

    python scripts/check_ops.py [--sf DIR] key1 key2 ...
    python scripts/check_ops.py --prefix ts_ --sf /root/testdata/sf0.01
    python scripts/check_ops.py --sf /root/testdata/sf0.01   # every op

Runs the registered Spark query and DuckDB oracle side by side through
tests/oracle_harness.py's driver-equivalent compare and prints pass/fail
per key.  With no keys and no ``--prefix`` it checks every registered op
(``--prefix ""`` too).  Exits nonzero on any failure, and when the
selection is empty.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf = "/root/testdata/sf0.001"
    keys: list[str] = []
    prefix = None
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf = next(it)
        elif a == "--prefix":
            prefix = next(it)
        else:
            keys.append(a)

    from esxsnmp_tsdb_spark import registry
    from esxsnmp_tsdb_spark.session import get_session
    from tests.oracle_harness import compare, duck_connection

    registry.load_all()
    if prefix is not None:
        keys += [k for k in registry.queries() if k.startswith(prefix)]
    elif not keys:
        keys = list(registry.queries())
    if not keys:
        print(f"FAIL no op matches --prefix {prefix!r}")
        return 1
    spark = get_session()
    con = duck_connection(sf)
    failures = 0
    for key in keys:
        try:
            fn = registry.QUERIES[key]
            if key not in registry.ORACLE:
                n = fn(spark, sf).count()
                print(f"{key}: rows-only, {n} rows")
                continue
            got = fn(spark, sf).toPandas()
            problems = compare(got, con.execute(registry.ORACLE[key]).fetchdf(), key)
        except Exception as exc:  # noqa: BLE001 — report and continue
            problems = [f"{key}: EXCEPTION {type(exc).__name__}: {exc}"]
        if problems:
            failures += 1
            for p in problems:
                print("FAIL", p)
        else:
            print(f"PASS {key} ({len(got)} rows)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
