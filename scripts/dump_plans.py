#!/usr/bin/env python
"""Dump .explain("formatted") for the headline queries to plans/<round>/.

Usage: python scripts/dump_plans.py <suffix> [key ...]
Round dir from $SPARK_GRAFT_PLANS_ROUND (default r14).
Writes plans/<round>/<key>_<suffix>.txt for each headline key (or the given
keys).  Plan-only — nothing is executed, so it is safe to run while other
work shares the host.

       python scripts/dump_plans.py --all-json <out.json>
Writes the "simple" plan of every registered non-``stream_*`` op to one
JSON object (key -> plan), with per-process ids normalized, so two runs —
or a parent and a change — compare key by key.  The object also records
the session's ``spark.sql.shuffle.partitions`` under that key: every
``hashpartitioning(…, N)`` in a plan carries it, and it follows
``$SPARK_GRAFT_CPUS``.  Building an op may run its eager checkpoints, so
this mode does execute Spark jobs.

       python scripts/dump_plans.py --diff <A.json> <B.json>
Prints each op key whose plan differs between two ``--all-json`` files
(a key in one file only prints with the file that has it) and exits 1,
or exits 0 when every plan is identical.  Exits 2, naming both counts
and comparing no plan, when the two files record different shuffle
partition counts.  Starts no Spark session.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.plans import plan_str
from esxsnmp_tsdb_spark.session import get_session

# Per-process noise in a plan string: expression ids, Connect plan ids,
# per-session scratch dirs and the uuids in written part-file names.
_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"esxsnmp_tsdb_work_\w+"), "esxsnmp_tsdb_work_X"),
    (re.compile(r"part-\d+-[0-9a-f-]*"), "part-X"),
)


# Spark cuts scan metadata (PushedFilters, DataFilters, Location) at this
# many characters, before the ids above are normalized: under the default
# 100, one filter cuts at a different character when its ids differ in
# length.  Uncut, a plan prints the same whatever its ids.
_METADATA_LIMIT = ("spark.sql.maxMetadataStringLength", str(1 << 20))


def plan_session():
    """The script's session, with scan metadata printed uncut."""
    spark = get_session("dump_plans")
    spark.conf.set(*_METADATA_LIMIT)
    return spark


def normalized_plan(df) -> str:
    plan = plan_str(df, "simple")
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


# Recorded beside the op keys, which never contain a dot.
_PARTITIONS = "spark.sql.shuffle.partitions"


def dump_all_json(out_path: str, sf_dir: str) -> None:
    spark = plan_session()
    queries = registry.queries()
    plans = {
        key: normalized_plan(queries[key](spark, sf_dir))
        for key in sorted(queries)
        if not key.startswith("stream_")
    }
    n = len(plans)
    plans[_PARTITIONS] = spark.conf.get(_PARTITIONS)
    with open(out_path, "w") as fh:
        json.dump(plans, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote", n, "plans to", out_path)


def diff_json(a_path: str, b_path: str) -> int:
    """Print each key whose plan differs between two ``--all-json``
    files; 1 if any does, else 0.  2 when the files record different
    shuffle partition counts: their plans would differ in every
    Exchange, so none is compared.  A file written before the count was
    recorded compares as before."""
    with open(a_path) as fa, open(b_path) as fb:
        a, b = json.load(fa), json.load(fb)
    na, nb = a.pop(_PARTITIONS, None), b.pop(_PARTITIONS, None)
    if None not in (na, nb) and na != nb:
        print(
            f"{_PARTITIONS} differs: {na} in {a_path}, {nb} in {b_path}; "
            "dump both at one SPARK_GRAFT_CPUS",
            file=sys.stderr,
        )
        return 2
    changed = 0
    for key in sorted(a.keys() | b.keys()):
        if key not in b:
            print(key, f"(only in {a_path})")
        elif key not in a:
            print(key, f"(only in {b_path})")
        elif a[key] != b[key]:
            print(key)
        else:
            continue
        changed += 1
    return 1 if changed else 0


def main() -> None:
    if sys.argv[1] == "--diff":
        sys.exit(diff_json(sys.argv[2], sys.argv[3]))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if sys.argv[1] == "--all-json":
        dump_all_json(sys.argv[2], sf_dir)
        return
    suffix = sys.argv[1]
    import bench

    keys = sys.argv[2:] or bench.HEADLINE
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = plan_session()
    queries = registry.queries()
    for key in keys:
        df = queries[key](spark, sf_dir)
        plan = plan_str(df, "formatted")
        with open(os.path.join(out_dir, f"{key}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print("wrote", key)


if __name__ == "__main__":
    main()
