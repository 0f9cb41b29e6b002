#!/usr/bin/env python
"""Shuffle-VOLUME audit: execute each headline op and read the actual
shuffle bytes/records and broadcast sizes out of the final adaptive
plan's SQLMetrics — the quantitative companion to the structural
exchange-count assertions in tests/test_plans.py and the bench's
plan-violation gate.

Exchange COUNTS say where the plan shuffles; this measures HOW MUCH
moves, which is the number that decides whether a plan survives 100 TB:
a window family whose bucketed layout shuffles ZERO bytes, an aggregate
whose map-side combine folds the fan-out before the wire, a broadcast
join whose build side is dimension-sized.  Run after a round's changes:

    python scripts/shuffle_audit.py                    # headline ops
    python scripts/shuffle_audit.py --bucketed         # + routed window family

Prints one JSON line per run; the round commits it as
docs/SHUFFLE_r{N}.json.  Execution is JVM-side only
(executedPlan().execute().count() — no Python row transfer), so the
bytes are the engine's, not the collect path's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esxsnmp_tsdb_spark import registry
from esxsnmp_tsdb_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _metrics_tree(node, out):
    """Depth-first (node_name, {metric: value}) including AQE query-stage
    subtrees (children() stops at QueryStageExec boundaries; the
    materialized fragment hangs off .plan())."""
    mets = node.metrics()
    it = mets.iterator()
    md = {}
    while it.hasNext():
        kv = it.next()
        md[kv._1()] = kv._2().value()
    out.append((node.nodeName(), md))
    ch = node.children()
    for i in range(ch.size()):
        _metrics_tree(ch.apply(i), out)
    if "QueryStageExec" in node.getClass().getSimpleName():
        try:
            _metrics_tree(node.plan(), out)
        except Exception:
            pass
    return out


def audit(df) -> dict:
    """Execute ``df`` JVM-side and aggregate its shuffle/broadcast
    volume from the final adaptive plan."""
    root = df._jdf.queryExecution().executedPlan()
    rows = root.execute().count()
    try:
        inner = root.executedPlan()  # AdaptiveSparkPlanExec final plan
    except Exception:
        inner = root  # non-adaptive root
    nodes = _metrics_tree(inner, [])
    shuffle_bytes = shuffle_records = n_exchange = 0
    broadcast_bytes = n_broadcast = 0
    scan_rows = 0
    for name, m in nodes:
        if name.startswith("Exchange"):
            n_exchange += 1
            shuffle_bytes += m.get("shuffleBytesWritten", 0)
            shuffle_records += m.get("shuffleRecordsWritten", 0)
        elif name.startswith("BroadcastExchange"):
            n_broadcast += 1
            broadcast_bytes += m.get("dataSize", 0)
        elif name.startswith("Scan "):
            scan_rows += m.get("numOutputRows", 0)
    return {
        "result_rows": rows,
        "scan_rows": scan_rows,
        "exchanges": n_exchange,
        "shuffle_records": shuffle_records,
        "shuffle_bytes": shuffle_bytes,
        "broadcasts": n_broadcast,
        "broadcast_bytes": broadcast_bytes,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--ops",
        default=None,
        help="comma list (default: bench.py HEADLINE set)",
    )
    ap.add_argument(
        "--bucketed",
        action="store_true",
        help="also audit the registered bench.BUCKETED_KEYS ops with "
        "sources.load_obs routed onto the bucketed obs layout",
    )
    ap.add_argument(
        "--all",
        action="store_true",
        help="audit every registered batch op (stream_*/ingest_batch_"
        "append excluded, same rule as the bench sweep) — the full "
        "wire-volume inventory",
    )
    args = ap.parse_args()

    registry.load_all()
    spark = get_session("shuffle_audit")
    if args.ops:
        ops = [o for o in args.ops.split(",") if o]
    elif args.all:
        skip = {k for k in registry.QUERIES if k.startswith("stream_")} | {
            "ingest_batch_append"
        }
        ops = sorted(k for k in registry.QUERIES if k not in skip)
    else:
        from bench import HEADLINE

        ops = list(HEADLINE)

    out = {"sf_dir": SF_DIR, "ops": {}}
    for key in ops:
        try:
            out["ops"][key] = audit(registry.QUERIES[key](spark, SF_DIR))
        except Exception as e:  # record, keep sweeping (--all mode)
            out["ops"][key] = {"error": f"{type(e).__name__}: {e}"[:200]}

    if args.bucketed:
        from bench import BUCKETED_KEYS
        from esxsnmp_tsdb_spark.operators.storage2 import bucketed_obs_table
        from esxsnmp_tsdb_spark.sources import ROUTE_BUCKETED_CONF

        bucketed_obs_table(spark, SF_DIR)
        spark.conf.set(ROUTE_BUCKETED_CONF, "true")
        try:
            out["bucketed"] = {
                key: audit(registry.QUERIES[key](spark, SF_DIR))
                for key in BUCKETED_KEYS
            }
        finally:
            spark.conf.unset(ROUTE_BUCKETED_CONF)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
