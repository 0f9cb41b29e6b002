#!/usr/bin/env python
"""Registry-wide partition-layout determinism audit.

The round-9/10 correctness hazard class was engine-order float summation:
an op whose values depend on partition layout passes the DuckDB oracle on
one layout and flips last digits on another (seen live in
``ts_capacity_forecast`` at sf0.1, fixed by the exact integer power-sum
idiom; ``ts_linear_trend`` / ``term_zipf_slope`` carried the same latent
shape until round 10).  tests/test_exact_ols.py pins layout-invariance
for those three ops; this script generalizes the probe to EVERY
registered op:

    python scripts/determinism_audit.py [--sf DIR] [--out FILE] [keys...]

For each op it runs the registered query twice in the same session under
two deliberately different physical layouts

  pass A: the engine defaults (shuffle=32, maxPartitionBytes=4m, AQE
          coalesce on) — the layout the driver and bench see;
  pass B: shuffle=5, maxPartitionBytes=256k, openCostInBytes=0, AQE
          coalesce off — more scan splits, different reduce fan-in,
          no runtime re-coalescing;

and compares EXACT canonical value hashes (columns sorted by name, rows
sorted by total string order, floats via ``float.hex`` — no tolerance:
the driver's value hash is exact, so any flip here is a real attestation
hazard).  Ops are invoked through the registry exactly as the driver
invokes them; each layout is set on the live session.

Output: ``docs/DETERMINISM_latest.json`` by default — pass
``--out docs/DETERMINISM_r{N}.json`` to archive a round's record (the
default deliberately does NOT name a round so a bare re-run can never
clobber an archived per-round artifact).  Per-key ``{match, rows,
hash_a, hash_b, err}`` plus a summary block.  A mismatch is a verdict,
not noise: the two passes run the same code on the same data in the
same JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
OUT = os.path.join(ROOT, "docs", "DETERMINISM_latest.json")

# Layouts: A = the tuned session's own values of PASS_B's keys, read from
# the live session at startup, so pass A is the layout the driver and bench
# see (its shuffle width follows SPARK_GRAFT_CPUS).  B = skewed
# small-split / narrow-reduce layout with runtime coalescing disabled.
PASS_B = {
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.files.maxPartitionBytes": "256k",
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def _cell(v) -> str:
    """Exact, type-stable string form of one result cell."""
    if v is None:
        return "\x01null"
    # pandas NA / NaT (scalar-safe)
    try:
        import pandas as pd

        if v is pd.NaT or v is pd.NA:
            return "\x01null"
    except Exception:
        pass
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    # numpy arrays from toPandas() array columns
    if hasattr(v, "tolist") and not isinstance(v, (str, int)):
        return _cell(v.tolist())
    return repr(v)


def canonical_hash(pdf) -> tuple[str, int]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [
        "\x00".join(_cell(v) for v in rec)
        for rec in pdf.itertuples(index=False, name=None)
    ]
    rows.sort()
    h = hashlib.md5()
    h.update(("|".join(pdf.columns)).encode())
    for r in rows:
        h.update(b"\x02")
        h.update(r.encode())
    return h.hexdigest(), len(rows)


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--out", default=OUT)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from esxsnmp_tsdb_spark import registry
    from esxsnmp_tsdb_spark.session import get_session

    registry.load_all()
    qs = registry.queries()
    keys = args.keys or list(qs)
    missing = [k for k in keys if k not in qs]
    if missing:
        print(f"unknown keys: {missing}", file=sys.stderr)
        return 2

    spark = get_session()
    # Read BEFORE any layout is set: this is both pass A and the state the
    # session is restored to at the end.
    PASS_A = {k: spark.conf.get(k) for k in PASS_B}

    def apply(layout: dict[str, str]) -> None:
        for k, v in layout.items():
            spark.conf.set(k, v)

    results: dict[str, dict] = {}
    t_start = time.time()
    for i, key in enumerate(keys):
        fn = qs[key]
        rec: dict = {"match": None, "err": None}
        try:
            apply(PASS_A)
            ha, na = canonical_hash(fn(spark, args.sf).toPandas())
            apply(PASS_B)
            hb, nb = canonical_hash(fn(spark, args.sf).toPandas())
            rec.update(
                match=(ha == hb and na == nb),
                rows=[na, nb],
                hash_a=ha,
                hash_b=hb,
            )
        except Exception as e:  # noqa: BLE001 — audit must survive any op
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
            rec["match"] = False
        results[key] = rec
        flag = "ok" if rec["match"] else "FLIP" if not rec["err"] else "ERR"
        print(f"[{i + 1}/{len(keys)}] {key}: {flag}", flush=True)

    apply(PASS_A)  # the session leaves with the layout it arrived with
    flips = sorted(k for k, r in results.items() if not r["match"] and not r["err"])
    errs = sorted(k for k, r in results.items() if r["err"])
    out = {
        "sf_dir": args.sf,
        "pass_a": PASS_A,
        "pass_b": PASS_B,
        "n_ops": len(keys),
        "n_match": sum(1 for r in results.values() if r["match"]),
        "flips": flips,
        "errors": errs,
        "elapsed_sec": round(time.time() - t_start, 1),
        "ops": results,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
    print(
        f"\n{out['n_match']}/{len(keys)} layout-invariant; "
        f"flips={flips or '[]'} errors={errs or '[]'} -> {args.out}"
    )
    return 1 if flips or errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
