#!/usr/bin/env python
"""Diff two wire-volume audit artifacts (docs/SHUFFLE_r0N.json) and flag
ops whose shuffle volume grew round-over-round — the SWEEP-diff pattern
applied to the shuffle axis, so a plan regression
that re-shuffles data it used to keep co-located is visible without
re-reading the raw inventories.

    python scripts/diff_shuffle.py docs/SHUFFLE_r09.json docs/SHUFFLE_r10.json
    python scripts/diff_shuffle.py --threshold 2 OLD NEW

Compares the union of the headline `ops` and the full-registry
`all_ops.ops` sections (either may be absent).  Flags: shuffle_bytes
grew >= threshold× (with a 64 KB floor so metadata-sized ops don't
alarm on noise), exchange-count changes, and broadcast_bytes grew >=
threshold× above the same floor.  Unlike wall-clock sweeps these
numbers are DETERMINISTIC per plan + fixture — any change is a plan or
fixture change, never host noise — so a hit here is a verdict, not a
prompt to re-measure.  Exit code 0 always; the round's notes quote the
summary.
"""

from __future__ import annotations

import argparse
import json

NOISE_FLOOR = 64 * 1024  # bytes; below this, growth ratios are meaningless


def _ops(doc: dict) -> dict:
    out = {}
    out.update((doc.get("all_ops") or {}).get("ops") or {})
    out.update(doc.get("ops") or {})  # headline wins on overlap
    return {k: v for k, v in out.items() if isinstance(v, dict) and "error" not in v}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=2.0)
    args = ap.parse_args()

    with open(args.old) as f:
        old = _ops(json.load(f))
    with open(args.new) as f:
        new = _ops(json.load(f))

    grew, exch, bcast = [], [], []
    for k in sorted(set(old) & set(new)):
        o, n = old[k], new[k]
        ob, nb = o.get("shuffle_bytes", 0), n.get("shuffle_bytes", 0)
        if nb >= max(ob * args.threshold, NOISE_FLOOR) and nb > ob:
            grew.append((nb / ob if ob else float("inf"), k, ob, nb))
        if o.get("exchanges") != n.get("exchanges"):
            exch.append((k, o.get("exchanges"), n.get("exchanges")))
        obb, nbb = o.get("broadcast_bytes", 0), n.get("broadcast_bytes", 0)
        if nbb >= max(obb * args.threshold, NOISE_FLOOR) and nbb > obb:
            bcast.append((nbb / obb if obb else float("inf"), k, obb, nbb))

    for r, k, ob, nb in sorted(grew, reverse=True):
        print(f"SHUFFLE GREW {r:6.2f}x  {k}: {ob/1e6:.2f} MB -> {nb/1e6:.2f} MB")
    for k, oe, ne in exch:
        print(f"EXCHANGES CHANGED      {k}: {oe} -> {ne}")
    for r, k, ob, nb in sorted(bcast, reverse=True):
        print(f"BROADCAST GREW {r:4.2f}x  {k}: {ob/1e6:.2f} MB -> {nb/1e6:.2f} MB")

    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    if added:
        print(f"added ({len(added)}):", ", ".join(added))
    if removed:
        print(f"removed ({len(removed)}):", ", ".join(removed))
    tot_o = sum(v.get("shuffle_bytes", 0) for v in old.values())
    tot_n = sum(v.get("shuffle_bytes", 0) for v in new.values())
    print(
        f"total shuffled: {tot_o/1e6:.1f} MB/{len(old)} ops -> "
        f"{tot_n/1e6:.1f} MB/{len(new)} ops; "
        f"{len(grew)} grew >{args.threshold}x, {len(exch)} exchange-count changes"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
