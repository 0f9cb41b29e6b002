#!/usr/bin/env python
"""Diff two full-sweep bench artifacts (docs/SWEEP_r0N.json) and print
per-op regressions/improvements, so a tail regression in an unbenched op
is visible round-over-round without re-reading BASELINE.md prose.

    python scripts/diff_sweep.py docs/SWEEP_r05.json docs/SWEEP_r06.json
    python scripts/diff_sweep.py --threshold 1.5 OLD NEW

Prints ops whose time changed by more than --threshold× in either
direction, then the totals.  Exit code 0 always — the sweep is
deliberately single-pass and unguarded, so a ratio here is a prompt to
re-measure with bench.py's steal-guarded min-of-N, not a verdict.
"""

from __future__ import annotations

import argparse
import json


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    with open(args.old) as f:
        old = json.load(f)
    with open(args.new) as f:
        new = json.load(f)
    oq, nq = old.get("queries", {}), new.get("queries", {})

    slower, faster = [], []
    for k, nv in sorted(nq.items()):
        ov = oq.get(k)
        if ov is None or ov <= 0:
            continue
        r = nv / ov
        if r >= args.threshold:
            slower.append((r, k, ov, nv))
        elif r <= 1.0 / args.threshold:
            faster.append((r, k, ov, nv))

    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))

    for r, k, ov, nv in sorted(slower, reverse=True):
        print(f"SLOWER {r:5.2f}x  {k}: {ov:.2f}s -> {nv:.2f}s")
    for r, k, ov, nv in sorted(faster):
        print(f"faster {r:5.2f}x  {k}: {ov:.2f}s -> {nv:.2f}s")
    if added:
        print(f"added ({len(added)}):", ", ".join(added))
    if removed:
        print(f"removed ({len(removed)}):", ", ".join(removed))
    print(
        f"total: {old.get('value')}s/{len(oq)} ops -> "
        f"{new.get('value')}s/{len(nq)} ops; "
        f"{len(slower)} over {args.threshold}x slower, {len(faster)} faster"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
