"""Per-query diff of two bench.py sweeps.

bench.py persists the full per-query JSON (BENCH_FULL_latest_c<cpus>.json,
or $SPARK_GRAFT_BENCH_OUT); this tool diffs two such files and prints the
rows that moved, with the box-noise discipline built in:

- sub-second rows are never flagged (this box swings ±60% on them);
- a row is a REGRESSION candidate only if it moved >1.5x AND >1s
  absolute — anything else is reported as noise-band movement;
- known contrast rows (doc says "CONTRAST ROW") are labeled so a reader
  doesn't mistake a deliberately-slow demo for a defect.

Usage: python tools/bench_diff.py OLD.json NEW.json [--threshold 1.5]
Exit code is always 0 — this is a report, not a gate; plan guards in
tests/test_plans.py are the regression GATE.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load(path: str) -> dict[str, float]:
    with open(path) as f:
        d = json.load(f)
    q = d.get("queries")
    if not isinstance(q, dict):
        raise SystemExit(f"{path}: no 'queries' dict (is this a BENCH_FULL file?)")
    return {k: float(v) for k, v in q.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--abs-floor", type=float, default=1.0,
                    help="ignore moves smaller than this many seconds")
    args = ap.parse_args()

    old, new = load(args.old), load(args.new)
    try:
        from sig_etl_spark.queries import QUERIES

        contrast = {n for n, rq in QUERIES.items() if "CONTRAST ROW" in rq.doc}
    except Exception:  # registry unavailable (e.g. diffing on a bare checkout)
        contrast = set()

    both = sorted(set(old) & set(new))
    gone = sorted(set(old) - set(new))
    fresh = sorted(set(new) - set(old))
    print(f"# {len(both)} shared rows, {len(fresh)} new, {len(gone)} removed")
    print(f"# totals: old {sum(old.values()):.1f}s ({len(old)} rows) -> "
          f"new {sum(new.values()):.1f}s ({len(new)} rows)")

    regressions, improvements, noise = [], [], []
    for name in both:
        o, n = old[name], new[name]
        if max(o, n) < 1.0:
            continue  # sub-second: inside box noise by policy
        ratio = n / o if o > 0 else float("inf")
        delta = n - o
        row = (name, o, n, ratio)
        if ratio >= args.threshold and delta >= args.abs_floor:
            regressions.append(row)
        elif ratio <= 1 / args.threshold and -delta >= args.abs_floor:
            improvements.append(row)
        elif abs(delta) >= args.abs_floor:
            noise.append(row)

    def show(title, rows, key):
        if not rows:
            return
        print(f"\n## {title}")
        for name, o, n, r in sorted(rows, key=key):
            tag = "  [CONTRAST ROW — deliberate demo]" if name in contrast else ""
            print(f"  {name}: {o:.2f}s -> {n:.2f}s ({r:.2f}x){tag}")

    show("regression candidates (>1.5x and >1s — check the plan guard first)",
         regressions, key=lambda t: -t[3])
    show("improvements", improvements, key=lambda t: t[3])
    show("moved inside the noise band (<1.5x but >1s)", noise,
         key=lambda t: -abs(t[2] - t[1]))
    if fresh:
        print(f"\n## new rows\n  " + ", ".join(fresh))
    if gone:
        print(f"\n## removed rows\n  " + ", ".join(gone))
    return 0


if __name__ == "__main__":
    sys.exit(main())
