"""Scale-growth report: sf0.1 -> sf1 per-query ratio table.

Computes the table of rows that grow faster than the data from two
bench.py sweeps (BENCH_FULL files) at two scale factors:

- growth ratio = sf1_seconds / sf0.1_seconds on a 10x data step. A
  scale-linear operator shows <= ~10x; fixed-overhead-dominated rows
  show ~1x; anything materially ABOVE 10x is super-linear and needs an
  explanation (or is a labeled contrast row).
- sub-second sf0.1 rows are ratio-unstable (the ratio divides by
  noise); they are only flagged when the sf1 side ALSO exceeds an
  absolute floor, and the report says which rule fired.

Usage:
    python tools/bench_scale_report.py BENCH_FULL_sf0.1.json BENCH_FULL_sf1.json
        [--super 10.0] [--abs-floor 5.0] [--markdown]

Exit code is always 0 — a report, not a gate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("small", help="sf0.1 BENCH_FULL json")
    ap.add_argument("large", help="sf1 BENCH_FULL json")
    ap.add_argument("--super", dest="super_", type=float, default=10.0,
                    help="growth ratio above which a row is super-linear"
                         " (data step is 10x)")
    ap.add_argument("--abs-floor", type=float, default=5.0,
                    help="ignore rows whose sf1 time is below this (sec)")
    ap.add_argument("--markdown", action="store_true",
                    help="emit a BASELINE.md-ready table")
    args = ap.parse_args()

    s, l = load(args.small), load(args.large)
    sq, lq = s["queries"], l["queries"]
    excluded = l.get("excluded", [])

    try:
        from sig_etl_spark.queries import QUERIES

        contrast = {n for n, rq in QUERIES.items() if "CONTRAST ROW" in rq.doc}
    except Exception:
        contrast = set()

    both = sorted(set(sq) & set(lq))
    rows = []
    for n in both:
        a, b = float(sq[n]), float(lq[n])
        ratio = b / a if a > 0 else float("inf")
        rows.append((ratio, a, b, n))
    rows.sort(reverse=True)

    print(f"# shared rows: {len(both)}; sf1-only: {sorted(set(lq) - set(sq))}")
    print(f"# sf1 exclusions (recorded in the bench file): {excluded}")
    print(f"# totals: sf0.1 {sum(map(float, sq.values())):.1f}s"
          f" -> sf1 {sum(map(float, lq.values())):.1f}s on shared+new rows")

    flagged = [
        (r, a, b, n) for r, a, b, n in rows
        if r > args.super_ and b >= args.abs_floor
    ]
    if args.markdown:
        print(f"\n| query | sf0.1 s | sf1 s | growth (10x data) | note |")
        print("|---|---|---|---|---|")
        for r, a, b, n in flagged:
            note = "CONTRAST ROW (labeled demo)" if n in contrast else ""
            print(f"| `{n}` | {a:.2f} | {b:.2f} | {r:.1f}x | {note} |")
    else:
        for r, a, b, n in flagged:
            tag = "  [CONTRAST ROW]" if n in contrast else ""
            print(f"SUPER-LINEAR  {n}: {a:.2f}s -> {b:.2f}s ({r:.1f}x){tag}")
        print(f"{len(flagged)} rows above {args.super_:.1f}x growth"
              f" (sf1 >= {args.abs_floor:.1f}s)")
        # distribution summary for the round notes
        import statistics

        ratios = [r for r, a, b, n in rows if a >= 0.5]
        if ratios:
            print(f"# growth over rows with sf0.1 >= 0.5s: median"
                  f" {statistics.median(ratios):.2f}x, p90"
                  f" {sorted(ratios)[int(0.9 * len(ratios))]:.2f}x,"
                  f" max {max(ratios):.2f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
