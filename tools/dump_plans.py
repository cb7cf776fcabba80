"""Dump ``explain("formatted")`` for registered queries to files.

Usage: python tools/dump_plans.py OUTDIR [--suffix SUF] [name ...]

Writes ``OUTDIR/<name>_<SUF>.txt`` per query (default suffix ``after``),
so the plans of two trees (``--suffix before`` / ``after``) can be diffed
as text without rerunning Spark.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sig_etl_spark.queries import QUERIES  # noqa: E402
from sig_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    os.makedirs(args.outdir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.names or list(QUERIES):
        df = QUERIES[name].builder(spark, args.sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
