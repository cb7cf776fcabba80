"""Local emulation of the driver's correctness gate.

Runs every registered query on Spark AND its oracle SQL on DuckDB at
sf0.01, then compares:
  - row count
  - schema (sorted column names)
  - order-insensitive value hash (columns sorted by name, every cell
    canonicalized to a string, rows sorted, md5)

The cell canonicalization is strict (full float repr) — stricter than any
tolerance the real driver might use, so passing here should imply passing
there.

Usage: python tools/verify_local.py [--sf-dir DIR] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sig_etl_spark.queries import QUERIES, float_seam_lint
from sig_etl_spark.session import get_spark
from sig_etl_spark.tables import TABLE_NAMES


def canon_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NULL"
        # ROUND-8 HARDENING: integer-valued floats are NO LONGER collapsed
        # to int repr. The collapse masked the r5–r7 driver-red class
        # locally: DuckDB widens SUM(BIGINT) to HUGEINT, whose pandas
        # bridge is float64, so an uncast oracle aggregate hashed "1000"
        # here but "1000.0" at any strict external canonicalizer. With
        # full float repr, that dtype seam now fails LOCALLY too (and
        # tools/dtype_seam_scan.py catches it without executing).
        return repr(float(v))
    if isinstance(v, (pd.Timestamp,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(bool(v))
    if hasattr(v, "item"):  # numpy scalar
        return canon_cell(v.item())
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "\x01".join(canon_cell(v) for v in rec) for rec in df[cols].itertuples(index=False)
    )
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x02")
    return h.hexdigest()


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        # Driver testdata is a single file per table; Spark-written sets
        # (e.g. the local .testdata/sf1 scale point) are DIRECTORIES named
        # <t>.parquet — glob inside those for DuckDB.
        path = os.path.join(sf_dir, f"{t}.parquet")
        pat = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    return con


def check(spark, con, sf_dir: str, name: str) -> list[str]:
    """Run query ``name`` on Spark and its oracle SQL on ``con``; return
    the mismatches (row count, column names, value hash), empty when the
    two agree or the query has no oracle."""
    rq = QUERIES[name]
    try:
        sdf = rq.builder(spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        return [f"spark error: {e}"]
    if rq.oracle is None:
        return []
    try:
        odf = con.execute(rq.oracle).df()
    except Exception as e:  # noqa: BLE001
        return [f"duckdb error: {e}"]
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"schema spark={sorted(sdf.columns)} duck={sorted(odf.columns)}")
    if not problems and frame_hash(sdf) != frame_hash(odf):
        # show a diff sample
        cols = sorted(sdf.columns)
        s_rows = {
            "\x01".join(canon_cell(v) for v in rec)
            for rec in sdf[cols].itertuples(index=False)
        }
        o_rows = {
            "\x01".join(canon_cell(v) for v in rec)
            for rec in odf[cols].itertuples(index=False)
        }
        sample = [
            f"{side}: {r.replace(chr(1), ' | ')[:200]}"
            for side, rows in (("spark-only", s_rows - o_rows), ("duck-only", o_rows - s_rows))
            for r in list(rows)[:3]
        ]
        problems.append("\n        ".join(["value-hash mismatch", *sample]))
    return problems


def main() -> int:
    # Spark's Python workers see PYTHONPATH, not sys.path: export the
    # checkout before any session starts, so any working directory works.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    seams = float_seam_lint()
    if seams:
        for s in seams:
            print(f"SEAM-LINT  {s}")
        return 1

    # Cross-engine dtype-family scan (round 8): catches the HUGEINT/float64
    # bridge class (the r5–r7 driver reds) and any other repr-family
    # mismatch WITHOUT executing — plan/bind only (~2 min for the full
    # registry). Runs only on full verifies; single-name runs skip it.
    if not args.names:
        from tools.dtype_seam_scan import scan as dtype_scan

        mismatches = dtype_scan(args.sf_dir)
        if mismatches:
            for m in mismatches:
                print(f"DTYPE-SEAM  {m}")
            return 1

    spark = get_spark("verify_local")
    con = oracle_connection(args.sf_dir)

    from tools.dtype_seam_scan import EXPECTED_DIVERGENT

    names = args.names or list(QUERIES)
    failures = []
    for name in names:
        if name in EXPECTED_DIVERGENT:
            print(f"skip  {name}: deliberately-divergent seam probe")
            continue
        t0 = time.time()
        problems = check(spark, con, args.sf_dir, name)
        took = f"[{time.time() - t0:.1f}s]"
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} {took}")
            failures.append(name)
        elif QUERIES[name].oracle is None:
            print(f"rows  {name}: no oracle {took}")
        else:
            print(f"OK    {name}: {took}")

    print(f"\n{len(names)-len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
