"""Regenerate perfbench/expected.json: row count and order-insensitive value
hash of every benchmark operation on its workload's fixture.

    python3 perfbench/make_expected.py

Where the operation has a DuckDB oracle the expected values come from the
oracle, and the Spark output must agree with it or the script fails. An
operation without an oracle would get its values from Spark, marked
``"source": "spark"``, to be reviewed by hand. Every current operation
has an oracle.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

import duckdb  # noqa: E402

from perfbench.run import FIXTURES  # noqa: E402
from perfbench.spec import WORKLOADS  # noqa: E402
from perfbench.workloads import builder, oracle_sql  # noqa: E402
from sig_etl_spark.session import get_spark  # noqa: E402
from sig_etl_spark.tables import TABLE_NAMES  # noqa: E402
from tools.verify_local import frame_hash  # noqa: E402


def main() -> int:
    spark = get_spark("perfbench_expected")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    bad = []
    with tempfile.TemporaryDirectory() as workdir:
        for wname, spec in WORKLOADS.items():
            sf_dir = os.path.join(FIXTURES, spec["sf"])
            con = duckdb.connect()
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            out[wname] = {}
            for op in spec["ops"]:
                sdf = builder(op)(spark, sf_dir, workdir).toPandas()
                got = {"rows": len(sdf), "hash": frame_hash(sdf)}
                sql = oracle_sql(op)
                if sql is None:
                    out[wname][op] = {**got, "source": "spark"}
                else:
                    odf = con.execute(sql).df()
                    want = {"rows": len(odf), "hash": frame_hash(odf)}
                    out[wname][op] = {**want, "source": "duckdb"}
                    if want != got:
                        bad.append(f"{wname}/{op}: spark {got} != duckdb {want}")
                print(f"{wname}/{op}: {out[wname][op]}", flush=True)
    spark.stop()
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    for b in bad:
        print(f"MISMATCH {b}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
