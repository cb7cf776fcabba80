"""Fixed costs that a plan run again in the same session must not pay again.

- Generated code: the session's codegen class cache holds more than one
  pass of a workload, so running the same plans a second time compiles no
  whole-stage-codegen class (Spark's default cache of 100 entries thrashes
  on a pass that generates more).
- Driver-side literal rows: ``session.local_frame`` builds a local
  relation, so reading it runs no Spark job and starts no Python worker.
"""

from __future__ import annotations

import ast
import os
import uuid

from pyspark.sql.types import StructType

from sig_etl_spark.queries import QUERIES
from sig_etl_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Registered JVM queries that together generate about 160 classes at
# sf0.001: more than Spark's default codegen cache holds.
_REUSE_SET = (
    "pipeline_e2e_ratings",
    "orders_rfm_segmentation",
    "vsdb_election_candidates",
    "llm_bpe_train",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_compiles_no_codegen_class(spark, sf_dir):
    def run_pass() -> int:
        before = _compiles(spark)
        for name in _REUSE_SET:
            df = QUERIES[name].builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    first = run_pass()
    assert run_pass() == 0, f"the second pass recompiled (first pass: {first})"


def _jobs_run_by(spark, action):
    """``action()``'s result and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"local_frame_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


_SCHEMA = "id bigint, big bigint, name string, centroid array<double>"
_ROWS = [
    (None, 2**63 - 1, "Zoë – 東京 🙂", [0.1, -1.5e300, 1 / 3]),
    (1, -(2**63), "", []),
]


def test_local_frame_is_a_local_scan_that_runs_no_job(spark):
    for rows in (_ROWS, []):
        df = local_frame(spark, rows, _SCHEMA)
        assert df._jdf.queryExecution().sparkPlan().nodeName() == "LocalTableScan"
        got, jobs = _jobs_run_by(spark, df.collect)
        assert jobs == []
        assert df.schema == StructType.fromDDL(_SCHEMA)
        assert [tuple(r) for r in got] == rows


def test_create_data_frame_only_inside_local_frame():
    """Every literal frame in the library goes through the helper."""
    hits = set()
    for dirpath, _, files in os.walk(os.path.join(REPO, "sig_etl_spark")):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    for i, line in enumerate(fh, 1):
                        if "createDataFrame(" in line:
                            hits.add((os.path.relpath(path, REPO), i))
    session_py = os.path.join(REPO, "sig_etl_spark", "session.py")
    with open(session_py, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    helper = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    inside = {
        (os.path.join("sig_etl_spark", "session.py"), i)
        for i in range(helper.lineno, helper.end_lineno + 1)
    }
    assert hits and hits <= inside, sorted(hits - inside)
