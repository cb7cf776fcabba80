"""The RFM quartile-boundary helper and the RFM builder's driver-side work.

``_discrete_boundaries`` must pick the exact type-1 (inverse-CDF)
boundary of every alias in one plan; numpy's ``inverted_cdf`` quantile is
the reference. The quantile fractions use power-of-two denominators so
numpy's float ``q`` is exact and both sides rank the same element.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd

from sig_etl_spark.queries import QUERIES
from sig_etl_spark.queries.relational import _discrete_boundaries

# 64 rows, one column per case:
# - a (bin width 10): value 0, and 20 ties on each side of the 9|10 bin edge;
# - b (bin width 8): 0..63, so 1/64 falls in the first bin, 15/16 in the last;
# - c (bin width 3): a single distinct value.
_COLS = {
    "a": [0] * 4 + [9] * 20 + [10] * 20 + list(range(11, 31)),
    "b": list(range(64)),
    "c": [5] * 64,
}
_METRICS = [
    ("a", 10, [(1, 16), (1, 4), (3, 8), (1, 2), (3, 4), (1, 1)]),
    ("b", 8, [(1, 64), (1, 4), (1, 2), (15, 16), (1, 1)]),
    ("c", 3, [(1, 4), (1, 2), (3, 4)]),
]


def test_discrete_boundaries_match_numpy_inverted_cdf(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({k: rng.permutation(v) for k, v in _COLS.items()})
    metrics = [
        (col, width, [(f"{col}_{n}_{d}", n, d) for n, d in qs])
        for col, width, qs in _METRICS
    ]
    row = _discrete_boundaries(spark.createDataFrame(pdf), metrics).collect()
    assert len(row) == 1
    got = row[0].asDict()
    want = {
        alias: int(np.quantile(pdf[col], n / d, method="inverted_cdf"))
        for col, _, qs in metrics
        for alias, n, d in qs
    }
    assert got == want
    # The cases the data is built for.
    assert got["a_1_16"] == 0 and got["a_1_4"] == 9 and got["a_1_2"] == 10
    assert got["b_1_64"] == 0 and got["b_15_16"] == 59
    assert {got["c_1_4"], got["c_1_2"], got["c_3_4"]} == {5}


def _build_actions(spark, build) -> int:
    """Spark actions ``build()`` runs: the SQL executions its jobs belong
    to, plus any job run outside one (such as a schema-inference scan).
    Adaptive execution splits one action into several jobs, one per
    shuffle stage; those count once, as the action they belong to."""
    sc = spark.sparkContext
    group = f"build_actions_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    sql = spark._jsparkSession.sharedState().statusStore()
    recent = sql.executionsList(max(0, sql.executionsCount() - 64), 64)
    actions = 0
    for i in range(recent.size()):
        keys = recent.apply(i).jobs().keys().toSeq()
        ids = {keys.apply(k) for k in range(keys.size())}
        if ids & jobs:
            actions += 1
            jobs -= ids
    return actions + len(jobs)


def test_rfm_builder_runs_only_the_rollup_checkpoint(spark, sf_dir):
    builder = QUERIES["orders_rfm_segmentation"].builder
    assert _build_actions(spark, lambda: builder(spark, sf_dir)) <= 1


def test_rfm_plan_scans_no_python_rdd(spark, sf_dir):
    """The quartile targets are a local relation: the only RDD the RFM
    plan scans is the rollup checkpoint, never a Python-worker RDD."""
    df = QUERIES["orders_rfm_segmentation"].builder(spark, sf_dir)
    nodes, rdd_scans = [df._jdf.queryExecution().sparkPlan()], []
    while nodes:
        node = nodes.pop()
        if node.getClass().getSimpleName() == "RDDScanExec":
            rdd_scans.append(node.rdd().toDebugString())
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    assert rdd_scans
    assert not [s for s in rdd_scans if "PythonRDD" in s]
