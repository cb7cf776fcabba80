"""The benchmark's own checks (not part of the repository's tier-1 suite).

    python3 -m pytest perfbench/test_repeatability.py -q

Two traced runs with one seed must report identical work counts, so a
later change may rest a count claim on them. A count that stops repeating
must be taken out of ``REPEATED`` and marked inexact in BENCHMARK.json
(an ``_inexact`` suffix on its name). Each traced run takes one to two minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import metric_units  # noqa: E402
from perfbench.spec import WORKLOADS  # noqa: E402

REPEATED = [
    "build.jobs",
    "build.py4j_calls",
    "tables.calls",
    "tables.jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "python.sent_mb",
]


def run(workload: str, seed: int, trace: int, seconds: int = 12) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_counts_repeat(workload):
    a, b = run(workload, 7, 1), run(workload, 7, 1)
    assert a["correct"] and b["correct"]
    assert set(a["metrics"]) == set(metric_units("per_layer"))
    for name in REPEATED:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
    # Layers a workload bypasses must read zero on it.
    if workload == "sql_analytics":
        for name in ("python.boot_s", "python.run_s", "python.sent_mb"):
            assert a["metrics"][name]["value"] == 0, name
    if workload != "sig_match":
        assert a["metrics"]["linkage.calls"]["value"] == 0

