"""Session defaults and the process-scoped scratch root (no Spark started)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _child_env(**extra: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env.update(extra)
    return env


def test_default_cpus_is_process_affinity():
    """With SPARK_GRAFT_CPUS unset, local mode gets one core (and one
    shuffle partition) per CPU the process may run on — narrowed here to
    a single CPU so the check cannot pass on the machine's count by
    accident."""
    code = (
        "import os\n"
        "os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})\n"
        "from sig_etl_spark import session\n"
        "print(session.DEFAULT_CPUS, session.DEFAULT_SHUFFLE_PARTITIONS,"
        " len(os.sched_getaffinity(0)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=_child_env(), capture_output=True,
        text=True, check=True, timeout=120,
    ).stdout.split()
    assert out == ["1", "1", "1"]


_SCRATCH_CHILD = """
import json, os, sys, tempfile
tmp = tempfile.gettempdir()
from sig_etl_spark.session import scratch_dir
made_at_import = [n for n in os.listdir(tmp) if n.startswith("sig_etl_")]
a = scratch_dir("stage", "fixtures/sf0.01")
print(json.dumps({
    "tmp": tmp,
    "made_at_import": made_at_import,
    "root": os.path.dirname(a),
    "root_exists": os.path.isdir(os.path.dirname(a)),
    "same": scratch_dir("stage", "fixtures/sf0.01") == a,
    "other_sf": scratch_dir("stage", "fixtures/sf0.1") != a,
    "unkeyed": os.path.dirname(scratch_dir("stage")) == os.path.dirname(a),
}), flush=True)
sys.stdin.read()  # stay alive until the parent has started both children
"""


def test_scratch_root_per_process_under_tmp_and_removed_at_exit(tmp_path):
    """Two live processes get disjoint roots under the temp dir (which
    TMPDIR moves), outside the checkout; the package makes none at import;
    a name is stable within a process and keyed by sf_dir; each root is
    gone once its process exits."""
    env = _child_env(TMPDIR=str(tmp_path))
    procs, reports = [], []
    for _ in range(2):
        # the second child starts while the first is alive and holds its root
        procs.append(subprocess.Popen(
            [sys.executable, "-c", _SCRATCH_CHILD], env=env, cwd=REPO,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        ))
        reports.append(json.loads(procs[-1].stdout.readline()))
    for p in procs:
        p.communicate("", timeout=120)
        assert p.returncode == 0
    first, second = (r["root"] for r in reports)
    assert first != second
    assert reports[0]["made_at_import"] == []
    assert reports[1]["made_at_import"] == [os.path.basename(first)]
    for r in reports:
        assert r["tmp"] == str(tmp_path)
        assert os.path.dirname(r["root"]) == r["tmp"]
        assert not r["root"].startswith(REPO + os.sep)
        assert r["root_exists"] and r["same"] and r["other_sf"] and r["unkeyed"]
        assert not os.path.exists(r["root"])
