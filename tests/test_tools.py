"""Command-line tools run from outside the checkout."""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_verify_local_runs_from_any_working_directory(sf_dir, tmp_path):
    """llm_ann_recall runs library code in Spark's Python workers, which
    import sig_etl_spark through PYTHONPATH, not the calling process's sys.path:
    the tool must export the checkout itself, not rely on the working
    directory (the query fails with ModuleNotFoundError otherwise). A
    sig_etl_spark in the working directory must not shadow the checkout
    in those workers either."""
    shadow = tmp_path / "sig_etl_spark"
    shadow.mkdir()
    (shadow / "__init__.py").write_text('raise ImportError("shadow")\n')
    env = dict(os.environ)
    inherited = env.pop("PYTHONPATH", "").split(os.pathsep)
    kept = [p for p in inherited if p and os.path.abspath(p) != REPO]
    if kept:
        env["PYTHONPATH"] = os.pathsep.join(kept)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_local.py"),
         "--sf-dir", sf_dir, "llm_ann_recall"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert re.search(r"^OK +llm_ann_recall:", proc.stdout, re.M), proc.stdout
