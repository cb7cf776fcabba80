"""Benchmark entry point: one workload, one fresh Spark session, one client.

    python3 perfbench/run.py --workload sig_match --seed 1 --seconds 9 --trace 0

Run from the repository root. The run starts ``perfbench/worker.py`` in a
fresh process on ``local[<cpus in this process's affinity mask>]``, times
its set-up, samples the memory of its process tree, and prints, as the
last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones. A line
before it carries the run's details and fingerprint. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.spec import WORKLOADS  # noqa: E402

TIMEOUT_S = 170.0
# Read-only seed-42 fixtures (TESTDATA.md); the seed varies query order only.
FIXTURES = os.environ.get("PERFBENCH_FIXTURES", "/root/testdata")


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics, in the
    order BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# ---------------------------------------------------------------------------
# Fingerprint
# ---------------------------------------------------------------------------


def cpu_jiffies() -> tuple[int, int]:
    """(user, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[1]), int(parts[8])


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: the box's speed right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def versions() -> dict[str, str]:
    out = {}
    for mod in ("pyspark", "pyarrow", "duckdb"):
        try:
            out[mod] = __import__(mod).__version__
        except ImportError:
            out[mod] = "missing"
    return out


def source_sha() -> dict[str, str | None]:
    """Git sha when the checkout is a repository, and a hash of the sources
    the benchmark runs either way."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha1()
    for top in ("sig_etl_spark", "perfbench", "tools"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
            for name in sorted(files):
                if name.endswith((".py", ".json")):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return {"git_sha": sha, "source_sha1": h.hexdigest()}


# ---------------------------------------------------------------------------
# Process tree memory
# ---------------------------------------------------------------------------


_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


def process_tree(root: int) -> dict[int, float]:
    """pid -> RSS (MB) of ``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = int(fields[21]) * _PAGE_MB
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
    return tree


class MemorySampler(threading.Thread):
    """Peak summed RSS of a process tree (the driver's Python, its JVM and
    the JVM's Python workers) while ``recording`` is set, sampled every
    200 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0.0
        self.recording = False
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.2):
            if self.recording:
                self.peak = max(self.peak, sum(process_tree(self.pid).values()))

    def stop(self) -> None:
        self._halt.set()
        self.join(5)


def kill_tree(root: int) -> None:
    for pid in reversed(list(process_tree(root))):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def end_to_end(res: dict, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    # A failed operation has no time (NaN); it is already counted in
    # ``failed``, so the timings leave it out.
    steady = [{op: t for op, t in p.items() if math.isfinite(t)} for p in res["steady"]]
    cold = {op: t for op, t in res["cold"].items() if math.isfinite(t)}
    passes = [sum(p.values()) for p in steady]
    per_op = {}
    for op in res["cold"]:
        xs = [p[op] for p in steady if op in p]
        if xs:
            per_op[op] = statistics.median(xs)
    samples = [t for p in steady for t in p.values()]
    values = {
        "setup_s": setup_s,
        "cold_pass_s": sum(cold.values()),
        "pass_s": statistics.median(passes),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in per_op.values())),
        # A run has too few (operation, pass) samples for a percentile with
        # ten samples above it, so the tail is taken over operations: the
        # slowest operation's steady median.
        "query_tail_s": max(per_op.values()),
        "peak_memory_mb": peak_mb,
    }
    metrics = {name: (values[name], unit) for name, unit in metric_units("end_to_end").items()}
    details = {
        "steady_passes": len(steady),
        "pass_samples_s": [round(x, 4) for x in passes],
        "query_samples": len(samples),
        "query_median_s": {k: round(v, 4) for k, v in per_op.items()},
        "cold_query_s": {k: round(v, 4) for k, v in cold.items()},
    }
    return metrics, details


def per_layer(res: dict) -> dict:
    layers = res["layers"]
    metrics = {}
    for name, unit in metric_units("per_layer").items():
        if name == "session.start_s":
            v = res["session_start_s"]
        elif name == "trace.overhead_s":
            v = res["trace_overhead_s"]
        else:
            v = layers.get(name, 0.0)
        metrics[name] = (v, unit)
    return metrics


# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
    for need in ("sig_etl_spark/queries/__init__.py", "tools/verify_local.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"{need} not found under {ROOT}: run from a full checkout")
    sf_dir = os.path.join(FIXTURES, WORKLOADS[args.workload]["sf"])
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        return fail(f"fixtures not found in {sf_dir} (set PERFBENCH_FIXTURES)")

    cpus = len(os.sched_getaffinity(0))
    # Fixed width: the landing scan sends its file paths to the Python
    # workers, so a path one digit longer would change python.sent_mb.
    workdir = os.path.join(HERE, ".run", f"{os.getpid():08d}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        TMPDIR=os.path.join(workdir, "tmp"),
        # Every JVM of the run (spark-submit's launcher and the driver).
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
    )
    env.pop("SPARK_MASTER", None)

    calib_before = calibrate()
    jiffies0 = cpu_jiffies()
    t_spawn = time.perf_counter()
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--workdir", workdir, "--expected", os.path.join(HERE, "expected.json")],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
    )
    sampler = MemorySampler(child.pid)
    sampler.start()
    timer = threading.Timer(TIMEOUT_S, kill_tree, (child.pid,))
    timer.start()
    setup_s = None
    result = None
    try:
        for line in child.stdout:
            if not line.startswith("{"):
                continue
            msg = json.loads(line)
            if msg["event"] == "ready":
                setup_s = time.perf_counter() - t_spawn
            elif msg["event"] == "cold_pass":
                sampler.recording = True
            elif msg["event"] == "cold_done":
                sampler.recording = False
            elif msg["event"] == "result":
                result = msg
        rc = child.wait()
    finally:
        timer.cancel()
        sampler.stop()
        if child.poll() is None:
            kill_tree(child.pid)
            child.wait()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".run"))
        except OSError:
            pass
    jiffies1 = cpu_jiffies()
    calib_after = calibrate()
    if rc != 0 or result is None or setup_s is None:
        return fail(f"worker exited with code {rc} before reporting a result")

    du = jiffies1[0] - jiffies0[0]
    fingerprint = {
        "cpus": cpus,
        "steal_over_user": round((jiffies1[1] - jiffies0[1]) / du, 4) if du > 0 else None,
        "calibration_s": [round(calib_before, 4), round(calib_after, 4)],
        "versions": versions(),
        **source_sha(),
    }
    if args.trace:
        metrics = per_layer(result)
        details = {"traced_pass_s": result["traced_pass_s"],
                   "plain_pass_s": result["plain_pass_s"]}
    else:
        # The peak of the cold pass: every run starts it from the same fresh
        # JVM, while the heap a steady pass starts from depends on the GC
        # timing of the passes before it.
        metrics, details = end_to_end(result, setup_s, sampler.peak)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "fixtures": sf_dir, "fingerprint": fingerprint, "details": details,
        "checks": result["checks"], "errors": result["errors"],
    }))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
