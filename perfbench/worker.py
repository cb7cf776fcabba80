"""One benchmark run inside one fresh Spark session (started by run.py).

Protocol: JSON lines on stdout. ``{"event": "ready"}`` once the session is
up and the JVM and Python workers are warm, ``{"event": "cold_pass"}`` and
``{"event": "cold_done"}`` around the cold pass, and
``{"event": "result", ...}`` last. Spark's own logging goes to
stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import statistics
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as tr  # noqa: E402
from perfbench.spec import LAYER_PREFIXES, WORKLOADS  # noqa: E402
from perfbench.workloads import builder  # noqa: E402
from sig_etl_spark.session import get_spark  # noqa: E402
from tools.verify_local import frame_hash  # noqa: E402


def emit(event: str, **fields) -> None:
    print(json.dumps({"event": event, **fields}), flush=True)


def warm_python_workers(spark) -> None:
    """Start one Python worker per core, so the first Arrow UDF of the
    first pass pays no worker spawn."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(x):
        return x.astype("float64")

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 100, 1, n).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()


class Runner:
    def __init__(self, spark, workload: str, workdir: str, tracer: tr.Tracer | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.ops = WORKLOADS[workload]["ops"]
        self.sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
        self.workdir = workdir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_op(self, tag: str, name: str, traced: bool, collect: bool):
        """Build and force one operation; return (build seconds, action
        seconds, collected output, layer record). The action is a ``noop``
        write, or with ``collect`` a ``toPandas()`` whose result is returned
        for the output check."""
        group = f"perfbench:{tag}:{name}"
        self.sc.setJobGroup(group, f"{self.workload} {name} ({tag})")
        tracer = self.tracer if traced else None
        self.attempted += 1
        try:
            if tracer is not None:
                first_execution = tr.sql_execution_count(self.spark)
                tracer.begin_build()
            t0 = time.perf_counter()
            df = builder(name)(self.spark, self.sf_dir, self.workdir)
            t1 = time.perf_counter()
            rec = None
            if tracer is not None:
                tracer.end_build()
                rec = {"build_self_s": t1 - t0 - tracer.top_s, "py4j": tracer.py4j_calls,
                       "spans": list(tracer.spans)}
                rec.update(tr.plan_phases(df))
            action_ms = time.time() * 1000.0
            t2 = time.perf_counter()
            if collect:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            if tracer is not None:
                tracer.end_build()
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return math.nan, math.nan, None, None
        finally:
            self.spark.catalog.clearCache()
        if rec is not None:
            tr.drain_listener_bus(self.spark)
            stats, rec["build_job_ms"], build_exec_s = tr.job_stats(self.spark, group, action_ms)
            stats.update(tr.python_stats(self.spark, first_execution))
            rec["stats"] = stats
            rec["exec_s"] = (t3 - t2) + build_exec_s
        return t1 - t0, t3 - t2, out, rec

    def run_pass(self, tag: str, order: list[str], traced: bool, collect: bool = False):
        """Run every operation once; return (times, build times, collected
        outputs, layer records)."""
        times: dict[str, float] = {}
        builds: dict[str, float] = {}
        outputs: dict[str, object] = {}
        recs: dict[str, dict] = {}
        for name in order:
            builds[name], action_s, outputs[name], rec = self.run_op(tag, name, traced, collect)
            times[name] = builds[name] + action_s
            if rec is not None:
                recs[name] = rec
        # Outside the timed region: collect garbage on both sides, so no pass
        # inherits the previous one's GC debt.
        gc.collect()
        self.spark._jvm.System.gc()
        return times, builds, outputs, recs

    def check(self, outputs: dict, expected: dict) -> list[dict]:
        """Row count and order-insensitive value hash of every collected
        output, against the expected values."""
        out = []
        for name, pdf in outputs.items():
            self.attempted += 1
            try:
                if pdf is None:
                    raise RuntimeError("the operation failed")
                rows, digest = len(pdf), frame_hash(pdf)
            except Exception as e:  # noqa: BLE001
                self.failed += 1
                self.errors.append(f"check {name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            want = expected.get(name)
            ok = want is not None and want["rows"] == rows and want["hash"] == digest
            if not ok:
                self.failed += 1
                self.errors.append(f"check {name}: rows={rows} hash={digest} expected={want}")
            out.append({"op": name, "rows": rows, "ok": ok})
        return out


def layer_totals(recs: dict[str, dict], cores: int) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    m: dict[str, float] = defaultdict(float)
    for rec in recs.values():
        stats = rec["stats"]
        m["build.s"] += rec["build_self_s"]
        m["build.py4j_calls"] += rec["py4j"]
        m["exec.s"] += rec["exec_s"]
        for phase in ("analysis", "optimization", "planning"):
            m[f"plan.{phase}_s"] += rec[f"plan.{phase}_s"]
        for k, v in stats.items():
            m[k] += v
        spans = rec["spans"]
        # Jobs run while building, by the innermost layer active at submission.
        for sub_ms in rec["build_job_ms"]:
            m[f"{tr.layer_at(spans, sub_ms)}.jobs"] += 1
        # An operation belongs to the family of every layer its builder
        # called; its execution time counts for each of them.
        for layer in {s.layer for s in spans}:
            m[f"{layer}.exec_s"] += rec["exec_s"]
    m["exec.core_util"] = m["exec.task_run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    return m


def tracing_overhead(traced: list[dict], plain: list[dict]) -> float:
    """Sum over operations of the median traced build time minus the median
    plain one. Tracing acts only while a builder runs (the wrappers and the
    py4j counter); the status-store reads come after the timed region. So
    the builds carry all of its cost, without the action's noise."""
    total = 0.0
    for op in traced[0]:
        t = [p[op] for p in traced if math.isfinite(p[op])]
        u = [p[op] for p in plain if math.isfinite(p[op])]
        if t and u:
            total += statistics.median(t) - statistics.median(u)
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--expected", required=True)
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))

    tracer = None
    if args.trace:
        tracer = tr.Tracer()
        tracer.install()

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    emit("ready")

    if tracer is not None:
        tracer.count_py4j(spark)
    runner = Runner(spark, args.workload, args.workdir, tracer)
    rng = random.Random(args.seed)

    def order() -> list[str]:
        return rng.sample(runner.ops, len(runner.ops))

    # The cold pass runs in the workload's own order: which operation comes
    # first decides who pays the session's first-use costs, and a user's
    # job has one fixed order.
    # Its action collects each output to the driver; the output check
    # hashes those outputs outside the timed region.
    emit("cold_pass")
    cold, _, outputs, _ = runner.run_pass("cold", runner.ops, traced=False, collect=True)
    emit("cold_done")
    with open(args.expected) as f:
        checks = runner.check(outputs, json.load(f)[args.workload])
    del outputs
    steady: list[dict[str, float]] = []
    traced_totals: list[float] = []
    plain_totals: list[float] = []
    traced_builds: list[dict[str, float]] = []
    plain_builds: list[dict[str, float]] = []
    layer_passes: list[dict[str, float]] = []
    t_start = time.perf_counter()
    i = 0
    # Steady passes until --seconds have passed. Traced runs alternate
    # traced and plain passes, at least one of each, so the tracing overhead
    # is measured inside one session; traced goes first, so warm-up left
    # over counts against the tracing, not for it.
    min_passes = 2 if tracer is not None else 1
    while True:
        traced = tracer is not None and i % 2 == 0
        times, builds, _, recs = runner.run_pass(f"p{i}", order(), traced)
        (traced_totals if traced else plain_totals).append(
            sum(t for t in times.values() if math.isfinite(t))
        )
        (traced_builds if traced else plain_builds).append(builds)
        if traced:
            layer_passes.append(layer_totals(recs, cores))
            for layer in LAYER_PREFIXES.values():
                layer_passes[-1][f"{layer}.calls"] = tracer.calls.pop(layer, 0)
                layer_passes[-1][f"{layer}.s"] = tracer.self_s.pop(layer, 0.0)
        else:
            steady.append(times)
        i += 1
        if i >= min_passes and time.perf_counter() - t_start >= args.seconds:
            break

    result = {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
        "checks": checks,
        "cold": cold,
        "steady": steady,
        "cores": cores,
        "session_start_s": session_start_s,
    }
    if tracer is not None:
        result["layers"] = {
            k: statistics.median(p.get(k, 0.0) for p in layer_passes)
            for k in sorted({k for p in layer_passes for k in p})
        }
        result["traced_pass_s"] = statistics.median(traced_totals)
        result["plain_pass_s"] = statistics.median(plain_totals)
        result["trace_overhead_s"] = tracing_overhead(traced_builds, plain_builds)
    emit("result", **result)
    # The JVM exits when its stdin closes; wait for it so no process
    # outlives the run.
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
