"""Per-layer tracing for the benchmark, done entirely from the outside.

Nothing in ``sig_etl_spark`` knows about this module. ``Tracer.install``
wraps every public function (and every public method of a public class)
that the library's layer modules define, and rebinds the wrappers in
every loaded ``sig_etl_spark`` module, so calls made from query builders
and from inside the library both pass through them. A wrapper records a
span; a span's self time is its duration minus the spans nested in it,
and a call into the layer already on top of the stack is folded into
that span (nested calls count once).

Spark-side numbers come from the SparkContext's status store after each
operation: jobs, stages, tasks, task CPU/run/GC time, shuffle, spill and
output bytes per stage, and the Python worker SQL metrics of the
operation's SQL executions. Catalyst phase times come from the
operation's own ``QueryExecution.tracker()``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import time
from collections import defaultdict

from perfbench.spec import LAYER_PREFIXES

# SQL metrics of the Python-evaluating plan nodes (PythonSQLMetrics).
_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
}
# Units of SQLMetrics' formatted values, scaled to seconds and MiB.
_UNIT = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0 / 1024**2, "KiB": 1.0 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2}

_MB = 1024.0 * 1024.0
_PY4J_MEMORY = "m\n"


def _layer_of(module_name: str) -> str | None:
    best = None
    for prefix, layer in LAYER_PREFIXES.items():
        if module_name == prefix or module_name.startswith(prefix + "."):
            if best is None or len(prefix) > len(best[0]):
                best = (prefix, layer)
    return best[1] if best else None


class _Span:
    __slots__ = ("layer", "t0", "wall0_ms", "wall1_ms", "child")

    def __init__(self, layer: str):
        self.layer = layer
        self.t0 = time.perf_counter()
        self.wall0_ms = time.time() * 1000.0
        self.wall1_ms = 0.0
        self.child = 0.0


class Tracer:
    """Collects spans and py4j call counts while a build runs (``active``)."""

    def __init__(self):
        self.active = False
        self.stack: list[_Span] = []
        self.spans: list[_Span] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self.py4j_calls = 0
        self.top_s = 0.0  # time in spans called directly by the builder

    # -- installation -------------------------------------------------------

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer.stack
            if not tracer.active or (stack and stack[-1].layer == layer):
                return fn(*args, **kwargs)
            span = _Span(layer)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                dur = time.perf_counter() - span.t0
                span.wall1_ms = time.time() * 1000.0
                tracer.calls[layer] += 1
                tracer.self_s[layer] += dur - span.child
                if stack:
                    stack[-1].child += dur
                else:
                    tracer.top_s += dur
                tracer.spans.append(span)

        return traced

    def install(self) -> None:
        """Wrap the layer modules' public callables. Builders that import a
        layer module inside their body would miss the wrappers if it were
        imported later, so every layer module is imported first."""
        for prefix in LAYER_PREFIXES:
            pkg = importlib.import_module(prefix)
            for info in pkgutil.walk_packages(getattr(pkg, "__path__", []), prefix + "."):
                importlib.import_module(info.name)
        replaced: dict[int, object] = {}
        mods = [m for n, m in list(sys.modules.items())
                if n.startswith(("sig_etl_spark", "perfbench")) and m is not None]
        for mod in mods:
            layer = _layer_of(mod.__name__)
            if layer is None:
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                    wrapped = self._wrap(obj, layer)
                    replaced[id(obj)] = (obj, wrapped)
                    setattr(mod, name, wrapped)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(meth):
                            setattr(obj, mname, self._wrap(meth, layer))
        # Rebind names imported elsewhere (package re-exports, query modules,
        # cross-module imports inside the library, the benchmark's own ops).
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                hit = replaced.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])

    def count_py4j(self, spark) -> None:
        """Count round trips on the session's py4j client while a build runs."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(command, *args, **kwargs):
            # Memory commands are py4j's garbage collection of Python-side
            # proxies; their timing follows the Python GC, not the builder.
            if tracer.active and not command.startswith(_PY4J_MEMORY):
                tracer.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    # -- per-operation bookkeeping -----------------------------------------

    def begin_build(self) -> None:
        self.spans.clear()
        self.py4j_calls = 0
        self.top_s = 0.0
        self.active = True

    def end_build(self) -> None:
        self.active = False


def layer_at(spans: list[_Span], wall_ms: float) -> str:
    """Innermost traced layer whose span covered ``wall_ms``; else build."""
    best = None
    for s in spans:
        if s.wall0_ms <= wall_ms <= s.wall1_ms and (best is None or s.wall0_ms >= best.wall0_ms):
            best = s
    return best.layer if best is not None else "build"


# ---------------------------------------------------------------------------
# Status-store readers
# ---------------------------------------------------------------------------


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def job_stats(spark, group: str, action_start_ms: float) -> tuple[dict, list[float], float]:
    """Aggregate the status-store records of every job of one operation's
    job group. Also return the submission times (ms) of the jobs run while
    the query was being built, and the wall time (s) those jobs covered.

    Jobs submitted before ``action_start_ms`` ran during the build: stage
    checkpoints, driver-side collects. The stage totals (tasks, CPU,
    shuffle, output...) cover the build's jobs and the action's alike.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    out = defaultdict(float)
    build_jobs: list[float] = []
    build_spans: list[tuple[float, float]] = []
    seen_stages: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        sub = _opt(job.submissionTime())
        sub_ms = float(sub.getTime()) if sub is not None else action_start_ms
        out["exec.jobs"] += 1
        if sub_ms < action_start_ms:
            build_jobs.append(sub_ms)
            done = _opt(job.completionTime())
            if done is not None:
                build_spans.append((sub_ms, float(done.getTime())))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen_stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never submitted
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            seen_stages.add(sid)
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["exec.failed_tasks"] += st.numFailedTasks()
            out["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.task_run_s"] += st.executorRunTime() / 1000.0
            out["exec.jvm_gc_s"] += st.jvmGcTime() / 1000.0
            out["exec.shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["exec.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
            out["exec.output_mb"] += st.outputBytes() / _MB
    return out, build_jobs, _covered_s(build_spans)


def _covered_s(spans: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of (start ms, end ms) intervals: a job
    that runs inside another (a broadcast under a write) counts once."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def sql_execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric, e.g. 'total (min, med, max ...)\n3.3 s (...)'."""
    num, unit = text.rsplit("\n", 1)[-1].split()[:2]
    return float(num.replace(",", "")) * _UNIT[unit.rstrip(",")]


def python_stats(spark, first_execution: int) -> dict[str, float]:
    """Python worker SQL metrics summed over the SQL executions started since
    ``first_execution`` (an earlier ``sql_execution_count``)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    out = {v: 0.0 for v in _PY_METRICS.values()}
    execs = store.executionsList(first_execution, n - first_execution)
    for i in range(execs.size()):
        ex = execs.apply(i)
        wanted = {}
        plan_metrics = ex.metrics()
        for k in range(plan_metrics.size()):
            m = plan_metrics.apply(k)
            if m.name() in _PY_METRICS:
                wanted[m.accumulatorId()] = _PY_METRICS[m.name()]
        if not wanted:
            continue
        it = store.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            key = wanted.get(kv._1())
            if key is not None:
                out[key] += _metric_value(kv._2())
    return out


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase times (s) of ``df``'s own QueryExecution, planned now."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = _opt(phases.get(phase))
        out[f"plan.{phase}_s"] = summary.durationMs() / 1000.0 if summary is not None else 0.0
    return out
