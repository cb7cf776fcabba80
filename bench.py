"""Full-registry benchmark: per-query wall-clock medians.

Usage: python bench.py [name ...]

Runs every registered query (or the named ones) at ``$SPARK_GRAFT_SF_DIR``
(default: the sf0.1 fixture set of TESTDATA.md) on ``local[DEFAULT_CPUS]``
(``$SPARK_GRAFT_CPUS``, else the process's CPU affinity count) and prints
the result as the LAST stdout line, one JSON object::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "codegen_compiles": {...}, "metaspace_mb": N, "sf": ...}

``codegen_compiles`` holds, per query, the whole-stage-codegen classes
compiled over its timed repeats: with the session's codegen cache holding
the working set, a repeat compiles nothing. ``metaspace_mb`` is the
driver JVM's Metaspace in use at the end of the sweep.

A full run also writes it to ``BENCH_FULL_latest_c<cpus>.json`` in the
checkout (``$SPARK_GRAFT_BENCH_OUT`` overrides the path; a named subset
persists only when that is set).

Each query is forced end-to-end with a ``noop`` write — full execution on
the executors, zero driver-side collect — so the timing reflects the plan
Spark would run at scale, not ``toPandas`` serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from sig_etl_spark.queries import QUERIES  # noqa: E402
from sig_etl_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


def run_query(df) -> None:
    # noop sink: materializes every row on the executors, discards output.
    df.write.format("noop").mode("overwrite").save()


def _codegen_compiles(spark) -> int:
    """Whole-stage-codegen classes compiled so far in this JVM (cache
    misses of Spark's codegen class cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _metaspace_mb(spark) -> float | None:
    """Metaspace in use in the driver JVM, where generated classes live."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for pool in pools:
        if pool.getName() == "Metaspace":
            return round(pool.getUsage().getUsed() / 2**20, 1)
    return None


def _cpu_jiffies() -> tuple[int, int] | None:
    """(user, steal) jiffies from /proc/stat — round 14: the long-open
    'box state' bench mystery was finally NAMED when an end-of-round
    sweep read 1.6x with code untouched and per-minute sampling showed
    hypervisor CPU STEAL at 74% of user jiffies for the whole window
    (/proc/stat col 9; a low-steal window reproduced the usual totals).
    Every envelope now certifies its own window so a reader can tell a
    regression from a noisy neighbor."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[1]), int(parts[8])
    except (OSError, IndexError, ValueError):
        return None


# Checkpoint-heavy families whose in-sequence full-sweep numbers inflate
# with JVM backlog (r9: llm_embedding_near_dup_ivf 228s in-seq vs 66.6s
# isolated at sf1; r12: 94.7 vs 28.4 — every such row needed a manual
# isolated re-measure before publishing). Full-registry sweeps now run
# these in ONE fresh subprocess at the END of the sweep: a ~20s JVM
# spin-up buys in-sequence numbers that ARE the adjudicated numbers
# (a fresh process with a 16-query backlog showed no material inflation
# when probed at r12). Disable with SPARK_GRAFT_FRESH_ISOLATE=0.
_FRESH_PROCESS_PREFIXES = ("llm_knn_", "llm_embedding_")


def _run_fresh_subset(names: list[str]) -> dict | None:
    """Run a query subset via `python bench.py NAME...` in a fresh
    process; return its parsed result JSON (None on failure)."""
    import subprocess

    me = os.path.abspath(__file__)
    env = os.environ.copy()
    # The child must never persist its subset JSON over the parent
    # sweep's artifact (subset runs persist when BENCH_OUT is set).
    env.pop("SPARK_GRAFT_BENCH_OUT", None)
    # GC between EVERY query in the child: the flagged families are the
    # checkpoint-heavy ones, and even a 15-query backlog measurably
    # inflates the late rows (llm_knn_pq_rerank 23.7s at child position
    # 6 vs 9.5s isolated, probed r13). ~0.15s/pass against multi-second
    # rows, reported in gc_overhead_seconds as usual.
    env.setdefault("SPARK_GRAFT_GC_EVERY", "1")
    proc = subprocess.run(
        [sys.executable, me, *names],
        stdout=subprocess.PIPE,
        stderr=sys.stderr,
        text=True,
        env=env,
    )
    if proc.returncode != 0:
        return None
    for line in reversed(proc.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                return None
    return None


def main() -> int:
    # Spark's Python workers see PYTHONPATH, not sys.path: export the
    # checkout before any session starts, so any working directory works.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Parse "sf0.1" -> 0.1 from the directory name if possible.
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = base

    spark = get_spark("sig_etl_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    jiff0 = _cpu_jiffies()

    names = sys.argv[1:] or list(QUERIES)
    # Scale sweeps may exclude the labeled CONTRAST ROW demos' untreated
    # arms (deliberately quadratic; >30min each at sf1). Exclusions are
    # RECORDED in the result JSON so a reader sees what was dropped —
    # never a silent cap.
    excluded = [
        n for n in os.environ.get("SPARK_GRAFT_EXCLUDE", "").split(",")
        if n and n in names
    ]
    names = [n for n in names if n not in excluded]

    # Full-registry sweeps defer the backlog-prone families to a fresh
    # end-of-sweep subprocess (see _FRESH_PROCESS_PREFIXES).
    fresh_names: list[str] = []
    if not sys.argv[1:] and os.environ.get("SPARK_GRAFT_FRESH_ISOLATE", "1") != "0":
        fresh_names = [
            n for n in names if n.startswith(_FRESH_PROCESS_PREFIXES)
        ]
        names = [n for n in names if n not in fresh_names]

    # Warm up the JVM + parquet footers once so per-query numbers measure
    # the query, not first-touch costs.
    run_query(QUERIES[names[0]].builder(spark, sf_dir).limit(1))
    # Also warm the Python worker pool: the first Arrow-UDF stage otherwise
    # pays ~8s of one-off worker spawn + pandas/numpy import across all
    # cores, attributed to whichever query happens to hit it first.
    from pyspark.sql import functions as F  # noqa: PLC0415

    @F.pandas_udf("double")
    def _warm(x):
        return x.astype("float64")

    n = spark.sparkContext.defaultParallelism
    run_query(spark.range(0, n * 100, 1, n).select(_warm("id")))

    # Median-of-N per query: single-run numbers on this box swing 2-3x
    # between rounds (JVM JIT, GC pressure, background load), which made
    # regressions indistinguishable from noise in r02-r04. The median of
    # 3 back-to-back runs is stable enough to adjudicate plan changes.
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    # Housekeeping cadence (queries between GC passes). Measured round 12:
    # on the 8-query ANN/embedding slice at sf1, every-1 vs every-8 cut
    # EVERY row 5-15% (near_dup_ivf 32.3 -> 27.3s, matching its isolated
    # 28.4s median), so default 2 — ~0.15s/pass, excluded from per-query
    # timings and reported in gc_overhead_seconds. Honest caveat: at FULL
    # sweep scale a back-to-back gc8-vs-gc2 comparison was noise-bound
    # (embedding rows -20%, other heavies +20% — the documented +/-60%
    # box swing dominates), and an 8-query backlog reproduces none of the
    # deep late-row inflation (94.7s in-seq vs 28.4s isolated at position
    # 159 is 150+ queries of accumulated JVM history) — which is why
    # flagged rows are ALWAYS isolated-re-measured before publishing.
    gc_every = int(os.environ.get("SPARK_GRAFT_GC_EVERY", "2"))
    # Warmup runs per query, EXCLUDED from the median and recorded in
    # the JSON (round 14 — VERDICT r13 task 2). Root cause of the r13
    # "isolated median drift": an isolated re-measure runs ONE query in
    # a FRESH JVM, so run 1 carries whole-stage-codegen class
    # generation + C2 JIT compilation + first-touch page cache and reads
    # 1.5-2.3x the steady state (measured decay on an idle box:
    # geo_neighbor_pairs 2.08 -> 0.91s over 9 back-to-back runs,
    # graph_pagerank_parts 7.70 -> 4.40s, sketch_hll_running_distinct
    # 2.14 -> ~1.2s) — median-of-3 then still includes that warmup
    # shoulder, while the full-sweep numbers it is compared against come
    # from a JVM warmed by 100+ prior queries. Isolated re-measure
    # protocol: SPARK_GRAFT_WARMUP=2 SPARK_GRAFT_REPEATS=5 — the median
    # then reads the steady state the in-sequence number samples.
    warmup = int(os.environ.get("SPARK_GRAFT_WARMUP", "0"))

    timings: dict[str, float] = {}
    # Per query: classes compiled over its timed repeats. With the session's
    # codegen cache holding the working set, repeats 2..N compile nothing.
    compiles: dict[str, int] = {}
    total = 0.0
    gc_overhead = 0.0
    for i, name in enumerate(names):
        for _ in range(warmup):
            run_query(QUERIES[name].builder(spark, sf_dir))
            spark.catalog.clearCache()
        runs = []
        c0 = _codegen_compiles(spark)
        for _ in range(repeats):
            t0 = time.perf_counter()
            run_query(QUERIES[name].builder(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
            # Clear the CacheManager BETWEEN repeats (round 15): a query
            # that persists a mid-plan frame (llm_dsir_importance) would
            # otherwise serve repeats 2..N from repeat 1's cache via
            # canonical-plan matching, so the median read a partially
            # cached run. Outside the timed region; counted in
            # gc_overhead_seconds.
            g0 = time.perf_counter()
            spark.catalog.clearCache()
            gc_overhead += time.perf_counter() - g0
        dt = round(sorted(runs)[len(runs) // 2], 3)
        timings[name] = dt
        compiles[name] = _codegen_compiles(spark) - c0
        total += dt
        print(
            f"# {name}: {dt:.3f}s (runs: {', '.join(f'{r:.3f}' for r in runs)})",
            file=sys.stderr,
        )
        if (i + 1) % gc_every == 0:
            # Dead localCheckpoint/broadcast blocks are only released when
            # the driver GC feeds the ContextCleaner; across 70 sequential
            # query plans in one JVM the backlog measurably taxes the late
            # queries (measured: agg_pricing_summary 6.3s at position 62
            # vs 1.6s isolated). Python gc first — py4j proxies pin the
            # JVM-side DataFrames/RDDs until the Python objects die, so
            # System.gc() alone can't free them. Housekeeping between
            # queries, like any long-lived server session would run —
            # excluded from per-query timings but REPORTED
            # (gc_overhead_seconds) so the exclusion is visible in
            # results, not just in this comment.
            import gc as _gc

            g0 = time.perf_counter()
            _gc.collect()
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            gc_overhead += time.perf_counter() - g0

    fresh_meta: dict | None = None
    if fresh_names:
        child = _run_fresh_subset(fresh_names)
        if child is None:
            # Fall back in-process rather than dropping rows silently —
            # and RECORD the fallback in the artifact: these rows then
            # carry the full parent-JVM backlog (the exact inflation the
            # fresh process exists to remove) and must not read as
            # adjudicated numbers.
            print(
                "# bench: fresh-process subset failed; running in-process",
                file=sys.stderr,
            )
            for name in fresh_names:
                runs = []
                c0 = _codegen_compiles(spark)
                for _ in range(repeats):
                    t0 = time.perf_counter()
                    run_query(QUERIES[name].builder(spark, sf_dir))
                    runs.append(time.perf_counter() - t0)
                    spark.catalog.clearCache()
                dt = round(sorted(runs)[len(runs) // 2], 3)
                timings[name] = dt
                compiles[name] = _codegen_compiles(spark) - c0
                total += dt
            fresh_meta = {
                "names": fresh_names,
                "fallback": True,
                "note": "fresh-process child FAILED; these rows ran "
                "in-process after the full sweep backlog and need "
                "isolated re-measure before publishing",
            }
        else:
            for name, dt in child["queries"].items():
                timings[name] = dt
                total += dt
            compiles.update(child["codegen_compiles"])
            gc_overhead += child.get("gc_overhead_seconds", 0.0)
            fresh_meta = {
                "names": fresh_names,
                "note": "backlog-prone families timed in one fresh "
                "end-of-sweep process so in-sequence numbers need no "
                "isolated re-measure",
            }

    # Keyed by the core count so runs at different widths keep their own
    # record.
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     f"BENCH_FULL_latest_c{DEFAULT_CPUS}.json"),
    )
    result = {
        "metric": "total_query_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "codegen_compiles": compiles,
        # The main process's JVM; the fresh-process child reports its own.
        "metaspace_mb": _metaspace_mb(spark),
        "gc_overhead_seconds": round(gc_overhead, 3),
        "repeats_per_query": repeats,
        "warmup_per_query": warmup,
        "aggregation": "median",
        "cpus": int(DEFAULT_CPUS) if DEFAULT_CPUS.isdigit() else DEFAULT_CPUS,
        "sf": sf,
    }
    if excluded:
        result["excluded"] = excluded
    if fresh_meta:
        result["fresh_process"] = fresh_meta
    jiff1 = _cpu_jiffies()
    if jiff0 and jiff1 and jiff1[0] > jiff0[0]:
        du, ds = jiff1[0] - jiff0[0], jiff1[1] - jiff0[1]
        # >10% steal/user marks the window untrustworthy for absolute
        # adjudication (the 74%-steal sweep read 1.6x across the board).
        result["cpu_steal_over_user"] = round(ds / du, 4)
    print(json.dumps(result))
    # Subset probes persist ONLY when a destination is explicitly set, so
    # an ad-hoc probe never clobbers the full-sweep artifact.
    if not sys.argv[1:] or os.environ.get("SPARK_GRAFT_BENCH_OUT"):
        try:
            with open(out, "w") as f:
                json.dump(result, f, indent=1, sort_keys=True)
                f.write("\n")
        except OSError as e:  # never let persistence kill the bench line
            print(f"# bench: could not write {out}: {e}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
