"""SparkSession builder for the engine.

Defaults are chosen for correctness at local test scale (one core and one
shuffle partition per CPU this process may run on) while keeping the knobs
that matter at 100 TB explicit:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (every Pandas UDF crosses the JVM/Python boundary in batches)
- shuffle partitions sized for the local box; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value)
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Cores for local mode: SPARK_GRAFT_CPUS if set, else the CPUs this process
# may run on (its affinity, which a container or taskset can narrow below
# the machine's count).
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
DEFAULT_SHUFFLE_PARTITIONS = DEFAULT_CPUS

_scratch_root: str | None = None


def scratch_dir(name: str, sf_dir: str | None = None) -> str:
    """Path of the driver-side scratch directory ``name`` (not created).

    Every file a query builder writes (stage round-trips, fixtures, the
    Derby staging database, the catalog warehouse) lives under one root
    made by ``tempfile.mkdtemp`` on the first call and removed when the
    interpreter exits, so concurrent runs never share scratch state and
    nothing lands in the checkout; ``TMPDIR`` moves the root. The root is
    made lazily because pandas-UDF workers import this package too.
    Output derived from a fixture set passes its ``sf_dir``: the name is
    then keyed by that path, so two scales read in one process never see
    each other's files."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="sig_etl_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    if sf_dir is not None:
        name += "_" + hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return os.path.join(_scratch_root, name)


def get_spark(
    app_name: str = "sig_etl_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally we default to
    ``local[DEFAULT_CPUS]``.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # ones (the blocked fuzzy join has CA/TX-sized skew by design).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF / toPandas traffic.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Parquet scans: allow large-enough splits that small tables stay in
        # one partition but 100 TB tables still parallelize (128 MiB default).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ANSI on (the Spark 4 default, and what any production deployment
        # runs). The reference's null-on-failure semantics (invalid dates ->
        # null, SURVEY §2 F8) are realized with the try_* expression family
        # (try_to_date, try_element_at, try_cast) inside the library, NOT by
        # weakening the session — so queries compose safely with user code
        # that wants ANSI's overflow/cast checks.
        .config("spark.sql.ansi.enabled", "true")
        # The driver's events table stores TIMESTAMP(NANOS) parquet, which
        # Spark 4 rejects by default; read as long and rebuild (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The warehouse (bucketed catalog tables) is scratch: the in-memory
        # catalog that indexes it dies with the process anyway.
        .config("spark.sql.warehouse.dir", scratch_dir("spark-warehouse"))
        # Embedded Derby (the JDBC staging query) logs to ./derby.log
        # unless told otherwise.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.stream.error.file={scratch_dir('derby.log')}",
        )
        .config("spark.ui.enabled", "false")
        # Generated whole-stage-codegen classes are cached by source text,
        # so a plan that runs again reuses its compiled (and JIT-warmed)
        # classes only while they are still cached. Spark's default of 100
        # entries is below one pass of perfbench's sig_match (144 distinct
        # classes at sf0.1, 139 of them compiled again on every steady
        # pass). 256 holds either perfbench workload (sig_match 144,
        # sql_analytics 91). Holding a whole bench.py sweep of the registry
        # at sf0.01 (3,288 distinct classes, so 4,096 entries) was measured
        # and not taken: that sweep ended with 232.6 MB of Metaspace against
        # 207.9 MB at 100 entries (+11.9 %); at 256 it ends with 209.4 MB.
        .config("spark.sql.codegen.cache.maxEntries", "256")
        # Python workers start as `python -m`, which puts the working
        # directory ahead of PYTHONPATH; PYTHONSAFEPATH drops it, so a
        # sig_etl_spark in the working directory (another checkout) cannot
        # shadow the one the driver imported.
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A driver-side literal table (``rows`` of tuples in ``schema``'s
    DDL column order) as a DataFrame whose plan is a ``LocalTableScan``.

    ``spark.createDataFrame(list)`` ships the rows through a Python-worker
    RDD that every action re-runs as a Spark job; an Arrow table typed by
    the schema becomes a local relation instead, which starts neither a
    job nor a Python worker."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
