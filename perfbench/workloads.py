"""Spark side of the benchmark's operations (spec.py lists the workloads).

An operation is ``(name, build)`` where ``build(spark, sf_dir, workdir)``
returns a DataFrame; the runner times ``build`` and then forces the frame
with a ``noop`` write. Most operations are registered queries. The three
``stage_*`` operations are the benchmark's own: they run the library's
write paths (``Pipeline.run``, ``sources.write_stage_csv`` /
``read_stage_csv``, ``extract.spark_io.read_landing``) in the run's own
work directory, because the registered demo queries that cover the same
paths write to fixed directories inside the repository (README.md lists
the registered queries left out for that reason).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sig_etl_spark.extract import extract_records, read_landing, stabilize_columns
from sig_etl_spark.pipeline import Pipeline
from sig_etl_spark.queries import QUERIES
from sig_etl_spark.queries import pipeline_demo
from sig_etl_spark.queries.extract_demo import _LANDING_STATES, _N_PAGES
from sig_etl_spark.sources import read_stage_csv, write_stage_csv
from sig_etl_spark.tables import load_table

def _stage_pipeline(spark: SparkSession, sf_dir: str, workdir: str) -> DataFrame:
    """The paper's per-group job: extract -> transform -> match, with a
    parquet checkpoint written and read back after every stage."""
    pipe = Pipeline(
        spark=spark,
        workdir=os.path.join(workdir, "pipeline"),
        base_name="BenchRatings-",
        stages={
            "extract": pipeline_demo._extract_stage(sf_dir),
            "transform": pipeline_demo._transform_stage,
            "match": pipeline_demo._match_stage(sf_dir),
        },
    )
    return pipe.run()


def _landing_dir(workdir: str) -> str:
    d = os.path.join(workdir, "landing")
    if os.path.isdir(d):
        return d
    os.makedirs(d)
    # Same pages as the registered extract_s2_landing_scan writes, so its
    # DuckDB oracle gives the expected output.
    for i in range(_N_PAGES):
        state = _LANDING_STATES[i % len(_LANDING_STATES)]
        rows = "".join(
            f"<tr><td>{i}-{j}</td><td>{i * 100 + j}</td></tr>" for j in range(1 + i % 3)
        )
        with open(os.path.join(d, f"page_{state}_{i}.html"), "w") as f:
            f.write(
                "<html><body><table><thead><tr><th>k</th><th>v</th></tr>"
                f"</thead><tbody>{rows}</tbody></table></body></html>"
            )
        with open(os.path.join(d, f"page_{state}_{i}.txt"), "w") as f:
            f.write("not html")
    return d


def _stage_landing_scan(spark: SparkSession, sf_dir: str, workdir: str) -> DataFrame:
    landed = read_landing(spark, _landing_dir(workdir), glob="*.html")
    records = extract_records(
        landed, parser="table", partition_pattern=r"page_([A-Z]{2})_\d+\.html"
    )
    flat = stabilize_columns(records, keys=["k", "v"])
    return flat.select(F.col("partition").alias("state"), "k", "v")


def _stage_csv_roundtrip(spark: SparkSession, sf_dir: str, workdir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    staged = part.select(
        F.col("p_partkey").cast("string").alias("pk"),
        F.when(F.col("p_partkey") % 7 != 0, F.col("p_name")).alias("name"),
        F.when(F.col("p_partkey") % 5 == 0, F.lit("")).otherwise(F.col("p_brand")).alias(
            "brand"
        ),
    )
    path = os.path.join(workdir, "csv_stage")
    write_stage_csv(staged, path)
    return read_stage_csv(spark, path)


# Benchmark-own operation -> (builder, registered query whose oracle applies).
STAGE_OPS = {
    "stage_pipeline": (_stage_pipeline, "pipeline_e2e_ratings"),
    "stage_landing_scan": (_stage_landing_scan, "extract_s2_landing_scan"),
    "stage_csv_roundtrip": (_stage_csv_roundtrip, "csv_stage_roundtrip"),
}


def builder(name: str):
    """``build(spark, sf_dir, workdir) -> DataFrame`` for an operation."""
    if name in STAGE_OPS:
        return STAGE_OPS[name][0]
    fn = QUERIES[name].builder
    return lambda spark, sf_dir, workdir: fn(spark, sf_dir)


def oracle_sql(name: str) -> str | None:
    return QUERIES[STAGE_OPS[name][1] if name in STAGE_OPS else name].oracle
