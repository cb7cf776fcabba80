"""Test-table catalog.

The driver materializes deterministic TPC-H-ish parquet at
``/root/testdata/sf{0.001,0.01,0.1}`` (TESTDATA.md). Everything in
``__spark_entry__.queries()`` takes an ``sf_dir`` and loads through here so
the oracle comparison and the bench run share one load path.

At 100 TB these would be partitioned/bucketed warehouse tables; the loader
is the one place a deployment would swap in a metastore catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize ts to TIMESTAMP (ltz) whatever the file's physical type:
        # - TIMESTAMP(NANOS): nanosAsLong surfaces a raw int64; rebuild a
        #   microsecond timestamp with *integer* division (ns values exceed
        #   double's 53-bit mantissa) — truncation toward zero matches
        #   DuckDB's ns→µs cast.
        # - timestamp[us] without tz: Spark reads TIMESTAMP_NTZ, which
        #   unix_micros / numeric casts reject. The session runs in UTC, so
        #   casting NTZ→TIMESTAMP is value-preserving and matches DuckDB's
        #   naive reading of the same file.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        t = df.schema["ts"].dataType
        if isinstance(t, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(t, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

