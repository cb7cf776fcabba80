"""Test-table catalog.

The driver materializes deterministic TPC-H-ish parquet at
``/root/testdata/sf{0.001,0.01,0.1}`` (TESTDATA.md). Everything in
``__spark_entry__.queries()`` takes an ``sf_dir`` and loads through here so
the oracle comparison and the bench run share one load path.

At 100 TB these would be partitioned/bucketed warehouse tables; the loader
is the one place a deployment would swap in a metastore catalog.

The schema comes from the parquet footer (pyarrow), so building a frame
starts no Spark job; ``spark.sql.legacy.parquet.nanosAsLong`` is set once,
in ``session.get_spark``.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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
    path = os.path.join(sf_dir, f"{name}.parquet")
    # The footer Spark's own inference reads (a file, or a directory's first
    # part file): the schema a Spark writer stored, else the parquet types
    # with TIMESTAMP(NANOS) as the raw int64 that nanosAsLong surfaces.
    footer = next(ds.dataset(path, format="parquet").get_fragments()).metadata
    stored = (footer.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored:
        schema = StructType.fromJson(json.loads(stored))
    else:
        arrow = pa.schema(
            f.with_type(pa.int64()) if str(f.type).startswith("timestamp[ns") else f
            for f in footer.schema.to_arrow_schema()
        )
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    df = spark.read.schema(schema).parquet(path)
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
        t = schema["ts"].dataType
        if isinstance(t, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(t, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

