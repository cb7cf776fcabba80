"""``tables.load_table``: the schema comes from the parquet footer, so
building a frame starts no Spark job, and it equals Spark's own inference."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from sig_etl_spark.tables import TABLE_NAMES, load_table


def test_footer_schema_equals_inferred_schema(spark, sf_dir):
    for name in TABLE_NAMES:
        want = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        if name == "events":
            # load_table normalizes ts to TIMESTAMP whatever the file holds.
            want["ts"].dataType = TimestampType()
        assert load_table(spark, sf_dir, name).schema == want, name


def test_load_table_starts_no_job(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("load_table_jobs", "load_table_jobs")
    try:
        for name in TABLE_NAMES:
            load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("load_table_jobs") == []


def test_nanosecond_events_ts_truncates_to_micros(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, 1_700_000_000_000_000_999, 0, -1_999, -5_000]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(ns)), pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    ev = load_table(spark, str(tmp_path), "events")
    assert ev.schema["ts"].dataType == TimestampType()
    us = ev.orderBy("event_id").select(F.unix_micros("ts").alias("us"))
    got = [r.us for r in us.collect()]
    # ns -> µs truncates toward zero, as DuckDB's cast does.
    assert got == [v // 1000 if v >= 0 else -(-v // 1000) for v in ns]


def test_spark_written_directory_reads_like_spark(spark, sf_dir, tmp_path):
    # Spark writes TIMESTAMP as INT96, which pyarrow's types alone would
    # mistake for TIMESTAMP(NANOS); the schema Spark stored wins.
    src = load_table(spark, sf_dir, "events").limit(50)
    src.write.parquet(str(tmp_path / "events.parquet"))
    ev = load_table(spark, str(tmp_path), "events")
    assert ev.schema == src.schema
    assert sorted(ev.collect()) == sorted(src.collect())
