"""Bucketed co-located join — the shuffle-elimination story as a
registered, oracle-checked query.

At 100 TB the single biggest join cost is shuffling both fact sides on
the key. Bucketing pays that shuffle ONCE at write time: both tables are
written ``bucketBy(N, key)``, and every later join on that key reads
bucket i against bucket i with NO exchange on either side — the plan
guard (tests/test_plans.py::test_bucketed_join_has_no_join_exchange)
asserts the join runs exchange-free, and the DuckDB oracle (which reads
the raw parquet) proves bucketing never changes results.

The bucketed tables are written into the session warehouse on first use
per sf_dir — the warehouse stand-in for the one-time re-bucketing job a
real deployment schedules. Float sums go through DECIMAL(38,10) like
every cross-row reduction in this repo.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sig_etl_spark.queries import register
from sig_etl_spark.session import scratch_dir
from sig_etl_spark.tables import load_table

_N_BUCKETS = 8


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    n_buckets: int = _N_BUCKETS,
) -> DataFrame:
    """Read ``table`` as a bucketed catalog table, writing it on first use.

    The catalog name is the basename of an sf_dir-keyed
    :func:`scratch_dir` path, so different fixture sets coexist in one
    session; the table's files sit in the session warehouse, which like
    the in-memory catalog lives exactly as long as the process."""
    # n_buckets is part of the name: bucket count IS the layout, and two
    # join sides only co-locate when their counts match — a different
    # count must regenerate, never silently reuse the old layout.
    name = os.path.basename(scratch_dir(f"bkt_{table}_b{n_buckets}", sf_dir))
    if not spark.catalog.tableExists(name):
        (
            load_table(spark, sf_dir, table)
            .write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    return spark.table(name)


_BUCKETED_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_qty,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@register(
    "j_bucketed_colocated",
    oracle=_BUCKETED_ORACLE,
    doc="co-located fact-fact join on pre-bucketed tables: zero exchanges"
        " at the join (plan-guarded); oracle on raw parquet proves layout"
        " invisibility",
)
def j_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    lineitem = bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    # merge hint: at fact-fact scale neither side broadcasts, and the
    # point of this query is the bucket-co-located SMJ — the hint keeps
    # the demo (and its plan guard) on that path at every test SF instead
    # of letting small-SF statistics flip it to a broadcast join.
    joined = orders.hint("merge").join(
        lineitem, F.col("o_orderkey") == F.col("l_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(38,10)")), 2)
        .cast("double")
        .alias("sum_qty"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Date-partitioned layout + partition pruning — the third classic layout
# lever next to bucketing (this file) and Z-order (diag_demo): events
# written partitionBy(day) once, then a 3-day query reads ONLY those
# day directories. The plan guard asserts the day predicate lands in
# the scan's PartitionFilters (directory-level pruning: non-matching
# partitions are never listed, let alone read) — at 100 TB this is the
# difference between scanning 3 days and scanning 3 years. The DuckDB
# oracle reads the raw unpartitioned parquet with the same predicate,
# proving layout never changes results. Sums go through DECIMAL like
# every cross-row reduction here.
# ---------------------------------------------------------------------------


def partitioned_events(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """Events re-written partitionBy(day) on first use per sf_dir — same
    one-time-layout-job convention as bucketed_table."""
    loc = scratch_dir("part_events", sf_dir)
    marker = os.path.join(loc, "_SUCCESS")
    if not os.path.exists(marker):
        (
            load_table(spark, sf_dir, "events")
            .withColumn("day", F.to_date(F.date_trunc("day", F.col("ts"))))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(loc)
        )
    return spark.read.parquet(loc), loc


_PART_PRUNE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_value
FROM events
WHERE date_trunc('day', ts) >= TIMESTAMP '2024-01-10'
  AND date_trunc('day', ts) <= TIMESTAMP '2024-01-12'
GROUP BY event_type
"""


@register(
    "layout_partition_pruning",
    oracle=_PART_PRUNE_ORACLE,
    doc="date-partitioned layout: 3-day rollup reads only 3 day"
        " directories (PartitionFilters, plan-guarded); oracle on the"
        " raw unpartitioned parquet proves layout-invariance",
)
def layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, _loc = partitioned_events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("day") >= F.lit("2024-01-10")) & (F.col("day") <= F.lit("2024-01-12"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(38,10)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
