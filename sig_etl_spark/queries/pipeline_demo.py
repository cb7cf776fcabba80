"""E→T→M pipeline flagship: the §3.1 lifecycle as ONE registered query.

Re-expresses the reference's staged driver chain
(/root/reference/national/_1034/__main__.py:91-121 — extract →
'Ratings-Extract' checkpoint → transform → 'Ratings-Transformed' →
match → 'Ratings-Matched') on the Pipeline runner (pipeline.py):

- **extract**: customer rows rendered as card HTML pages inside Spark,
  parsed back with the real cards parser (S4 machinery) — the checkpoint
  holds schema-on-read string records, exactly like a landing-zone parse;
- **transform**: F1 name parse (honorific strip + first/last split) and
  type restoration over the re-read checkpoint (stage re-entry: the
  transform sees only what the parquet checkpoint preserved);
- **match**: J4 blocked fuzzy linkage of the transformed records against
  the customer dim, levenshtein scorer + exact-city rule, W1/W2 windows.

Every stage writes and re-reads a parquet checkpoint via Pipeline.run, so
the oracle hash also proves checkpoint round-trip fidelity. The DuckDB
oracle rebuilds the same records arithmetically (render→parse is identity,
locked separately by extract_s4_cards) and replays the documented match
semantics in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sig_etl_spark.extract import extract_records, stabilize_columns
from sig_etl_spark.functions import parse_name
from sig_etl_spark.linkage import ColumnRule, MatchConfig, fuzzy_match
from sig_etl_spark.pipeline import Pipeline
from sig_etl_spark.queries import register
from sig_etl_spark.session import scratch_dir
from sig_etl_spark.tables import load_table

_REQUIRED = 80.0
_NAME_T = 85.0


def _y_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    name = F.translate(F.col("c_custkey").cast("string"), "0123456789", "abcdefghij")
    return customer.select(
        F.col("c_custkey").alias("y_id"),
        F.col("c_nationkey").alias("nk"),
        name.alias("y_name"),
        F.concat(F.lit("city"), (F.col("c_custkey") % 7).cast("string")).alias(
            "y_city"
        ),
    )


def _extract_stage(sf_dir: str):
    def stage(spark: SparkSession, _: DataFrame | None) -> DataFrame:
        cust = load_table(spark, sf_dir, "customer").filter(
            F.col("c_custkey") % 10 == 3
        )
        name = F.translate(
            F.col("c_custkey").cast("string"), "0123456789", "abcdefghij"
        )
        card = F.concat(
            F.lit('<div class="card"><span data-field="xid">'),
            F.col("c_custkey").cast("string"),
            F.lit('</span><span data-field="nk">'),
            F.col("c_nationkey").cast("string"),
            F.lit('</span><span data-field="full_name">Rep. Pat '),
            name, F.lit("x"),
            F.lit('</span><span data-field="city">city'),
            (F.col("c_custkey") % 7).cast("string"),
            F.lit("</span></div>"),
        )
        pages = (
            cust.withColumn("page", F.col("c_custkey") % 5)
            .groupBy("page")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("c_custkey"), card.alias("card")))
                ).alias("cards")
            )
            .select(
                "page",
                F.concat(
                    F.lit("<html><body>"),
                    F.array_join(F.transform(F.col("cards"), lambda c: c["card"]), ""),
                    F.lit("</body></html>"),
                ).alias("html"),
            )
        )
        records = extract_records(pages.repartition(5, "page"), parser="cards")
        flat = stabilize_columns(records, keys=["xid", "nk", "full_name", "city"])
        return flat.select("xid", "nk", "full_name", "city")

    return stage


def _transform_stage(spark: SparkSession, df: DataFrame | None) -> DataFrame:
    assert df is not None
    parts = parse_name(F.col("full_name"))
    return df.select(
        F.col("xid").cast("bigint").alias("x_id"),
        F.col("nk").cast("int").alias("nk"),
        parts["firstname"].alias("firstname"),
        parts["lastname"].alias("lastname"),
        F.col("city").alias("city"),
    )


def _match_stage(sf_dir: str):
    def stage(spark: SparkSession, df: DataFrame | None) -> DataFrame:
        assert df is not None
        config = MatchConfig(
            rules=(
                ColumnRule(
                    "lastname", ("y_name",), scorer="levenshtein", threshold=_NAME_T
                ),
                ColumnRule("city", ("y_city",), scorer="exact", threshold=100.0),
            ),
            block_on=("nk",),
            y_id="y_id",
            required_threshold=_REQUIRED,
            duplicate_threshold=3.0,
        )
        return fuzzy_match(df, _y_dim(spark, sf_dir), config)

    return stage


_PIPELINE_ORACLE = f"""
WITH y AS (
  SELECT c_custkey AS y_id, c_nationkey AS nk,
         translate(CAST(c_custkey AS VARCHAR), '0123456789', 'abcdefghij') AS y_name,
         'city' || CAST(c_custkey % 7 AS VARCHAR) AS y_city
  FROM customer
),
x AS (
  SELECT c_custkey AS x_id, c_nationkey AS nk,
         'Pat' AS firstname,
         translate(CAST(c_custkey AS VARCHAR), '0123456789', 'abcdefghij') || 'x' AS lastname,
         'city' || CAST(c_custkey % 7 AS VARCHAR) AS city
  FROM customer WHERE c_custkey % 10 = 3
),
pairs AS (
  SELECT x.x_id, x.nk, x.firstname, x.lastname, x.city, y.y_id, y.y_name, y.y_city
  FROM x LEFT JOIN y USING (nk)
),
scored AS (
  SELECT *,
         100.0 * (1.0 - levenshtein(lastname, coalesce(y_name, ''))
                  / greatest(length(lastname), length(coalesce(y_name, '')), 1)) AS s_name_raw,
         CASE WHEN city = y_city THEN 100.0 ELSE 0.0 END AS s_city_raw
  FROM pairs
),
combined AS (
  SELECT *,
         CASE WHEN y_id IS NULL THEN 0.0
              ELSE ((CASE WHEN s_name_raw >= {_NAME_T} THEN s_name_raw ELSE 0.0 END)
                    + (CASE WHEN s_city_raw >= 100.0 THEN s_city_raw ELSE 0.0 END)) / 2.0
         END AS c
  FROM scored
),
win AS (
  SELECT *,
         row_number() OVER (PARTITION BY x_id ORDER BY c DESC, y_id ASC) AS rn,
         MAX(c) OVER (PARTITION BY x_id) AS best,
         CAST(SUM(CASE WHEN c >= {_REQUIRED} THEN 1 ELSE 0 END)
              OVER (PARTITION BY x_id) AS BIGINT) AS ncand
  FROM combined
),
near AS (
  SELECT *,
         CAST(SUM(CASE WHEN c >= {_REQUIRED} AND best - c <= 3.0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY x_id) AS BIGINT) AS nnear
  FROM win
)
SELECT x_id, nk, firstname, lastname, city,
       CASE WHEN c >= {_REQUIRED} THEN y_id END AS candidate_id,
       ROUND(c, 6) AS match_score,
       ncand AS n_candidates,
       CASE WHEN c < {_REQUIRED} THEN 'unmatched'
            WHEN nnear > 1 THEN 'review'
            ELSE 'matched'
       END AS match_status
FROM near WHERE rn = 1
"""


@register(
    "pipeline_e2e_ratings",
    oracle=_PIPELINE_ORACLE,
    doc="§3.1 lifecycle: E→T→M runner with parquet stage checkpoints —"
        " S4 extract, F1 transform, J4 match in one registered query",
)
def pipeline_e2e_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    pipe = Pipeline(
        spark=spark,
        workdir=scratch_dir("pipeline", sf_dir),
        base_name="DemoRatings-",
        stages={
            "extract": _extract_stage(sf_dir),
            "transform": _transform_stage,
            "match": _match_stage(sf_dir),
        },
    )
    return pipe.run()
