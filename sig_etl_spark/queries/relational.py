"""Relational-core parity queries (SURVEY.md §2: P/A/W/O/SET/J rows).

Each query re-expresses a reference behavior over the driver's TPC-H-ish
tables so DuckDB can oracle-check it. Reference citations are given per
query (file:line into /root/reference).

Determinism rules used throughout (so the order-insensitive value hash
matches DuckDB bit-for-bit):
- multi-row float reductions go through DECIMAL(38,10) (addition order then
  cannot change the result), rounded and cast back to DOUBLE;
- every window/keep-first has a total ordering (explicit tiebreak key);
- row-level double arithmetic is left in IEEE double — both engines execute
  the same op sequence on the same inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sig_etl_spark.queries import register
from sig_etl_spark.session import local_frame
from sig_etl_spark.tables import load_table

DEC = "decimal(38,10)"


# ---------------------------------------------------------------------------
# Flagship: "incumbent candidates" shape — J5 equi/left joins + J7 date-range
# + J8 isin + W3 DISTINCT ON rewritten as a window.
# Reference: queries/office-candidates_by_congstatus.sql:7-46 (joins at
# 27-37, BETWEEN at 45-46, DISTINCT ON at 14); param isin lists built from
# data in votervoice/match.py:111-126.
# ---------------------------------------------------------------------------
@register(
    "flagship_latest_order",
    oracle="""
    SELECT c_custkey, c_name, nation_name, region_name,
           o_orderkey, latest_orderdate, latest_totalprice
    FROM (
      SELECT c.c_custkey, c.c_name,
             n.n_name AS nation_name, r.r_name AS region_name,
             o.o_orderkey, o.o_orderdate AS latest_orderdate,
             o.o_totalprice AS latest_totalprice,
             row_number() OVER (PARTITION BY c.c_custkey
                                ORDER BY o.o_orderdate DESC, o.o_orderkey) AS rn
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        AND o.o_orderstatus IN ('O', 'F')
        AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1998-12-31'
    ) t
    WHERE rn = 1
    """,
    doc="J5+J7+J8+W3: latest qualifying order per customer in selected segments",
)
def flagship_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    # Filters sit directly on the scans so Catalyst pushes them into the
    # parquet reader (PushedFilters); nation/region are broadcast — at 100 TB
    # the fact side streams, the dims ship once per executor.
    qualifying = (
        customer.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .join(
            orders.filter(
                F.col("o_orderstatus").isin("O", "F")
                & F.col("o_orderdate").between(
                    F.to_timestamp(F.lit("1995-01-01")),
                    F.to_timestamp(F.lit("1998-12-31")),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # DISTINCT ON (c_custkey) has no Spark equivalent -> row_number window
    # with an explicit total order (Postgres leaves ties unspecified; we pin
    # o_orderkey as tiebreak — SURVEY §7 risk (4)).
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        qualifying.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            "o_orderkey",
            F.col("o_orderdate").alias("latest_orderdate"),
            F.col("o_totalprice").alias("latest_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# A1+A2: grouped conditional aggregation with derived percentage — the
# reference's vote-counting kernel (good/bad/neutral counts, neutral = 0.5,
# pct = good/(good+bad)*100 with div-0 guard).
# Reference: national/_125/extract.py:41-68; national/_2658/extract.py:36-43;
# states/_1760/extract.py:38-42.
# ---------------------------------------------------------------------------
@register(
    "agg_vote_counts",
    oracle="""
    SELECT l_linestatus,
           -- CAST: DuckDB SUM(int) is HUGEINT; Spark's is BIGINT.
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS good_votes,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS bad_votes,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 0.5 ELSE 0.0 END) AS DOUBLE) AS neutral_weight,
           CASE WHEN SUM(CASE WHEN l_returnflag IN ('N','R') THEN 1 ELSE 0 END) = 0
                THEN 0.0
                ELSE ROUND(100.0 * SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                           / SUM(CASE WHEN l_returnflag IN ('N','R') THEN 1 ELSE 0 END), 4)
           END AS good_pct
    FROM lineitem
    GROUP BY l_linestatus
    """,
    doc="A1+A2: conditional counts + guarded percentage derivation",
)
def agg_vote_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    good = F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
    bad = F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
    denom = F.sum(F.when(F.col("l_returnflag").isin("N", "R"), 1).otherwise(0))
    return li.groupBy("l_linestatus").agg(
        good.alias("good_votes"),
        bad.alias("bad_votes"),
        F.sum(
            F.when(F.col("l_returnflag") == "A", F.lit(0.5)).otherwise(F.lit(0.0))
        ).alias("neutral_weight"),
        F.when(denom == 0, F.lit(0.0))
        .otherwise(F.round(F.lit(100.0) * good / denom, 4))
        .alias("good_pct"),
    )


# ---------------------------------------------------------------------------
# A3-shaped pricing summary (TPC-H Q1 skeleton): sum/avg/count per group.
# The reference's "possible score" sum-of-abs + index derivation
# (billtrack50_app/extract.py:59-79) is the same shape: Σ, Σ·expr, ratio.
# Float reductions go through DECIMAL so addition order can't flap the hash.
# ---------------------------------------------------------------------------
@register(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))
                          * CAST(1 - l_discount AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(ABS(l_quantity) AS DECIMAL(38,10))), 2) AS DOUBLE) AS possible,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1-A3: decimal-stable grouped sums incl. sum(abs()) 'possible score'",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    dq = F.col("l_quantity").cast(DEC)
    dp = F.col("l_extendedprice").cast(DEC)
    dd = (F.lit(1) - F.col("l_discount")).cast(DEC)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(dq), 2).cast("double").alias("sum_qty"),
        F.round(F.sum(dp), 2).cast("double").alias("sum_base_price"),
        F.round(F.sum(dp * dd), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(F.abs(F.col("l_quantity")).cast(DEC)), 2)
        .cast("double")
        .alias("possible"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# P1-P8: projection, rename, constant attach, column duplication, synthetic
# id extraction, substring/regex/set-membership predicates.
# Reference: votervoice/transform.py:77-86 (projection concat), :83-84 (dup
# column); templates/template_extract.py:30 (constant attach);
# billtrack50_app/extract.py:91-92 (id from URL tail);
# national/_1034/transform.py:57 (contains), votervoice/transform.py:60
# (regex predicate), votervoice/__main__.py:96-98 (isin).
# ---------------------------------------------------------------------------
@register(
    "proj_filter_parts",
    oracle="""
    SELECT p_partkey AS part_id,
           p_name AS part_name,
           p_name AS our_part_name,
           'catalog' AS record_source,
           CAST(regexp_extract('https://parts.example/item/' || CAST(p_partkey AS VARCHAR),
                               '([0-9]+)$', 1) AS BIGINT) AS sig_part_id,
           p_retailprice
    FROM part
    WHERE (contains(p_name, 'red') OR regexp_matches(p_name, '^blue '))
      AND p_type IN ('ECONOMY', 'STANDARD')
      AND p_size BETWEEN 5 AND 40
    """,
    doc="P1-P8: projection/rename/constant/dup-column/url-id + 3 predicate kinds",
)
def proj_filter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    url = F.concat(F.lit("https://parts.example/item/"), F.col("p_partkey").cast("string"))
    return (
        part.filter(
            (F.col("p_name").contains("red") | F.col("p_name").rlike("^blue "))
            & F.col("p_type").isin("ECONOMY", "STANDARD")
            & F.col("p_size").between(5, 40)
        )
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_name").alias("part_name"),
            F.col("p_name").alias("our_part_name"),
            F.lit("catalog").alias("record_source"),
            F.regexp_extract(url, "([0-9]+)$", 1).cast("bigint").alias("sig_part_id"),
            F.col("p_retailprice"),
        )
    )


# ---------------------------------------------------------------------------
# W1+W2: best-match-per-group + near-tie duplicate flag — the exact window
# shape of the fuzzy matcher's winner selection and duplicate_threshold.
# Reference: votervoice/match.py:44-45 (required_threshold=75,
# duplicate_threshold=3); national/_1034/match.py:68-69.
# ---------------------------------------------------------------------------
@register(
    "w_best_match_per_order",
    oracle="""
    SELECT l_orderkey, l_linenumber AS best_line, l_extendedprice AS best_price,
           near_ties, (near_ties > 1) AS needs_review
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn,
             -- CAST: DuckDB windowed SUM(int) is HUGEINT; Spark's is BIGINT.
             CAST(SUM(CASE WHEN best_price_all - l_extendedprice <= 100.0
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY l_orderkey) AS BIGINT) AS near_ties
      FROM (
        SELECT *, MAX(l_extendedprice) OVER (PARTITION BY l_orderkey) AS best_price_all
        FROM lineitem
      ) b
    ) t
    WHERE rn = 1
    """,
    doc="W1+W2: best candidate per group + duplicate-within-delta review flag",
)
def w_best_match_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    by_order = Window.partitionBy("l_orderkey")
    rank_w = by_order.orderBy(F.col("l_extendedprice").desc(), F.col("l_linenumber"))
    best = F.max("l_extendedprice").over(by_order)
    near = F.sum(
        F.when(best - F.col("l_extendedprice") <= 100.0, 1).otherwise(0)
    ).over(by_order)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.row_number().over(rank_w).alias("rn"),
            near.alias("near_ties"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("best_line"),
            F.col("l_extendedprice").alias("best_price"),
            "near_ties",
            (F.col("near_ties") > 1).alias("needs_review"),
        )
    )


# ---------------------------------------------------------------------------
# W4: fill-forward of a sparse attribute in document order — section headers
# carried onto following rows.
# Reference: states/_3166/extract.py:73-83,111-116.
# ---------------------------------------------------------------------------
@register(
    "w_fill_forward_events",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           last_value(CASE WHEN event_type = 'signup' THEN props END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_header
    FROM events
    """,
    doc="W4: last(ignorenulls) fill-forward of sparse header onto later rows",
)
def w_fill_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    header = F.when(F.col("event_type") == "signup", F.col("props"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(header, ignorenulls=True).over(w).alias("session_header"),
    )


# ---------------------------------------------------------------------------
# SET1+SET2: bag union of per-partition slices + set difference (anti join).
# Reference: templates/template_extract.py:41-44 (extracted += ...);
# national/_3308/extract.py:164-169 (states.difference(selected)).
# ---------------------------------------------------------------------------
@register(
    "set_union_anti",
    oracle="""
    WITH unioned AS (
      SELECT c_custkey, c_name, 'building' AS slice FROM customer
      WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT c_custkey, c_name, 'automobile' AS slice FROM customer
      WHERE c_mktsegment = 'AUTOMOBILE'
    )
    SELECT u.c_custkey, u.c_name, u.slice
    FROM unioned u
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = u.c_custkey AND o.o_orderstatus = 'P'
    )
    """,
    doc="SET1+SET2: unionByName fold + left_anti set difference",
)
def set_union_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name", F.lit("building").alias("slice")
    )
    automobile = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey", "c_name", F.lit("automobile").alias("slice")
    )
    pending = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return building.unionByName(automobile).join(
        pending, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )


# ---------------------------------------------------------------------------
# A6+W3: keep-first dedupe by key with a deterministic order — the
# reference's skip-already-seen accumulation.
# Reference: national/_3308/extract.py:86-89; SQL DISTINCT ON at
# queries/election_candidates_by_electionyear.sql:8.
# ---------------------------------------------------------------------------
@register(
    "dedupe_first_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate,
           o_totalprice AS first_totalprice
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) t
    WHERE rn = 1
    """,
    doc="A6+W3: keep-first per key (deterministic dropDuplicates)",
)
def dedupe_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # min(struct(...)) instead of a row_number window: same keep-first-by-
    # (o_orderdate, o_orderkey) semantics (o_orderkey is unique, so the
    # lexicographic struct order is total), but with map-side partial
    # aggregation — the shuffle moves one candidate per customer per
    # partition, not the whole orders table plus a sort.
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.min(
                F.struct("o_orderdate", "o_orderkey", "o_totalprice")
            ).alias("s")
        )
        .select(
            "o_custkey",
            F.col("s.o_orderkey").alias("first_orderkey"),
            F.col("s.o_orderdate").alias("first_orderdate"),
            F.col("s.o_totalprice").alias("first_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# J1+SET3: master–detail left join with right-biased merge (dict-union
# semantics: detail values win where present, card values otherwise).
# Reference: billtrack50_app/extract.py:105-133 (left-join merge at 122-129,
# dict-union at 127-129); national/_2439/extract.py:62-89.
# ---------------------------------------------------------------------------
@register(
    "j_master_detail_parts",
    oracle="""
    SELECT p.p_partkey, p.p_name, p.p_brand,
           COALESCE(d.n_lines, 0) AS n_lines,
           CAST(COALESCE(d.total_qty, 0) AS DOUBLE) AS total_qty
    FROM part p
    LEFT JOIN (
      SELECT l_partkey,
             COUNT(*) AS n_lines,
             CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 2) AS DOUBLE) AS total_qty
      FROM lineitem
      GROUP BY l_partkey
    ) d ON d.l_partkey = p.p_partkey
    """,
    doc="J1+SET3: master-detail left join, coalesce merge (unmatched keep card)",
)
def j_master_detail_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    detail = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(F.col("l_quantity").cast(DEC)), 2)
        .cast("double")
        .alias("total_qty"),
    )
    return (
        part.join(detail, F.col("l_partkey") == F.col("p_partkey"), "left")
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.coalesce(F.col("total_qty"), F.lit(0.0)).cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# A4+A5: distinct-set collection + min/max — the matcher derives its SQL
# parameter sets (offices, states, year window) from the data this way.
# Reference: votervoice/match.py:111-122; national/_1034/match.py:91-92.
# ---------------------------------------------------------------------------
@register(
    "agg_param_derivation",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|') AS statuses,
           MIN(o_orderdate) AS term_start,
           MAX(o_orderdate) AS term_end,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
    doc="A4+A5: collect_set -> sorted param list + min/max window derivation",
)
def agg_param_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), "|").alias("statuses"),
        F.min("o_orderdate").alias("term_start"),
        F.max("o_orderdate").alias("term_end"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# O2+O3+W5: latest-group selection — order by the group key descending and
# keep the newest (the reference picks the most recent session when no year
# is given).
# Reference: votervoice/__main__.py:154-159; queries/office_list.sql:3.
# ---------------------------------------------------------------------------
@register(
    "w_latest_session",
    oracle="""
    SELECT o_orderpriority AS session, n_orders, max_price
    FROM (
      SELECT o_orderpriority,
             COUNT(*) AS n_orders,
             MAX(o_totalprice) AS max_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority DESC
      LIMIT 1
    ) t
    """,
    doc="W5+O2+O3: latest group by sort-desc + limit 1",
)
def w_latest_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy(F.col("o_orderpriority").desc())
        .limit(1)
        .select(F.col("o_orderpriority").alias("session"), "n_orders", "max_price")
    )


# ---------------------------------------------------------------------------
# Per-group OLS regression (slope/intercept/r2) from sufficient statistics:
# the distributed form of a regression is five exact sums
# (n, Σx, Σy, Σxx, Σxy, Σyy) — one map-side-combinable groupBy, no second
# pass, no residual join. DETERMINISM: the 2-decimal measures are
# quantized to integer cents first, so every sum is an exact integer
# (summed as DECIMAL(38,0) for 100 TB headroom); the slope/r2 formulas
# are scale-invariant (cov(100x,100y)/var(100x) = cov(x,y)/var(x)), and
# the only descaling (intercept's /100) divides by an exactly-
# representable power of ten — so both engines run identical IEEE ops on
# identical inputs and the hash is exact. Converting the wide DECIMAL
# sums to double directly (the first cut) differed at 1 ulp between
# engines (>17 significant digits round differently); integers don't.
# Reference parity: the score-index derivations (billtrack50_app/
# extract.py:59-79) are the same Σ,Σ·expr,ratio shape; this generalizes
# them to the standard least-squares kernel a stats layer needs.
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH q AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS xi,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yi
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(xi) AS sx, SUM(yi) AS sy,
         SUM(xi * xi) AS sxx, SUM(xi * yi) AS sxy, SUM(yi * yi) AS syy
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS slope,
       (CAST(sy AS DOUBLE) / 100.0
          - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(sx AS DOUBLE) / 100.0))
         / CAST(n AS DOUBLE) AS intercept,
       ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS r2
FROM s
"""


@register(
    "agg_group_ols",
    oracle=_OLS_ORACLE,
    doc="per-group OLS slope/intercept/r2 from integer-cent sufficient"
        " statistics: one combinable groupBy, double math only at the end",
)
def agg_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    xi = F.round(F.col("l_quantity") * 100).cast("bigint")
    yi = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    s = li.select("l_returnflag", xi.alias("xi"), yi.alias("yi")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xi").cast(d38)).alias("sx"),
        F.sum(F.col("yi").cast(d38)).alias("sy"),
        F.sum((F.col("xi") * F.col("xi")).cast(d38)).alias("sxx"),
        F.sum((F.col("xi") * F.col("yi")).cast(d38)).alias("sxy"),
        F.sum((F.col("yi") * F.col("yi")).cast(d38)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    cov_n = nd * sxy - sx * sy
    var_n = nd * sxx - sx * sx
    vary_n = nd * syy - sy * sy
    slope = cov_n / var_n
    return s.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((sy / F.lit(100.0) - slope * (sx / F.lit(100.0))) / nd).alias("intercept"),
        ((cov_n * cov_n) / (var_n * vary_n)).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Pareto concentration: the top-100 customers by lifetime revenue with
# their cumulative share of TOTAL revenue. Scale shape: revenue per
# customer is one combinable groupBy; the global "sort" is a TakeOrdered
# of 100 rows (never a full sort); the cumulative window then runs over
# those 100 rows only, with the grand total joined in as a broadcast
# 1-row aggregate — so nothing driver-side or unbounded depends on
# customer count. DETERMINISM: revenue is summed in exact integer cents
# (DECIMAL(38,0) for headroom); cents -> dollars divides an exactly-
# converted integer double by 100.0, and the share is one division of
# two such doubles — identical IEEE ops on identical inputs, hash-exact
# (wide fractional DECIMAL -> DOUBLE conversion is NOT cross-engine
# stable; integer cents are).
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
total AS (SELECT SUM(cents) AS tot FROM rev),
top AS (
  SELECT o_custkey, cents,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rnk
  FROM rev QUALIFY rnk <= 100
)
SELECT t.o_custkey, t.rnk,
       CAST(t.cents AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(t.cents) OVER (ORDER BY t.rnk ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / CAST(total.tot AS DOUBLE) AS cum_share
FROM top t, total
"""


@register(
    "orders_pareto_share",
    oracle=_PARETO_ORACLE,
    doc="top-100 customer revenue concentration: TakeOrdered head, "
        "100-row cumulative window, broadcast grand total — no global sort",
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint").cast("decimal(38,0)")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    total = rev.groupBy().agg(F.sum("cents").alias("tot"))
    top = (
        rev.orderBy(F.desc("cents"), "o_custkey")
        .limit(100)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("cents"), "o_custkey")),
        )
    )
    cum = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    return top.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        "rnk",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (F.sum("cents").over(cum).cast("double") / F.col("tot").cast("double")).alias(
            "cum_share"
        ),
    )


# RFM segmentation: per customer, recency (days since last order vs the
# corpus max date), frequency (order count), monetary (lifetime cents),
# each bucketed into quartile classes, concatenated into the classic
# 'RFM' segment code. Scale shape: one combinable groupBy to the
# per-customer frame, then the three quartile BOUNDARIES (9 numbers) are
# computed in one plan and broadcast, and every customer is classified by
# comparison — NO global ntile window, because an unpartitioned ntile
# over millions of customers is a single-task global sort (the
# anti-pattern the first cut of this query contained). Boundary
# semantics, not equal-count semantics: customers tied at a boundary
# land in the same bucket (the defensible business rule anyway).
#
# ROUND-7 DRIVER-ENVIRONMENT HARDENING: the r6 cut used
# percentile_disc/quantile_disc for the 9 boundaries and stayed driver
# hash-red (while local DuckDB matched bit-for-bit), so the element pick
# uses NO engine percentile function on either engine: the same type-1
# rule as pure bigint comparisons (_discrete_boundaries). Recency
# likewise drops engine date_diff conventions for epoch-day arithmetic
# (floor(epoch_seconds/86400) difference — identical IEEE ops both
# engines). Every output column is bigint/int/string; no double and no
# engine-convention function anywhere in the decision path.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH maxd AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
cust AS (
  SELECT o_custkey,
         CAST(floor(epoch((SELECT dmax FROM maxd)) / 86400.0)
              - floor(epoch(MAX(o_orderdate)) / 86400.0) AS BIGINT)
           AS recency_days,
         COUNT(*) AS frequency,
         -- outer CAST: SUM(BIGINT) widens to HUGEINT, whose pandas
         -- bridge is float64 — the driver-red dtype seam (see
         -- tools/dtype_seam_scan.py); BIGINT keeps both engines int64.
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
),
vr AS (SELECT recency_days AS v, COUNT(*) AS n FROM cust GROUP BY 1),
cr AS (
  SELECT v,
         SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(n) OVER () AS total
  FROM vr
),
br AS (
  SELECT MIN(CASE WHEN cum * 4 >= total * 1 THEN v END) AS r1,
         MIN(CASE WHEN cum * 2 >= total * 1 THEN v END) AS r2,
         MIN(CASE WHEN cum * 4 >= total * 3 THEN v END) AS r3
  FROM cr
),
vf AS (SELECT frequency AS v, COUNT(*) AS n FROM cust GROUP BY 1),
cf AS (
  SELECT v,
         SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(n) OVER () AS total
  FROM vf
),
bf AS (
  SELECT MIN(CASE WHEN cum * 4 >= total * 1 THEN v END) AS f1,
         MIN(CASE WHEN cum * 2 >= total * 1 THEN v END) AS f2,
         MIN(CASE WHEN cum * 4 >= total * 3 THEN v END) AS f3
  FROM cf
),
vm AS (SELECT monetary_cents AS v, COUNT(*) AS n FROM cust GROUP BY 1),
cm AS (
  SELECT v,
         SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(n) OVER () AS total
  FROM vm
),
bm AS (
  SELECT MIN(CASE WHEN cum * 4 >= total * 1 THEN v END) AS m1,
         MIN(CASE WHEN cum * 2 >= total * 1 THEN v END) AS m2,
         MIN(CASE WHEN cum * 4 >= total * 3 THEN v END) AS m3
  FROM cm
),
b AS (SELECT * FROM br CROSS JOIN bf CROSS JOIN bm),
scored AS (
  SELECT c.*,
         1 + CAST(c.recency_days > b.r1 AS INTEGER)
           + CAST(c.recency_days > b.r2 AS INTEGER)
           + CAST(c.recency_days > b.r3 AS INTEGER) AS r_quart,
         1 + CAST(c.frequency < b.f3 AS INTEGER)
           + CAST(c.frequency < b.f2 AS INTEGER)
           + CAST(c.frequency < b.f1 AS INTEGER) AS f_quart,
         1 + CAST(c.monetary_cents < b.m3 AS INTEGER)
           + CAST(c.monetary_cents < b.m2 AS INTEGER)
           + CAST(c.monetary_cents < b.m1 AS INTEGER) AS m_quart
  FROM cust c CROSS JOIN b
)
SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency,
       monetary_cents,
       r_quart, f_quart, m_quart,
       CAST(r_quart AS VARCHAR) || CAST(f_quart AS VARCHAR)
         || CAST(m_quart AS VARCHAR) AS segment
FROM scored
"""


def _discrete_boundaries(
    df: DataFrame, metrics: list[tuple[str, int, list[tuple[str, int, int]]]]
) -> DataFrame:
    """Exact type-1 (inverse-CDF) discrete quantile boundaries of several
    columns in ONE plan, with NO engine percentile function. ``metrics``
    is ``[(col, bin_width, [(alias, num, den), ...]), ...]``; the one
    result row holds, per alias, the smallest BIGINT value v of its column
    with cum_count(v) * den >= n * num — pure bigint comparisons over
    cumulative value counts, so the pick cannot vary with an engine's
    percentile element convention (the round-7 driver-seam fix).

    Scale shape: the columns are stacked into one long (m, v) frame whose
    value counts are one map-side-combinable groupBy. Every window is
    partitioned: the cumulative bin counts by metric, over FIXED-WIDTH
    BINS bounded by value_range / bin_width independent of input rows;
    the in-bin refinement by alias, over its boundary bin's distinct
    values only. Nothing here sorts the full value set globally.
    """
    stack = ", ".join(
        f"struct({m} AS m, {w}L AS w, CAST({c} AS BIGINT) AS v)"
        for m, (c, w, _) in enumerate(metrics)
    )
    vc = (
        df.select(F.expr(f"inline(array({stack}))"))
        .groupBy("m", "w", "v")
        .agg(F.count(F.lit(1)).alias("vn"))
        .withColumn("bin", F.floor(F.col("v") / F.col("w")))
    )
    up_to = (Window.unboundedPreceding, 0)
    wb = Window.partitionBy("m").orderBy("bin").rowsBetween(*up_to)
    bc = (
        vc.groupBy("m", "bin")
        .agg(F.sum("vn").alias("bn"))
        .withColumn("cumb", F.sum("bn").over(wb))
        .withColumn("total", F.sum("bn").over(Window.partitionBy("m")))
    )
    rows = [(m, a, n, d) for m, (_, _, qs) in enumerate(metrics) for a, n, d in qs]
    targets = local_frame(
        df.sparkSession, rows, "m int, alias string, num bigint, den bigint"
    )
    # Boundary bin = smallest bin whose cumulative count reaches the
    # target rank; the boundary VALUE then lies inside that bin.
    sel = (
        bc.join(F.broadcast(targets), "m")
        .filter("cumb * den >= total * num")
        .groupBy("m", "alias", "num", "den")
        .agg(F.min(F.expr("struct(bin, cumb - bn AS cum_before, total)")).alias("q"))
        .select("m", "alias", "num", "den", "q.*")
    )
    wv = Window.partitionBy("alias").orderBy("v").rowsBetween(*up_to)
    pick = (
        vc.join(F.broadcast(sel), ["m", "bin"])
        .withColumn("cumv", F.sum("vn").over(wv))
        .filter("(cum_before + cumv) * den >= total * num")
    )
    return pick.agg(
        *[F.min(F.when(F.col("alias") == a, F.col("v"))).alias(a) for _, a, *_ in rows]
    )


@register(
    "orders_rfm_segmentation",
    oracle=_RFM_ORACLE,
    doc="RFM quartile segmentation: combinable per-customer rollup +"
        " broadcast 9-number quartile boundaries, comparison bucketing —"
        " no global ntile window; boundaries picked by explicit"
        " cumulative-count rank arithmetic (no engine percentile"
        " function), all-integer decision path",
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    maxd = o.groupBy().agg(F.max("o_orderdate").alias("dmax"))
    # Epoch-day recency: floor(epoch_seconds/86400) difference — identical
    # IEEE ops on both engines, no engine date_diff boundary convention.
    dayno = lambda c: F.floor(F.unix_timestamp(c) / 86400.0)  # noqa: E731
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            (dayno(F.col("dmax")) - dayno(F.col("last_order")))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        # One orders scan total: the rollup feeds the one boundary plan
        # and the final classification — checkpoint it instead of
        # replaying the scan+shuffle in both branches.
        .localCheckpoint(eager=True)
    )
    quarts = [("1", 1, 4), ("2", 1, 2), ("3", 3, 4)]
    b = _discrete_boundaries(
        cust,
        [
            (col, width, [(f"{p}{s}", n, d) for s, n, d in quarts])
            for p, col, width in (
                ("r", "recency_days", 64),
                ("f", "frequency", 4),
                ("m", "monetary_cents", 1_000_000),
            )
        ],
    )
    j = cust.crossJoin(F.broadcast(b))
    r_q = (
        F.lit(1)
        + (F.col("recency_days") > F.col("r1")).cast("int")
        + (F.col("recency_days") > F.col("r2")).cast("int")
        + (F.col("recency_days") > F.col("r3")).cast("int")
    )
    f_q = (
        F.lit(1)
        + (F.col("frequency") < F.col("f3")).cast("int")
        + (F.col("frequency") < F.col("f2")).cast("int")
        + (F.col("frequency") < F.col("f1")).cast("int")
    )
    m_q = (
        F.lit(1)
        + (F.col("monetary_cents") < F.col("m3")).cast("int")
        + (F.col("monetary_cents") < F.col("m2")).cast("int")
        + (F.col("monetary_cents") < F.col("m1")).cast("int")
    )
    return j.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        r_q.alias("r_quart"),
        f_q.alias("f_quart"),
        m_q.alias("m_quart"),
        F.concat(
            r_q.cast("string"), f_q.cast("string"), m_q.cast("string")
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: part pairs that co-occur in the same order,
# scored by support and lift. The pair join is bounded BY CONSTRUCTION:
# lineitem has at most 7 lines per order, so the order-keyed self-join
# emits <= C(7,2) = 21 pairs per order — pair volume is linear in
# orders, never parts^2 (the same posting-list discipline as the dedup
# family, with the order as the posting). Lift =
# n_orders * co / (cnt_a * cnt_b): three exact integers and two IEEE
# ops, so the hash is exact. Top-50 by (co, lift, pair) is a
# deterministic TakeOrdered.
# ---------------------------------------------------------------------------

_AFFINITY_ORACLE = """
WITH lines AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cnt AS (SELECT l_partkey, COUNT(*) AS n FROM lines GROUP BY l_partkey),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lines),
co AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS co
  FROM lines a JOIN lines b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
scored AS (
  SELECT co.part_a, co.part_b, co.co, ca.n AS cnt_a, cb.n AS cnt_b,
         CAST(tot.n_orders AS DOUBLE) * CAST(co.co AS DOUBLE)
           / (CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)) AS lift
  FROM co
  JOIN cnt ca ON ca.l_partkey = co.part_a
  JOIN cnt cb ON cb.l_partkey = co.part_b
  CROSS JOIN tot
)
SELECT part_a, part_b, co, cnt_a, cnt_b, lift
FROM (
  SELECT *, row_number() OVER (ORDER BY co DESC, lift DESC, part_a, part_b) AS rn
  FROM scored
) WHERE rn <= 50
"""


@register(
    "j_part_affinity",
    oracle=_AFFINITY_ORACLE,
    doc="market-basket part-pair support + lift: order-keyed self-join"
        " bounded at C(7,2) pairs/order (linear in orders), integer-"
        "exact lift, deterministic top-50",
)
def j_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select("l_orderkey", "l_partkey").distinct()
    cnt = lines.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    tot = lines.groupBy().agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = lines.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = lines.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    co = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("cnt_a"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("cnt_b"))
    lift = (
        F.col("n_orders").cast("double") * F.col("co").cast("double")
        / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double"))
    )
    return (
        co.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select("part_a", "part_b", "co", "cnt_a", "cnt_b", lift.alias("lift"))
        .orderBy(F.desc("co"), F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Two-proportion A/B z-test: click-through ("click" vs "view") compared
# between two user cohorts (odd/even user_id — a deterministic split of
# the events fixture). The distributed part is ONE combinable
# conditional-count groupBy; the pooled-proportion z statistic is then
# a short IEEE chain over five exact integers, so it hashes exactly —
# the same integers-first discipline as agg_group_ols. The judgment
# column |z| >= 1.96 gives the 95% two-sided call.
# ---------------------------------------------------------------------------

_ABTEST_ORACLE = """
WITH base AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
         CAST(event_type = 'click' AS INTEGER) AS is_click
  FROM events WHERE event_type IN ('click', 'view')
),
agg AS (
  SELECT cohort, COUNT(*) AS n, SUM(is_click) AS clicks
  FROM base GROUP BY cohort
),
w AS (
  SELECT
    MAX(CASE WHEN cohort = 'A' THEN n END) AS n_a,
    MAX(CASE WHEN cohort = 'A' THEN clicks END) AS c_a,
    MAX(CASE WHEN cohort = 'B' THEN n END) AS n_b,
    MAX(CASE WHEN cohort = 'B' THEN clicks END) AS c_b
  FROM agg
)
SELECT n_a, CAST(c_a AS BIGINT) AS c_a, n_b, CAST(c_b AS BIGINT) AS c_b,
       CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         / sqrt(
             (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             * (1 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
           ) AS z,
       ABS((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
            - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
           / sqrt(
               (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (1 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
             )) >= 1.96 AS significant
FROM w
"""


@register(
    "events_ab_test",
    oracle=_ABTEST_ORACLE,
    doc="two-proportion pooled z-test between deterministic user"
        " cohorts: one combinable conditional-count groupBy, then an"
        " IEEE chain over five exact integers",
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    base = ev.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("cohort"),
        (F.col("event_type") == "click").cast("int").alias("is_click"),
    )
    agg = base.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_click").alias("clicks")
    )
    w = agg.groupBy().agg(
        F.max(F.when(F.col("cohort") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("cohort") == "A", F.col("clicks"))).alias("c_a"),
        F.max(F.when(F.col("cohort") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("cohort") == "B", F.col("clicks"))).alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    rb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pool
        * (F.lit(1) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = (ra - rb) / se
    return w.select(
        "n_a",
        F.col("c_a").cast("bigint").alias("c_a"),
        "n_b",
        F.col("c_b").cast("bigint").alias("c_b"),
        ra.alias("rate_a"),
        rb.alias("rate_b"),
        z.alias("z"),
        (F.abs(z) >= 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Monthly revenue with MoM growth — the BI staple. The raw scan
# collapses to |months| rows (combinable integer-cent sums) BEFORE the
# lag window runs, so the window input is bounded by the calendar, not
# the data. Growth is one subtraction and one division over exactly-
# converted integer cents (the agg_group_ols discipline); first month's
# growth is NULL by definition.
# ---------------------------------------------------------------------------

_MONTHLY_ORACLE = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month, n_orders,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       (CAST(cents AS DOUBLE) - CAST(lag(cents) OVER (ORDER BY month) AS DOUBLE))
         / CAST(lag(cents) OVER (ORDER BY month) AS DOUBLE) AS mom_growth
FROM m
"""


@register(
    "orders_monthly_growth",
    oracle=_MONTHLY_ORACLE,
    doc="monthly revenue + MoM growth: calendar-bounded lag window over"
        " pre-collapsed integer-cent partials",
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev = F.lag("cents").over(w)
    return m.select(
        "month",
        "n_orders",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            (F.col("cents").cast("double") - prev.cast("double"))
            / prev.cast("double")
        ).alias("mom_growth"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q5-shaped regional volume: the canonical 6-table join tree
# (region -> nation -> customer -> orders -> lineitem -> supplier, with
# the local-supplier condition c_nationkey = s_nationkey) + a grouped
# decimal revenue rollup. What the plan should be at 100 TB: region/
# nation broadcast (tiny dims), customer and supplier broadcast at test
# scale but shuffle-join on keys at warehouse scale (Catalyst's choice,
# not hand-coded), orders->lineitem as the one fact-fact shuffle, all
# non-equi conditions (date range) pushed to the scans. Revenue goes
# through DECIMAL so the rollup hashes.
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(38,10))
                      * CAST(1 - l.l_discount AS DECIMAL(38,10))), 2) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_items
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
"""


@register(
    "j_q5_region_volume",
    oracle=_Q5_ORACLE,
    doc="TPC-H Q5 shape: 6-table join tree with the local-supplier"
        " condition, date range pushed to the orders scan, decimal"
        " revenue rollup",
)
def j_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    joined = (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
    )
    rev = F.sum(
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast(DEC)
    )
    return joined.groupBy("n_name").agg(
        F.round(rev, 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV matrix: customers grouped by first-order month, tracked
# over months-since-first, with cohort size, active customers, and
# CUMULATIVE revenue per cohort — the lifetime-value curve every
# subscription/commerce warehouse maintains (the orders twin of
# events_retention). Scale shape: one customer-keyed window finds the
# cohort month (first order), the matrix groupBy collapses to
# |cohorts| x |offsets| rows BEFORE the cumulative window runs, and
# cohort sizes join back as a broadcast. Integer cents + counts keep
# every cell exact; months_since is an integer month diff.
# ---------------------------------------------------------------------------

_COHORT_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey
),
sized AS (SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort),
cells AS (
  SELECT f.cohort,
         CAST(date_diff('month', f.cohort, date_trunc('month', o.o_orderdate))
              AS BIGINT) AS months_since,
         COUNT(DISTINCT o.o_custkey) AS active_customers,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
  GROUP BY 1, 2
)
SELECT c.cohort, c.months_since, s.cohort_size, c.active_customers,
       CAST(SUM(c.cents) OVER (PARTITION BY c.cohort ORDER BY c.months_since
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
         / CAST(s.cohort_size AS DOUBLE) AS cum_ltv_per_customer
FROM cells c JOIN sized s USING (cohort)
"""


@register(
    "orders_cohort_ltv",
    oracle=_COHORT_LTV_ORACLE,
    doc="cohort LTV matrix: first-order-month cohorts x months-since,"
        " cumulative revenue per customer — matrix collapsed to"
        " |cohorts| x |offsets| before any window",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("cohort")
    )
    sized = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    cells = (
        o.join(firsts, "o_custkey")
        .select(
            "cohort",
            (
                (F.year(F.date_trunc("month", F.col("o_orderdate"))) - F.year("cohort")) * 12
                + (F.month(F.date_trunc("month", F.col("o_orderdate"))) - F.month("cohort"))
            )
            .cast("bigint")
            .alias("months_since"),
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("cohort", "months_since")
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.sum("cents").alias("cents"),
        )
    )
    cum = (
        Window.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.join(F.broadcast(sized), "cohort").select(
        "cohort",
        "months_since",
        "cohort_size",
        "active_customers",
        (
            F.sum("cents").over(cum).cast("double")
            / F.lit(100.0)
            / F.col("cohort_size").cast("double")
        ).alias("cum_ltv_per_customer"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-shaped shipping-priority query (round 6): unshipped-revenue
# top-10 for one market segment — the classic 3-table selective-join
# rollup. Scale shape: the segment filter reduces customer BEFORE the
# join (predicate pushdown to the parquet scan) and that side broadcasts;
# orders⋈lineitem is the only real shuffle, on the join key both sides
# already aggregate by. Revenue follows the repo's cents discipline:
# round(price*(1-disc)*100) per line as BIGINT, summed exactly — the
# ordering key can't flap on float addition order. Top-10 by (revenue
# DESC, o_orderdate ASC, l_orderkey ASC) is a deterministic TakeOrdered,
# not a global sort.
# ---------------------------------------------------------------------------

_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1998-06-01"

_Q3_ORACLE = f"""
SELECT l.l_orderkey,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{_Q3_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{_Q3_DATE}'
  AND l.l_shipdate > TIMESTAMP '{_Q3_DATE}'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue_cents DESC, o.o_orderdate ASC, l.l_orderkey ASC
LIMIT 10
"""


@register(
    "j_q3_shipping_priority",
    oracle=_Q3_ORACLE,
    doc="TPC-H Q3 shape: segment-filtered customer (broadcast) x orders"
        " x lineitem, exact integer-cents revenue, deterministic top-10"
        " TakeOrdered",
)
def j_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _Q3_SEGMENT)
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        # No broadcast hint on customer: it grows with the corpus (~1.5 B
        # rows at 100 TB TPC-H), and a FORCED broadcast both OOMs there
        # and strips AQE's ability to fall back to shuffle. AQE still
        # picks broadcast at test scale on its own (VERDICT r6 task 3).
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(cents).cast("bigint").alias("revenue_cents"))
        .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.desc("revenue_cents"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Data-quality validation report (round 6): the pre-flight contract
# check a pipeline runs before publishing a batch — referential
# integrity (order -> customer FK orphans), key uniqueness (duplicate
# order PKs), completeness (null keys), and range rules (non-positive
# prices, line numbers outside 1..7), one row per check. Scale shape:
# each check is a combinable count aggregate; the FK check is the only
# join and runs as a LEFT ANTI against the key column only (column
# pruning leaves a 1-column build side that broadcasts). All counts
# are exact integers; the report frame is |checks| rows regardless of
# corpus size. The union of checks is a plan-level union of already-
# reduced one-row frames, not a union of scans.
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
WITH orders_b AS (
  SELECT o_orderkey, o_custkey FROM orders
  UNION ALL
  SELECT o_orderkey, -o_custkey - 1000000 AS o_custkey
  FROM orders WHERE o_orderkey % 997 = 0
),
line_b AS (
  SELECT l_orderkey, l_extendedprice, l_linenumber FROM lineitem
  UNION ALL
  SELECT CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_orderkey END
           AS l_orderkey,
         -l_extendedprice AS l_extendedprice,
         l_linenumber + 7 AS l_linenumber
  FROM lineitem WHERE l_orderkey % 991 = 0
),
fk AS (
  SELECT 'orders_custkey_fk_orphans' AS check_name,
         CAST(COUNT(*) AS BIGINT) AS n_violations,
         (SELECT COUNT(*) FROM orders_b) AS n_total
  FROM orders_b o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
),
pk AS (
  SELECT 'orders_orderkey_pk_dups' AS check_name,
         CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n_violations,
         (SELECT COUNT(*) FROM orders_b) AS n_total
  FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders_b GROUP BY o_orderkey
        HAVING COUNT(*) > 1)
),
nulls AS (
  SELECT 'lineitem_orderkey_nulls' AS check_name,
         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
         COUNT(*) AS n_total
  FROM line_b
),
price AS (
  SELECT 'lineitem_nonpositive_price' AS check_name,
         CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
         COUNT(*) AS n_total
  FROM line_b
),
lineno AS (
  SELECT 'lineitem_linenumber_range' AS check_name,
         CAST(SUM(CASE WHEN l_linenumber < 1 OR l_linenumber > 7
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
         COUNT(*) AS n_total
  FROM line_b
)
SELECT * FROM fk UNION ALL SELECT * FROM pk UNION ALL SELECT * FROM nulls
UNION ALL SELECT * FROM price UNION ALL SELECT * FROM lineno
"""


@register(
    "dq_validation_report",
    oracle=_DQ_ORACLE,
    doc="data-quality pre-flight: FK orphans (anti-join on pruned key"
        " column), duplicate PKs, null keys, range rules — one integer"
        " row per check, |checks| rows at any corpus size; violations"
        " PLANTED deterministically (the driver fixture is clean, so an"
        " all-zero report would prove nothing)",
)
def dq_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    # The driver fixture is clean; plant deterministic violations so
    # every check exercises a real positive (same planted-fixture
    # discipline as llm_prefix_dedup's truncated twins): 16 orphaned
    # duplicate-PK order rows, 71 line rows violating null/price/range.
    o0 = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    o = o0.unionByName(
        o0.filter(F.col("o_orderkey") % 997 == 0).select(
            "o_orderkey", (-F.col("o_custkey") - 1000000).alias("o_custkey")
        )
    )
    li0 = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_linenumber"
    )
    li = li0.unionByName(
        li0.filter(F.col("l_orderkey") % 991 == 0).select(
            F.when(F.col("l_linenumber") % 3 == 0, F.lit(None))
            .otherwise(F.col("l_orderkey"))
            .alias("l_orderkey"),
            (-F.col("l_extendedprice")).alias("l_extendedprice"),
            (F.col("l_linenumber") + 7).alias("l_linenumber"),
        )
    )

    # ONE pass per table (the planted union of the largest table must not
    # be scanned once per check): orders takes a single broadcast left
    # join against the pruned customer key then a per-orderkey rollup
    # carrying both the FK-orphan flag sum and the group count, so the
    # global aggregate yields n_total, FK orphans, and PK dups together;
    # lineitem computes all three conditional sums plus the count in one
    # aggregate. The 5 report rows come from a stack() unpivot of the
    # two 1-row aggregates — same violation/total numbers as the oracle's
    # per-check CTEs, which DuckDB shares via line_b/orders_b.
    ostats = (
        # Customer keyset grows with the corpus — no forced broadcast;
        # AQE chooses the strategy (VERDICT r6 task 3).
        o.join(
            c.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "fk_viol"
            ),
        )
        .groupBy()
        .agg(
            F.sum("cnt").alias("o_total"),
            F.sum("fk_viol").cast("bigint").alias("fk_orphans"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0))
            .cast("bigint")
            .alias("pk_dups"),
        )
    )
    listats = li.groupBy().agg(
        F.count(F.lit(1)).alias("l_total"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("nulls_viol"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("price_viol"),
        F.sum(
            F.when((F.col("l_linenumber") < 1) | (F.col("l_linenumber") > 7), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("lineno_viol"),
    )
    return ostats.crossJoin(listats).selectExpr(
        """stack(5,
             'orders_custkey_fk_orphans', fk_orphans, o_total,
             'orders_orderkey_pk_dups', pk_dups, o_total,
             'lineitem_orderkey_nulls', nulls_viol, l_total,
             'lineitem_nonpositive_price', price_viol, l_total,
             'lineitem_linenumber_range', lineno_viol, l_total
           ) AS (check_name, n_violations, n_total)"""
    )


# ---------------------------------------------------------------------------
# TPC-H Q10-shaped returned-items report (round 6): which customers
# returned the most revenue in a quarter — the classic
# fact-fact-dim rollup with a selective time+flag predicate. Scale
# shape: both date and returnflag predicates sit on the scans
# (PushedFilters), nation broadcasts, orders⋈lineitem shuffles once on
# the join key, and the per-customer rollup reuses that key's
# partitioning lineage. Revenue in exact integer cents; top-20 by
# (revenue DESC, custkey ASC) is a deterministic TakeOrdered.
# ---------------------------------------------------------------------------

_Q10_START = "1996-01-01"
_Q10_END = "1996-04-01"

_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS lost_revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_returned_lines
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '{_Q10_START}'
  AND o.o_orderdate < TIMESTAMP '{_Q10_END}'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_revenue_cents DESC, c.c_custkey ASC
LIMIT 20
"""


@register(
    "j_q10_returned_items",
    oracle=_Q10_ORACLE,
    doc="TPC-H Q10 shape: quarter+returnflag predicates pushed to the"
        " scans, nation broadcast, single orders-lineitem shuffle,"
        " integer-cents revenue, deterministic top-20 TakeOrdered",
)
def j_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_Q10_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_Q10_END).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        o.join(l, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(cents).cast("bigint").alias("lost_revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_returned_lines"),
        )
        .orderBy(F.desc("lost_revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Hierarchy flattening (round 6): every node's ROOT ancestor and DEPTH
# over a parent-pointer tree — the org-chart / bill-of-materials /
# category-tree traversal that ANSI SQL writes as a recursive CTE and
# Spark has no native operator for. The engine answers with POINTER
# DOUBLING (the same O(log diameter) iterative-join discipline as
# connected_components): each round every node's ancestor pointer jumps
# to its ancestor's ancestor and distances add, so a depth-d chain
# resolves in ceil(log2(d)) rounds of keyed equi-joins — never one
# round per LEVEL (the naive translation that makes deep trees
# unrunnable at scale). Roots self-loop with distance 0, making the
# fixed point idempotent; each round localCheckpoints (same loop-
# invariant discipline as CC). The tree is synthesized from the
# customer dim (parent = custkey // 10, roots < 10 — custkeys are
# contiguous so every parent exists); the oracle is the genuine
# recursive CTE, so hash equality proves iterative doubling ==
# recursive traversal.
# ---------------------------------------------------------------------------

_HIER_ORACLE = """
WITH RECURSIVE walk(node, root_key, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, w.root_key, w.depth + 1
  FROM customer c JOIN walk w ON w.node = c.c_custkey // 10
  WHERE c.c_custkey >= 10
)
SELECT node AS c_custkey, root_key, CAST(depth AS BIGINT) AS depth
FROM walk
"""


@register(
    "j_hierarchy_flatten",
    oracle=_HIER_ORACLE,
    doc="recursive-CTE stand-in: root ancestor + depth over a parent-"
        "pointer tree by pointer doubling — O(log depth) keyed joins,"
        " not one join per level; oracle is the real recursive CTE",
)
def j_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    parent = F.when(
        F.col("c_custkey") >= 10, F.floor(F.col("c_custkey") / 10).cast("bigint")
    )
    cur = c.select(
        F.col("c_custkey").cast("bigint").alias("node"),
        F.coalesce(parent, F.col("c_custkey").cast("bigint")).alias("anc"),
        F.when(parent.isNull(), F.lit(0)).otherwise(F.lit(1)).cast("bigint").alias(
            "dist"
        ),
    ).localCheckpoint()
    for _ in range(12):  # 2^12 depth headroom; fixture needs 2 rounds
        x, y = cur.alias("x"), cur.alias("y")
        jumped = (
            x.join(y, F.col("x.anc") == F.col("y.node"))
            .select(
                F.col("x.node").alias("node"),
                F.col("y.anc").alias("anc"),
                (F.col("x.dist") + F.col("y.dist")).alias("dist"),
            )
            .localCheckpoint()
        )
        moved = (
            jumped.alias("j")
            .join(cur.alias("c"), F.col("j.node") == F.col("c.node"))
            .filter(F.col("j.dist") != F.col("c.dist"))
            .count()
        )
        cur = jumped
        if moved == 0:
            break
    else:
        raise RuntimeError(
            "hierarchy flatten did not converge in 12 doubling rounds; "
            "tree deeper than 2^12 — raise the round cap"
        )
    return cur.select(
        F.col("node").alias("c_custkey"),
        F.col("anc").alias("root_key"),
        F.col("dist").alias("depth"),
    )


# ---------------------------------------------------------------------------
# Ranking-function breadth (round 6): percent_rank, cume_dist and
# quartile ntile of each customer's lifetime revenue WITHIN their
# market segment — the analyst-facing ranking trio the W-series had
# not yet exercised. Scale shape: revenue is one combinable groupBy to
# the per-customer frame; all three rankings share ONE segment-keyed
# window (partition-parallel across segments, never global — the
# unpartitioned-window anti-pattern this repo bans). Ordering is total
# (cents DESC, custkey ASC) so ranks are deterministic; percent_rank
# and cume_dist are single IEEE divisions of identical integer ranks,
# ntile is integer bucketing — all hash-exact.
# ---------------------------------------------------------------------------

_PRANK_ORACLE = """
WITH rev AS (
  SELECT c.c_mktsegment, o.o_custkey,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_mktsegment, o.o_custkey
)
SELECT c_mktsegment, o_custkey, revenue_cents,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM rev
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY revenue_cents DESC, o_custkey ASC)
"""


@register(
    "w_revenue_percentile",
    oracle=_PRANK_ORACLE,
    doc="percent_rank + cume_dist + ntile(4) of customer revenue within"
        " market segment: one segment-keyed window shared by all three"
        " rankings, total ordering, integer-exact inputs",
)
def w_revenue_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = (
        # Customer grows with the corpus — no forced broadcast (VERDICT
        # r6 task 3); AQE decides at runtime.
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("revenue_cents"), F.asc("o_custkey")
    )
    return rev.select(
        "c_mktsegment",
        "o_custkey",
        "revenue_cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18-shaped large-volume orders (round 6): customers whose single
# orders exceed a quantity threshold — the classic GROUP-HAVING
# semi-join shape (IN over an aggregated subquery) the registry didn't
# yet carry. Reference analogue: the consume-once dispatch queries gate
# on aggregated counts the same way (national/_1034/__main__.py:91-121
# selects work by aggregate state before joining detail).
# Scale shape: the HAVING filter collapses lineitem to the few
# over-threshold orderkeys FIRST (partial agg map-side), and that small
# keyset broadcasts into the orders join — no orders-side shuffle; the
# final customer join broadcasts the surviving order rows. Quantities
# are integral doubles in the fixture: cast to bigint so the sums (and
# the hash) are integer-exact. Deterministic top-100 by
# (o_totalprice DESC, o_orderkey) is a TakeOrdered, not a global sort.
# ---------------------------------------------------------------------------

_Q18_QTY = 250

_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > {_Q18_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@register(
    "j_q18_large_orders",
    oracle=_Q18_ORACLE,
    doc="TPC-H Q18 shape: orders whose total quantity clears a HAVING"
        " threshold (aggregate-then-semi-join), enriched with customer,"
        " deterministic top-100 — integer-exact quantity sums",
)
def j_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_QTY)
    )
    # Neither side gets a forced broadcast: customer grows with the
    # corpus, and `big` (orders above the quantity threshold) grows with
    # lineitem — data-dependent selectivity is exactly what AQE's runtime
    # size check handles better than a compile-time hint (VERDICT r6
    # task 3).
    hit = o.join(big, o["o_orderkey"] == big["l_orderkey"])
    out = hit.join(c, hit["o_custkey"] == c["c_custkey"])
    return (
        out.select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape (round 7): min-cost supplier per part — the classic
# CORRELATED SUBQUERY (cost = (SELECT MIN(cost) ... WHERE partkey =
# outer.partkey)) de-correlated the way a warehouse plans it: one
# aggregate per (part, supplier) offer, a per-part MIN window, and a
# filter joining the offer frame back to its own minimum — no
# per-row subquery execution anywhere. The test tables carry no
# partsupp, so the offer is derived from lineitem unit cost
# (ROUND(extendedprice*100/quantity) integer cents — the repo's proven
# cents convention). Scale shape: the (part, supplier) groupBy is
# map-side combinable; the window partitions by partkey (never
# unpartitioned); part's brand/size predicate is pushed to the scan
# and the only broadcast is fixed-cardinality nation; suppliers/parts
# join by shuffle under AQE. Deterministic total order + LIMIT 100 is
# a TakeOrdered, not a global sort.
# ---------------------------------------------------------------------------

_Q2_BRANDS = ("Brand#13", "Brand#31")
_Q2_SIZE = 15

_Q2_ORACLE = f"""
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(ROUND(l_extendedprice * 100 / l_quantity) AS BIGINT))
           AS unit_cents
  FROM lineitem GROUP BY 1, 2
),
best AS (
  SELECT *, MIN(unit_cents) OVER (PARTITION BY l_partkey) AS min_cents
  FROM offers
),
hit AS (
  SELECT l_partkey, l_suppkey, unit_cents FROM best
  WHERE unit_cents = min_cents
)
SELECT p.p_partkey, p.p_brand, p.p_size, s.s_suppkey, s.s_name,
       n.n_name AS nation, h.unit_cents AS min_unit_cents
FROM hit h
JOIN part p ON p.p_partkey = h.l_partkey
JOIN supplier s ON s.s_suppkey = h.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_size <= {_Q2_SIZE}
  AND p.p_brand IN ('{_Q2_BRANDS[0]}', '{_Q2_BRANDS[1]}')
ORDER BY p.p_partkey, s.s_suppkey
LIMIT 100
"""


@register(
    "j_q2_min_cost_supplier",
    oracle=_Q2_ORACLE,
    doc="TPC-H Q2 shape: correlated min-cost subquery de-correlated into"
        " a combinable offer aggregate + per-part MIN window + join-back;"
        " pushed part predicate, broadcast nation only, TakeOrdered top",
)
def j_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= _Q2_SIZE) & F.col("p_brand").isin(*_Q2_BRANDS)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    unit_cents = F.round(
        F.col("l_extendedprice") * 100 / F.col("l_quantity")
    ).cast("bigint")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_cents).alias("unit_cents")
    )
    w = Window.partitionBy("l_partkey")
    hit = (
        offers.withColumn("min_cents", F.min("unit_cents").over(w))
        .filter(F.col("unit_cents") == F.col("min_cents"))
        .select("l_partkey", "l_suppkey", "unit_cents")
    )
    return (
        hit.join(p, p["p_partkey"] == hit["l_partkey"])
        .join(s, s["s_suppkey"] == hit["l_suppkey"])
        .join(F.broadcast(n), n["n_nationkey"] == s["s_nationkey"])
        .select(
            "p_partkey", "p_brand", "p_size", "s_suppkey", "s_name",
            F.col("n_name").alias("nation"),
            F.col("unit_cents").alias("min_unit_cents"),
        )
        .orderBy("p_partkey", "s_suppkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape (round 7): customer order-count distribution — the
# canonical LEFT OUTER JOIN with a predicate INSIDE the ON clause (so
# zero-order customers survive) followed by a second-level aggregation
# of the aggregate. Reference analogue: the match-statistics rollup
# counts entities by how many detail rows matched them
# (votervoice/match.py:127-140 tallies per-candidate match counts, then
# reports the distribution of those counts). Scale shape: orders is
# pre-aggregated per custkey FIRST (map-side combinable count after the
# priority filter), so the outer join moves |customers| + |custkeys|
# rows instead of |customers| x |their orders|; the final distribution
# groupBy collapses to at most max(c_count) rows. All outputs are
# integer counts — no float anywhere.
# ---------------------------------------------------------------------------

_Q13_EXCLUDED_PRIORITY = "1-URGENT"

_Q13_ORACLE = f"""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '{_Q13_EXCLUDED_PRIORITY}'
  GROUP BY c.c_custkey
) counted
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register(
    "j_q13_order_count_distribution",
    oracle=_Q13_ORACLE,
    doc="TPC-H Q13 shape: left outer join with an ON-clause predicate,"
        " per-customer order counts (zero-order customers kept), then"
        " the distribution of those counts — all-integer output",
)
def j_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    # Pre-aggregate orders per customer before the outer join: the
    # filter + count is map-side combinable, so the join's right side is
    # one row per ordering customer, not one per order. The oracle
    # states the classic join-then-count form; COUNT(o_orderkey) over a
    # left join equals COALESCE of the pre-aggregated count.
    per_cust = (
        o.filter(F.col("o_orderpriority") != _Q13_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    counted = c.join(
        per_cust, c["c_custkey"] == per_cust["o_custkey"], "left"
    ).select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    return (
        counted.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape (round 7): suppliers who kept orders waiting — the
# classic EXISTS + NOT-EXISTS double self-join on the fact table
# (another supplier on the order exists; another LATE supplier does
# not), de-correlated into ONE per-order aggregate: count the distinct
# suppliers, count the distinct late suppliers, and remember the sole
# late supplier when there is exactly one. The fixture carries no
# commit/receipt dates, so "late" is shipped more than 90 days after
# the order date (same inequality shape, fixture-expressible).
# Reference analogue: the consume-once dispatch gates detail rows on
# aggregate state per parent the same way (national/_1034/__main__.py:
# 91-121). Scale shape: one orderkey shuffle for the lineitem-orders
# join (lateness needs o_orderdate), one combinable per-order
# aggregate, then a supplier-keyed count — no self-join of lineitem
# against lineitem anywhere. Output is (s_name, numwait) — integers
# and strings only.
# ---------------------------------------------------------------------------

_Q21_LATE_DAYS = 90

_Q21_ORACLE = f"""
WITH per_order AS (
  SELECT l.l_orderkey,
         COUNT(DISTINCT l.l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l.l_shipdate >
               o.o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY
               THEN l.l_suppkey END) AS n_late,
         MAX(CASE WHEN l.l_shipdate >
               o.o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY
               THEN l.l_suppkey END) AS sole_late_supp
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM per_order p
JOIN supplier s ON s.s_suppkey = p.sole_late_supp
WHERE p.n_supp > 1 AND p.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register(
    "j_q21_waiting_supplier",
    oracle=_Q21_ORACLE,
    doc="TPC-H Q21 shape: EXISTS + NOT-EXISTS self-joins de-correlated"
        " into one per-order aggregate (distinct suppliers, distinct"
        " late suppliers, sole late supplier), then a supplier count —"
        " no lineitem self-join; integer/string output only",
)
def j_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {_Q21_LATE_DAYS} DAY"
    )
    per_order = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("sole_late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    # Supplier is corpus-growing: no broadcast hint (AQE decides); the
    # per_order side has already collapsed to one row per qualifying
    # order before this join.
    return (
        per_order.join(s, s["s_suppkey"] == per_order["sole_late_supp"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape (round 7): dormant positive balances — customers from
# a fixed set of country codes whose balance beats the positive-balance
# average for those codes AND who have placed no RECENT order (NOT
# EXISTS anti-join; every fixture customer has ordered at least once,
# so the classic never-ordered predicate is degenerate here — the
# dormancy window keeps the anti-join shape AND a non-trivial result).
# The fixture has no phone column, so the country code is the nation
# key itself. The scalar AVG threshold is the float seam the classic
# query hides: instead of comparing against a divided average, both
# engines compare cents * positive_count > positive_cents_total — pure
# BIGINT cross-multiplication, no division anywhere (the repo's
# diag_seam_div_double lesson applied pre-emptively). Scale shape: the
# threshold and the dormancy cutoff are 1-row aggregates broadcast by
# cross joins; the anti-join shuffles on custkey against orders
# pre-filtered to the recent window; output collapses to |codes| rows.
# ---------------------------------------------------------------------------

_Q22_CODES = (1, 5, 9, 13, 17)
_Q22_DORMANT_DAYS = 180

_Q22_ORACLE = f"""
WITH pool AS (
  SELECT c_custkey, c_nationkey AS code,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer WHERE c_nationkey IN {_Q22_CODES}
),
thr AS (
  SELECT SUM(cents) AS pos_total, COUNT(*) AS pos_n
  FROM pool WHERE cents > 0
),
cut AS (
  SELECT MAX(o_orderdate) - INTERVAL {_Q22_DORMANT_DAYS} DAY AS cutoff
  FROM orders
)
-- CAST on the SUM: SUM(BIGINT) -> HUGEINT -> pandas float64, the
-- driver-red dtype seam (tools/dtype_seam_scan.py); Spark side is bigint.
SELECT p.code, COUNT(*) AS numcust,
       CAST(SUM(p.cents) AS BIGINT) AS total_cents
FROM pool p, thr t
WHERE p.cents * t.pos_n > t.pos_total
  AND NOT EXISTS (SELECT 1 FROM orders o, cut
                  WHERE o.o_custkey = p.c_custkey
                    AND o.o_orderdate >= cut.cutoff)
GROUP BY p.code
ORDER BY p.code
"""


@register(
    "j_q22_dormant_balances",
    oracle=_Q22_ORACLE,
    doc="TPC-H Q22 shape: above-average positive balances in selected"
        " country codes with a no-recent-order anti-join; the AVG"
        " threshold is compared by bigint cross-multiplication so no"
        " division or double exists on either engine",
)
def j_q22_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*_Q22_CODES))
        .select(
            "c_custkey",
            F.col("c_nationkey").alias("code"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        )
    )
    thr = pool.filter(F.col("cents") > 0).agg(
        F.sum("cents").alias("pos_total"), F.count(F.lit(1)).alias("pos_n")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cut = o.agg(
        (
            F.max("o_orderdate")
            - F.expr(f"INTERVAL {_Q22_DORMANT_DAYS} DAY")
        ).alias("cutoff")
    )
    recent = (
        o.crossJoin(F.broadcast(cut))
        .filter(F.col("o_orderdate") >= F.col("cutoff"))
        .select("o_custkey")
    )
    rich = pool.crossJoin(F.broadcast(thr)).filter(
        F.col("cents") * F.col("pos_n") > F.col("pos_total")
    )
    dormant = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        dormant.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("code")
    )


# ---------------------------------------------------------------------------
# Amount reconciliation report (round 7): the financial-close DQ check
# dq_validation_report does not cover — does the order header total
# agree with the sum of its lines? Reference analogue: the vote-index
# derivation reconciles per-row scores against a possible-total
# (votervoice/transform.py:77-86); here the reconciliation is
# header-vs-detail. One combinable per-order cents sum, one orderkey
# join, relative buckets by integer CROSS-MULTIPLICATION
# (abs(diff)*100 <= total ⇔ within 1%) — no division, no doubles.
# Honest fixture finding: the synthetic o_totalprice is NOT derived
# from the lineitems (0 exact matches, 257 headless orders at sf0.01) —
# which is precisely what a reconciliation report exists to surface.
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS li_cents
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS o_cents, li.li_cents
  FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN li_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_headless,
       CAST(SUM(CASE WHEN li_cents = o_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(SUM(CASE WHEN li_cents IS NOT NULL
                      AND ABS(li_cents - o_cents) * 100 <= o_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
       CAST(SUM(CASE WHEN li_cents IS NOT NULL
                      AND ABS(li_cents - o_cents) * 10 <= o_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct,
       CAST(SUM(CASE WHEN li_cents > o_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over,
       CAST(MAX(CASE WHEN li_cents IS NOT NULL
                     THEN ABS(li_cents - o_cents) END) AS BIGINT)
         AS max_abs_diff_cents
FROM j
"""


@register(
    "dq_amount_reconciliation",
    oracle=_RECON_ORACLE,
    doc="header-vs-detail amount reconciliation: per-order line-cents"
        " sum vs header cents, relative buckets by integer"
        " cross-multiplication, headless orders counted — surfaces the"
        " fixture's (real) header/detail inconsistency",
)
def dq_amount_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("li_cents")
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("o_cents")
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"], "left")
    has = F.col("li_cents").isNotNull()
    diff = F.abs(F.col("li_cents") - F.col("o_cents"))
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(~has, 1).otherwise(0)).cast("bigint").alias("n_headless"),
        F.sum(F.when(F.col("li_cents") == F.col("o_cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.when(has & (diff * 100 <= F.col("o_cents")), 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_1pct"),
        F.sum(F.when(has & (diff * 10 <= F.col("o_cents")), 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_10pct"),
        F.sum(F.when(F.col("li_cents") > F.col("o_cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_over"),
        F.max(F.when(has, diff)).cast("bigint").alias("max_abs_diff_cents"),
    )


# ---------------------------------------------------------------------------
# Sequence-gap audit (round 7): completeness of a key sequence — the
# DQ question "which ids are missing from the span we should have?"
# (dropped messages, purged partitions, failed loads). The audited
# domain is the orderkeys present in LINEITEM, which genuinely has
# holes in the fixture (257 orders carry no lines at sf0.01). Islands
# come from the classic id - dense-row-number trick over DISTINCT keys
# (group-constant within a contiguous run); gap runs are the spans
# between consecutive islands via one lead() over the ISLAND frame —
# bounded by island count, never keys. All-integer 1-row report.
# ---------------------------------------------------------------------------

_SEQ_GAP_ORACLE = """
WITH ks AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
isl AS (
  SELECT k - ROW_NUMBER() OVER (ORDER BY k) AS grp, k FROM ks
),
islands AS (
  SELECT MIN(k) AS s, MAX(k) AS e FROM isl GROUP BY grp
),
gaps AS (
  SELECT LEAD(s) OVER (ORDER BY s) - e - 1 AS gap_run FROM islands
)
SELECT (SELECT COUNT(*) FROM ks) AS n_present,
       (SELECT COUNT(*) FROM islands) AS n_islands,
       CAST((SELECT MAX(k) - MIN(k) + 1 - COUNT(*) FROM ks) AS BIGINT)
         AS n_missing_in_span,
       CAST((SELECT MAX(gap_run) FROM gaps WHERE gap_run IS NOT NULL)
            AS BIGINT) AS max_gap_run
"""


@register(
    "dq_sequence_gaps",
    oracle=_SEQ_GAP_ORACLE,
    doc="key-sequence completeness audit over lineitem's orderkey domain"
        " (genuinely holey in the fixture): islands via the"
        " id-minus-row-number trick, gap runs via lead over the bounded"
        " island frame — all-integer 1-row report",
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ks = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
    )
    # Island boundaries WITHOUT a window over the full key set: a key
    # whose predecessor is absent starts an island, one whose successor
    # is absent ends one — two keyed anti-joins, fully distributed. Only
    # the ISLAND frame (bounded by gap incidents, not keys) goes through
    # ordered windows to pair starts with ends and measure gap runs.
    prev = ks.select((F.col("k") + 1).alias("k"))
    nxt = ks.select((F.col("k") - 1).alias("k"))
    starts = ks.join(prev, "k", "left_anti").select(F.col("k").alias("s"))
    ends = ks.join(nxt, "k", "left_anti").select(F.col("k").alias("e"))
    sw = Window.orderBy("s")
    ew = Window.orderBy("e")
    islands = (
        starts.withColumn("i", F.row_number().over(sw))
        .join(ends.withColumn("i", F.row_number().over(ew)), "i")
    )
    gaps = islands.withColumn(
        "gap_run", F.lead("s").over(Window.orderBy("s")) - F.col("e") - 1
    )
    summary = ks.agg(
        F.count(F.lit(1)).alias("n_present"),
        (F.max("k") - F.min("k") + 1 - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_missing_in_span"),
    )
    agg2 = gaps.agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("gap_run").cast("bigint").alias("max_gap_run"),
    )
    return summary.crossJoin(F.broadcast(agg2)).select(
        "n_present", "n_islands", "n_missing_in_span", "max_gap_run"
    )


# ---------------------------------------------------------------------------
# Subtree rollup (round 7): the hierarchy VALUE aggregation that
# j_hierarchy_flatten's root/depth labeling stops short of — for EVERY
# node, the order revenue of its entire subtree (org-chart rollups,
# bill-of-materials costing). Needs the ancestor-descendant closure,
# built by pointer DOUBLING with a convergence check (round k holds all
# ancestor links of distance <= 2^k, so depth-d trees close in
# ceil(log2 d)+1 rounds — same discipline as j_hierarchy_flatten and
# connected_components, localCheckpoint per round). Closure size is
# nodes x depth — the inherent output of the problem, never nodes^2.
# The oracle is the genuine recursive CTE walking each node's ancestor
# chain. Per-customer cents are pre-aggregated BEFORE the closure join
# (map-side combinable; the join fans out by depth, not by orders).
# ---------------------------------------------------------------------------

_SUBTREE_ORACLE = """
WITH RECURSIVE anc(node, ancestor) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION ALL
  SELECT a.node, p.c_custkey
  FROM anc a JOIN customer p ON p.c_custkey = a.ancestor // 10
  WHERE a.ancestor >= 10
),
cents AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS cust_cents
  FROM orders GROUP BY o_custkey
)
SELECT a.ancestor AS c_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_subtree,
       CAST(SUM(COALESCE(c.cust_cents, 0)) AS BIGINT) AS subtree_cents
FROM anc a LEFT JOIN cents c ON c.o_custkey = a.node
GROUP BY a.ancestor
ORDER BY c_custkey
"""


@register(
    "j_hierarchy_subtree_rollup",
    oracle=_SUBTREE_ORACLE,
    doc="per-node subtree revenue over the parent-pointer hierarchy:"
        " ancestor closure by pointer doubling (log-depth rounds,"
        " convergence-checked), per-customer cents pre-aggregated before"
        " the depth-bounded fan-out join; oracle is the real recursive"
        " CTE",
)
def j_hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    # distance-1 links: (node, parent) for non-roots whose parent EXISTS
    # as a customer — at scale the replicated key space contains numeric
    # parents that are not customers (the sf1 generator's key shift);
    # the hierarchy is over actual customers, so such nodes are roots.
    # The oracle's recursion joins customer on the parent for the same
    # reason.
    cand = c.filter(F.col("c_custkey") >= 10).select(
        F.col("c_custkey").alias("node"),
        F.floor(F.col("c_custkey") / 10).cast("bigint").alias("anc"),
    )
    links = cand.join(
        c.select(F.col("c_custkey").alias("anc")), "anc", "left_semi"
    ).localCheckpoint()
    closure = links
    prev_n = closure.count()
    for _ in range(8):  # 2^8 depth bound; fixture depth is 3
        hop = (
            closure.alias("x")
            .join(closure.alias("y"), F.col("x.anc") == F.col("y.node"))
            .select(F.col("x.node").alias("node"), F.col("y.anc").alias("anc"))
        )
        closure = closure.unionByName(hop).distinct().localCheckpoint()
        n = closure.count()
        if n == prev_n:
            break
        prev_n = n
    else:
        raise RuntimeError("ancestor closure did not converge in 8 doublings")
    pairs = closure.unionByName(
        c.select(F.col("c_custkey").alias("node"), F.col("c_custkey").alias("anc"))
    )
    cents = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cust_cents")
        )
    )
    return (
        pairs.join(cents, pairs["node"] == cents["o_custkey"], "left")
        .groupBy(F.col("anc").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subtree"),
            F.sum(F.coalesce(F.col("cust_cents"), F.lit(0)))
            .cast("bigint")
            .alias("subtree_cents"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Share-of-parent (round 7): the drill-down companion of the subtree
# rollup — every non-root node's subtree revenue as a permille of its
# parent's subtree revenue (the number an org-chart or BOM report
# actually prints next to each row). Reuses the rollup builder whole;
# the only additions are the existing-parent link and one keyed join of
# the rollup to itself. Zero-revenue parents emit share 0 rather than
# dividing (ANSI div-by-zero guard, identical CASE on both engines).
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH RECURSIVE anc(node, ancestor) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION ALL
  SELECT a.node, p.c_custkey
  FROM anc a JOIN customer p ON p.c_custkey = a.ancestor // 10
  WHERE a.ancestor >= 10
),
cents AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS cust_cents
  FROM orders GROUP BY o_custkey
),
rollup AS (
  SELECT a.ancestor AS k,
         CAST(SUM(COALESCE(c.cust_cents, 0)) AS BIGINT) AS subtree_cents
  FROM anc a LEFT JOIN cents c ON c.o_custkey = a.node
  GROUP BY a.ancestor
),
links AS (
  SELECT c.c_custkey AS child, p.c_custkey AS parent
  FROM customer c JOIN customer p ON p.c_custkey = c.c_custkey // 10
  WHERE c.c_custkey >= 10
)
SELECT l.child AS c_custkey, l.parent AS parent_key,
       rc.subtree_cents, rp.subtree_cents AS parent_cents,
       CAST(CASE WHEN rp.subtree_cents = 0 THEN 0
                 ELSE rc.subtree_cents * 1000 // rp.subtree_cents END
            AS BIGINT) AS share_permille
FROM links l
JOIN rollup rc ON rc.k = l.child
JOIN rollup rp ON rp.k = l.parent
ORDER BY c_custkey
"""


@register(
    "j_hierarchy_share_of_parent",
    oracle=_SHARE_ORACLE,
    doc="each non-root node's subtree revenue as integer permille of its"
        " parent's subtree revenue — one self-join of the subtree"
        " rollup over the existing-parent links, div-by-zero guarded",
)
def j_hierarchy_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    rollup = j_hierarchy_subtree_rollup(spark, sf_dir).select(
        F.col("c_custkey").alias("k"), "subtree_cents"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    links = (
        c.filter(F.col("c_custkey") >= 10)
        .select(
            F.col("c_custkey").alias("child"),
            F.floor(F.col("c_custkey") / 10).cast("bigint").alias("parent"),
        )
        .join(c.select(F.col("c_custkey").alias("parent")), "parent", "left_semi")
    )
    rc = rollup.select(F.col("k").alias("child"), "subtree_cents")
    rp = rollup.select(
        F.col("k").alias("parent"), F.col("subtree_cents").alias("parent_cents")
    )
    return (
        links.join(rc, "child")
        .join(rp, "parent")
        .select(
            F.col("child").alias("c_custkey"),
            F.col("parent").alias("parent_key"),
            "subtree_cents",
            "parent_cents",
            F.expr(
                "cast(case when parent_cents = 0 then 0"
                " else subtree_cents * 1000 div parent_cents end as bigint)"
            ).alias("share_permille"),
        )
        .orderBy("c_custkey")
    )
