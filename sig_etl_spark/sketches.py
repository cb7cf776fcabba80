"""Distributed probabilistic sketches.

The estimating sketches are built so the *entire* computation — hash,
register math, estimate — is re-derivable in ANSI SQL, which makes them
oracle-checkable (a property native HLL/CMS implementations can't offer,
since their hash functions are engine-private):

- **HyperLogLog** (`hll_registers` + `hll_estimate_cols`): m=2^p registers
  from the portable 60-bit md5 hash; the register max is a map-side
  partial aggregate, so a 100 TB scan shuffles only m rows per group —
  the whole point of HLL vs COUNT(DISTINCT)'s full-key shuffle.
- **Count-min sketch** (`cms_sketch`): d rows x w columns of exact BIGINT
  counters; point estimates upper-bound true counts, so a heavy-hitter
  threshold on the estimate never misses a true heavy hitter.
- **Bloom filter** (`bloom_words` / `bloom_member`): k positions
  double-hashed from the engine's ``xxhash64``, ORed into ceil(m/64) words
  JVM-side (``bit_or``), collected sketch-sized and re-broadcast as an
  array literal — the shape of Spark's runtime row-level filtering
  (spark.sql.optimizer.runtime.bloomFilter.*), made explicit so the
  build->broadcast->prune wiring is testable. Only the bloom is exempt
  from portable hashing: it is result-transparent (the exact join after
  it drops every false positive; no output carries a bit position).

Scale notes: every driver-side materialization is sketch-sized (m longs),
never data-sized. All expressions are whole-stage-codegen built-ins; no
UDFs anywhere.

Why rho fits in [1, 55]: the 60-bit hash spends p bits on the register
index; the remaining (60-p) bits feed the leading-zero count, so with
p=6 the max rho is 54 zeros + 1. The estimate's register sum is kept in
*exact* integer arithmetic — sum(2^(56 - M_j)) as BIGINT (max 64 * 2^56 <
2^63) — so only the final division K / reg_sum is floating point: one IEEE
op, bit-identical across engines, which is what lets the estimate itself
hash-match the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# HyperLogLog (p=6 -> m=64 registers)
# ---------------------------------------------------------------------------

HLL_P = 6
HLL_M = 1 << HLL_P  # 64
_HLL_SCALE = 56  # sum(2^(56-M_j)) <= 64 * 2^56 < 2^63: BIGINT-safe
# alpha_m * m^2 * 2^scale, precomputed once and embedded as the SAME
# literal on both engines so the only float op is one division.
HLL_K = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M * float(1 << _HLL_SCALE)


def hll_registers(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group HLL registers: group_cols + (j, rho_max).

    j = low p bits of the 60-bit md5 hash; rho = 1 + leading zeros of the
    remaining 54 bits, computed via length(bin(w)) — ``bin`` renders
    minimal-length binary in both Spark and DuckDB, so
    rho = 55 - length(bin(w)) (w=0 -> 55).

    The groupBy is map-side combinable down to m rows per group per
    partition — at 100 TB the shuffle carries |groups| * 64 rows total.
    """
    hashed = hll_hashed(df, value_col, group_cols)
    return hashed.groupBy(*group_cols, "j").agg(F.max("rho").alias("rho_max"))


def hll_hashed(df: DataFrame, value_col: str, group_cols: list[str]) -> DataFrame:
    """The per-row (j, rho) projection behind ``hll_registers`` — exposed
    separately so the STREAMING register maintainer
    (streaming/pipeline.py: stream_hll_distinct) can compute the
    identical hash bits JVM-side before its stateful merge; one
    definition, batch and streaming provably share it."""
    return df.selectExpr(
        *group_cols,
        f"cast(conv(substring(md5({value_col}), 1, 15), 16, 10) as bigint) as h60",
    ).selectExpr(
        *group_cols,
        f"cast(h60 % {HLL_M} as int) as j",
        # rho over the remaining 54 bits; w = 0 -> all zeros -> rho = 55
        f"cast(case when h60 div {HLL_M} = 0 then 55 "
        f"     else 55 - length(bin(h60 div {HLL_M})) end as int) as rho",
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold registers into the HLL estimate, one row per group.

    Missing registers count as M_j = 0 (their 2^56 term dominates the sum
    exactly as HLL prescribes): m_present tracks how many of the 64
    registers actually appeared, and (64 - m_present) zero registers are
    added back as an exact integer term — no grid join needed.

    Output: group_cols, n_zero_regs, reg_sum (exact BIGINT),
    hll_distinct (BIGINT; linear-counting correction below 2.5m).
    """
    folded = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("m_present"),
        F.sum(F.expr(f"shiftleft(1L, {_HLL_SCALE} - rho_max)")).alias("present_sum"),
        F.sum(F.expr("case when rho_max = 0 then 1 else 0 end")).alias("zero_rho"),
    )
    return folded.selectExpr(
        *group_cols,
        # a register is "zero" if absent OR present with rho_max = 0
        f"cast({HLL_M} - m_present + zero_rho as bigint) as n_zero_regs",
        f"cast(present_sum + ({HLL_M} - m_present) * shiftleft(1L, {_HLL_SCALE}) "
        f" as bigint) as reg_sum",
    ).selectExpr(
        *group_cols,
        "n_zero_regs",
        "reg_sum",
        # raw = K / reg_sum (one IEEE division); linear counting when the
        # raw estimate is small and zero registers remain: m * ln(m / V).
        f"cast(round(case when {HLL_K!r} / cast(reg_sum as double) <= {2.5 * HLL_M!r} "
        f"                 and n_zero_regs > 0 "
        f"            then {float(HLL_M)!r} * ln(cast({HLL_M} as double) "
        f"                                       / cast(n_zero_regs as double)) "
        f"            else {HLL_K!r} / cast(reg_sum as double) end) "
        f" as bigint) as hll_distinct",
    )


def hll_oracle_sql(source_sql: str, value_expr: str, group_cols: list[str]) -> str:
    """DuckDB SQL computing the identical estimate from the same md5 bits."""
    g = ", ".join(group_cols)
    return f"""
WITH hashed AS (
  SELECT {g},
         CAST(('0x' || substr(md5({value_expr}), 1, 15)) AS BIGINT) AS h60
  FROM {source_sql}
),
regs AS (
  SELECT {g}, CAST(h60 % {HLL_M} AS INT) AS j,
         MAX(CAST(CASE WHEN h60 // {HLL_M} = 0 THEN 55
                       ELSE 55 - length(bin(h60 // {HLL_M})) END AS INT)) AS rho_max
  FROM hashed GROUP BY {g}, j
),
folded AS (
  SELECT {g},
         COUNT(*) AS m_present,
         CAST(SUM((1::BIGINT << ({_HLL_SCALE} - rho_max))) AS BIGINT) AS present_sum,
         CAST(SUM(CASE WHEN rho_max = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_rho
  FROM regs GROUP BY {g}
),
est AS (
  SELECT {g},
         CAST({HLL_M} - m_present + zero_rho AS BIGINT) AS n_zero_regs,
         CAST(present_sum + ({HLL_M} - m_present) * (1::BIGINT << {_HLL_SCALE})
              AS BIGINT) AS reg_sum
  FROM folded
)
SELECT {g}, n_zero_regs, reg_sum,
       CAST(round(CASE WHEN {HLL_K!r} / CAST(reg_sum AS DOUBLE) <= {2.5 * HLL_M!r}
                        AND n_zero_regs > 0
                  THEN {float(HLL_M)!r} * ln(CAST({HLL_M} AS DOUBLE)
                                             / CAST(n_zero_regs AS DOUBLE))
                  ELSE {HLL_K!r} / CAST(reg_sum AS DOUBLE) END)
            AS BIGINT) AS hll_distinct
FROM est
"""


# ---------------------------------------------------------------------------
# Count-min sketch (d rows x w columns, exact integer counters)
# ---------------------------------------------------------------------------

CMS_D = 4
CMS_W = 256


def cms_sketch(counts: DataFrame, key_col: str, n_col: str) -> DataFrame:
    """(k, cell, cell_n): the d x w counter matrix from per-key counts.

    Adding per-key counts into cells is arithmetically identical to
    incrementing per occurrence; starting from the (map-side-combined)
    per-key counts keeps the explode d-fold smaller.
    """
    rows = counts.selectExpr(
        key_col,
        n_col,
        f"explode(sequence(0, {CMS_D - 1})) as k",
    ).selectExpr(
        "k",
        f"cast(cast(conv(substring(md5(concat(cast(k as string), ':', {key_col})), "
        f"1, 15), 16, 10) as bigint) % {CMS_W} as int) as cell",
        n_col,
    )
    return rows.groupBy("k", "cell").agg(F.sum(n_col).alias("cell_n"))


# ---------------------------------------------------------------------------
# Bloom filter (k hash functions, m bits packed into 64-bit words)
# ---------------------------------------------------------------------------


def _bloom_pos(key: str, i: int | str, m_bits: int) -> str:
    """Kirsch-Mitzenmacher position i: (h1 + i*(h2|1)) % m, h1/h2 = low/high 32
    bits of xxhash64(string form: INT and BIGINT keys agree); >= 0, no overflow."""
    h = f"xxhash64(cast({key} as string))"
    return f"((({h}) & 4294967295L) + {i} * (shiftrightunsigned({h}, 32) | 1L)) % {m_bits}L"


def bloom_words(df: DataFrame, key_expr: str, m_bits: int, k: int) -> list[int]:
    """Build the filter JVM-side and collect it: ceil(m/64) longs.

    The per-position OR happens in a ``bit_or`` aggregate, so the driver
    receives at most m/64 rows (sketch-sized — 16 KiB at m=2^20) no matter
    how large the build side is. NULL keys set no bit.
    """
    n_words = (m_bits + 63) // 64
    pos = df.where(f"{key_expr} is not null").selectExpr(
        f"explode(sequence(0, {k - 1})) as hk", f"{key_expr} as key"
    ).selectExpr(f"{_bloom_pos('key', 'hk', m_bits)} as pos")
    words_df = pos.selectExpr(
        "cast(pos div 64 as int) as widx",
        "shiftleft(1L, cast(pos % 64 as int)) as bit",
    ).groupBy("widx").agg(F.expr("bit_or(bit)").alias("word"))
    words = [0] * n_words
    for r in words_df.collect():  # bounded: <= m_bits/64 rows
        words[r["widx"]] = r["word"]
    return words


def bloom_member(words: list[int], key_expr: str, m_bits: int, k: int) -> Column:
    """Membership predicate over the filter words (pure codegen), NULL for a
    NULL key. The words are one ``array(...L)`` literal, parsed once —
    serialized with the plan and read by every codegen'd row check, the
    explicit form of the broadcast Spark's runtime bloom filter would ship.
    """
    # Measured slower: 1 md5/row + double hashing 4.6-5.8 s vs 3 md5s 2.6-3.5 s (Filter repeats it).
    arr = F.expr(f"array({', '.join(f'{w}L' for w in words)})")
    out = None
    for hk in range(k):
        pos = _bloom_pos(key_expr, hk, m_bits)
        word = F.element_at(arr, F.expr(f"cast(({pos}) div 64 as int) + 1"))
        test = word.bitwiseAND(F.expr(f"shiftleft(1L, cast(({pos}) % 64 as int))")) != 0
        out = test if out is None else (out & test)
    # xxhash64(NULL) is the seed, not NULL: keep the NULL-in, NULL-out contract.
    return F.when(F.expr(f"{key_expr} is not null"), out)


def with_bloom_prune(
    df: DataFrame, words: list[int], key_expr: str, m_bits: int, k: int
) -> DataFrame:
    """Filter ``df`` to rows whose key may be in the filter."""
    return df.where(bloom_member(words, key_expr, m_bits, k))


# ---------------------------------------------------------------------------
# Fixed-bin quantile histogram — the mergeable percentile sketch
# ---------------------------------------------------------------------------


def quantile_hist(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    bin_width: float,
    quantiles: list[tuple[str, int, int]] = (
        ("p50", 1, 2),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
    edge_cents_factor: int | None = None,
) -> DataFrame:
    """Per-group approximate quantiles from a fixed-width histogram — the
    scalable alternative to exact percentile (full per-group sort) and to
    percentile_approx (t-digest: mergeable but engine-private, so never
    oracle-checkable).

    Each quantile is given as (name, numerator, denominator) so the rank
    threshold is EXACT integer arithmetic: thr = ceil(q * total) =
    (total * num + den - 1) div den. The quantile bin is the smallest bin
    whose cumulative count reaches thr; the estimate is that bin's upper
    edge — a deterministic overestimate bounded by bin_width, the
    classic histogram-quantile contract (Prometheus's histogram_quantile
    makes the same trade).

    Scale shape: the per-(group, bin) count groupBy is MAP-SIDE
    COMBINABLE — a 100 TB scan shuffles |groups| x |occupied bins| rows,
    not data. The cumulative window runs over bins within a group
    (dozens of rows), never over raw data. Histograms from different
    partitions/days/sources merge by adding counts — the sketch property
    that lets a warehouse keep running percentiles without re-sorting
    history.
    """
    from pyspark.sql import Window

    binned = df.select(
        *group_cols,
        F.floor(F.col(value_col) / F.lit(bin_width)).cast("bigint").alias("bin"),
    )
    hist = binned.groupBy(*group_cols, "bin").agg(F.count(F.lit(1)).alias("n"))
    wg = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("n").over(wg)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(*group_cols))
    )
    aggs = [F.max("total").alias("total")]
    for name, num, den in quantiles:
        # cum >= ceil(total*num/den)  <=>  cum*den >= total*num — pure
        # integer comparison, no division to round anywhere
        qbin = F.min(
            F.when(F.col("cum") * den >= F.col("total") * num, F.col("bin"))
        )
        aggs.append(qbin.alias(f"{name}_bin"))
    out = cum.groupBy(*group_cols).agg(*aggs)
    for name, _, _ in quantiles:
        if edge_cents_factor is not None:
            # Integer upper edge: (bin+1) * cents-per-bin, emitted BIGINT.
            # Driver-environment independence (round-7): a double edge —
            # even an integer-valued one like (bin+1)*10000.0 — is hashed
            # through whatever float convention the checking environment
            # uses; a bigint is hashed as a bigint everywhere.
            out = out.withColumn(
                f"{name}_le_cents",
                ((F.col(f"{name}_bin") + 1) * F.lit(edge_cents_factor)).cast(
                    "bigint"
                ),
            )
        else:
            out = out.withColumn(
                f"{name}_le",
                ((F.col(f"{name}_bin") + 1) * F.lit(bin_width)).cast("double"),
            )
    return out


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k, the theta-sketch core): the
# set-OPERATION sketch HLL cannot be. HLL registers merge for unions
# only; KMV keeps the k smallest 60-bit md5 hashes of a distinct set,
# and two KMVs support union AND intersection estimates — the
# distinct-overlap matrix between corpus sources without an exact
# distinct self-join. Estimator: with U = the kk smallest of the merged
# summaries and kth = max(U), union ~= (kk-1) * 2^60 / kth (the classic
# (k-1)/R bottom-k estimator, sigma ~ union/sqrt(k-2)); intersection
# rides the Jaccard ratio |{x in U : x in A and x in B}| / kk.
# Everything is md5-derived, so DuckDB re-derives the SAME hashes,
# the SAME bottom-k and the SAME floor()ed estimates — hash-exact.
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_SPACE = 1 << 60  # md5-prefix hash space (15 hex chars)
# Map-side pre-filter: only hashes below this survive to the shuffle.
# Correct as long as every group keeps >= KMV_K survivors (bottom-k of
# the filtered set == bottom-k of the full set when the threshold
# exceeds the k-th smallest). 1/8 of the space is generous at test
# scale; at 100 TB you size it near k / expected_distinct (e.g. 2^-14)
# so the shuffle carries a vanishing sample of the distinct space.
KMV_THRESHOLD = KMV_SPACE >> 3


def kmv_sketch(
    df: DataFrame,
    value: Column,
    group_col: str,
    k: int = KMV_K,
    threshold: int = KMV_THRESHOLD,
) -> DataFrame:
    """(group, kmv) — kmv is the sorted array of the k smallest distinct
    60-bit md5 hashes of ``value`` within the group.

    Scale shape: the threshold filter runs BEFORE the distinct shuffle,
    so the corpus-sized scan emits only the sub-threshold sample of the
    distinct space; the per-group bottom-k window then runs over that
    small frame, and every downstream set operation works on |groups|
    arrays of k longs.
    """
    from pyspark.sql import Window

    h = F.conv(F.substring(F.md5(value), 1, 15), 16, 10).cast("bigint")
    filtered = (
        df.select(F.col(group_col), h.alias("h"))
        .where(F.col("h") < threshold)
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        filtered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy(group_col)
        .agg(F.array_sort(F.collect_list("h")).alias("kmv"))
    )
