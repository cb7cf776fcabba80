"""Distributed BPE merge learning (round 9 — VERDICT r8 task 4).

The engine has counted BPE-ish tokens since round 5
(``text_analysis.bpe_ish_token_count``) but never *learned* merges. This
module closes that gap with the classic byte-pair-encoding training loop
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" — public algorithm), re-expressed as iterative Spark
DataFrame rounds the way the repo already runs connected components and
pagerank:

    round r: count adjacent symbol pairs across the (distinct-word,
             count) vocabulary  ->  global argmax pair  ->  merge it
             everywhere  ->  repeat.

Representation: a word's current segmentation is ONE string with every
symbol wrapped in parens — ``hello`` -> ``(h)(e)(l)(l)(o)``; merging the
pair (l, l) is ``replace(seq, '(l)(l)', '(ll)')``. Both Spark's and
DuckDB's ``replace`` substitute non-overlapping occurrences left to
right, which is exactly BPE's greedy merge order (``(l)(l)(l)`` ->
``(ll)(l)``), so the whole re-segmentation step stays a codegen'd string
expression — no Python in the distributed loop. Symbols are ``[a-z]+``
by construction (the tokenizer drops everything else), so the wrapper
parens can never collide with symbol text.

Scale shape (the reason this is a DataFrame loop and not a driver
algorithm): pair counting is a map-side explode + partial-aggregated
groupBy over the DISTINCT-word vocabulary (weighted by word frequency),
never the raw corpus — the corpus is scanned exactly once to build the
vocabulary. Each round's global argmax is a 1-row driver collect
(``ORDER BY count DESC LIMIT 1``): that collect is inherent to BPE (the
next merge depends on the last) and is the same bounded-collect pattern
the repo's k-means trainer documents. The vocabulary frame is
localCheckpointed once so the R merge rounds re-scan a materialized
plan instead of re-running tokenization R times.

No reference analogue (north-star scope beyond sig_etl's surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sig_etl_spark.session import local_frame

# Tokenizer shared by builder and oracle: lowercase, keep [a-z]+ runs.
WORD_SPLIT_RE = "[^a-z]+"


def vocab_from_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) vocabulary: every lowercase [a-z]+ run, counted with
    multiplicity across the corpus. One corpus scan; the result is
    distinct-word-sized, the frame every BPE round iterates on."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE)
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _wrap(col: Column) -> Column:
    """word -> (w)(o)(r)(d) — the paren-wrapped symbol string."""
    return F.regexp_replace(col, r"(.)", r"($1)")


_PAIRS_EXPR = (
    "zip_with(slice(syms, 1, greatest(size(syms)-1, 0)),"
    "         slice(syms, 2, greatest(size(syms)-1, 0)),"
    "         (a, b) -> concat(a, ' ', b))"
)


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the current segmentation, weighted by
    word frequency. Explode + groupBy: partial aggregation (map-side
    combine) keeps the shuffle at distinct-pair cardinality."""
    syms = seqs.select(
        F.expr(
            "split(substring(seq, 2, length(seq)-2), '\\\\)\\\\(')"
        ).alias("syms"),
        "cnt",
    )
    return (
        syms.select(F.explode(F.expr(_PAIRS_EXPR)).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
    )


def train_merges(
    docs: DataFrame, n_merges: int = 5, text_col: str = "text"
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    [(round, left_sym, right_sym, merged, pair_count), ...].

    Each round is: distributed pair count -> 1-row argmax collect
    (count DESC, pair ASC tiebreak — deterministic) -> codegen'd
    replace() re-segmentation. The vocabulary is localCheckpointed once
    so round r re-scans a materialized vocab under r chained replaces
    instead of re-tokenizing the corpus.

    The checkpointed vocab is coalesced below the shuffle width: the
    frame is distinct-WORD sized (a few GB even on a 100 TB corpus), and
    at production merge counts the loop is scheduler-latency-bound —
    every round launches (pair-count map + reduce + argmax) tasks, so 32
    rounds over a 32-partition vocab is ~3000 tiny tasks. Coalescing to
    ~cores/4 keeps each round's task count proportional to the cluster,
    not the shuffle default (measured at sf0.1: 7.9s -> 7.0s solo for 32
    rounds), while staying wide enough that per-task vocab slices remain
    small at any corpus size.
    """
    par = max(docs.sparkSession.sparkContext.defaultParallelism // 4, 2)
    vocab = vocab_from_documents(docs, text_col).coalesce(par).localCheckpoint()
    seqs = vocab.select(_wrap(F.col("word")).alias("seq"), "cnt")
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        top = (
            _pair_counts(seqs)
            .orderBy(F.col("pair_count").desc(), F.col("pair"))
            .limit(1)
            .collect()  # bounded: exactly 1 row (the sequential argmax BPE requires)
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["pair_count"])
        left, right = pair.split(" ", 1)
        merged = left + right
        merges.append((r, left, right, merged, cnt))
        seqs = seqs.select(
            F.replace(
                F.col("seq"),
                F.lit(f"({left})({right})"),
                F.lit(f"({merged})"),
            ).alias("seq"),
            "cnt",
        )
    return merges


def merges_df(spark: SparkSession, merges) -> DataFrame:
    """The learned merge table as a DataFrame: the R rows the training
    loop already holds on the driver, as a local relation (no job)."""
    return local_frame(
        spark,
        merges,
        "round int, left_sym string, right_sym string, merged string,"
        " pair_count bigint",
    )


def segment(col: Column, merges) -> Column:
    """Segment a lowercase [a-z]+ word column with learned merges: the
    same chained replace() the trainer used, returned as an ARRAY of
    subword symbols. ``size(segment(...))`` is the learned-BPE token
    count — the data-derived upgrade over
    text_analysis.bpe_ish_token_count's fixed regex."""
    seq = _wrap(col)
    for _, left, right, merged, _ in merges:
        seq = F.replace(
            seq, F.lit(f"({left})({right})"), F.lit(f"({merged})")
        )
    return F.split(seq.substr(F.lit(2), F.length(seq) - 2), r"\)\(")
