"""Oracle-checked text-analysis queries over the documents table.

Spark side: sig_etl_spark.llm.text_analysis (pure column expressions).
Oracle side: the same math in DuckDB list/regex functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sig_etl_spark.llm import text_analysis as T
from sig_etl_spark.queries import register
from sig_etl_spark.tables import load_table

_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"

_STATS_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, lang, text, {_TOKS} AS toks,
         length(regexp_replace(text, '\s', '', 'g')) AS nonspace
  FROM documents
),
m AS (
  SELECT doc_id, lang, text, nonspace,
         len(toks) AS ws_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens,
         len(list_filter(toks, t -> list_contains(['the','a','an','of','and','to','in','is','it','for'], t))) AS stop_hits,
         len(list_distinct(toks)) AS distinct_toks,
         len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS h_en,
         len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS h_de,
         len(list_filter(toks, t -> list_contains(['el','la','que','y','en','los'], t))) AS h_es,
         len(list_filter(toks, t -> list_contains(['le','la','et','les','des','une'], t))) AS h_fr
  FROM base
)
SELECT doc_id, lang, ws_tokens, bpe_tokens,
       CASE WHEN nonspace = 0 THEN 0.0
            ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / nonspace
       END AS punct_ratio,
       CASE WHEN ws_tokens = 0 THEN 0.0 ELSE stop_hits / ws_tokens END AS stop_ratio,
       CASE WHEN ws_tokens = 0 THEN 0.0 ELSE nonspace / ws_tokens END AS mean_tok_len,
       CASE WHEN ws_tokens = 0 THEN 0.0 ELSE distinct_toks / ws_tokens END AS diversity,
       0.4 * least(length(text) / 500.0, 1.0)
         + 0.3 * (CASE WHEN ws_tokens = 0 THEN 0.0 ELSE distinct_toks / ws_tokens END)
         + 0.3 * (CASE WHEN ws_tokens = 0 THEN 0.0 ELSE stop_hits / ws_tokens END)
         AS quality,
       CASE WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
            WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
            WHEN h_es > 0 AND h_es >= h_en AND h_es >= h_de AND h_es >= h_fr THEN 'es'
            WHEN h_fr > 0 AND h_fr >= h_en AND h_fr >= h_de AND h_fr >= h_es THEN 'fr'
            ELSE 'und'
       END AS lang_guess
FROM m
"""


@register(
    "llm_text_stats",
    oracle=_STATS_ORACLE,
    doc="token counts (ws + BPE-ish), punct/stopword ratios, quality score, lang-ID heuristic",
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        T.ws_token_count(text).alias("ws_tokens"),
        T.bpe_ish_token_count(text).alias("bpe_tokens"),
        T.punct_ratio(text).alias("punct_ratio"),
        T.stopword_ratio(text).alias("stop_ratio"),
        T.mean_token_len(text).alias("mean_tok_len"),
        T.distinct_token_ratio(text).alias("diversity"),
        T.quality_score(text, scale=None).alias("quality"),
        T.lang_guess(text).alias("lang_guess"),
    )


# min-shingle fingerprint over a `toks`/`n` relation — shared by the
# fingerprint query and llm_decontaminate.
_FP_EXPR = r"""CASE WHEN n >= 1
            THEN list_aggregate(
                   list_transform(generate_series(1, n),
                                  i -> md5(array_to_string(toks[i:i+2], ' '))),
                   'min')
            ELSE md5(array_to_string(toks, ' '))
       END"""

_FP_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
s AS (
  SELECT doc_id, toks, len(toks) - 2 AS n
  FROM base
)
SELECT doc_id,
       md5(array_to_string(toks, ' ')) AS exact_key,
       {_FP_EXPR} AS fingerprint
FROM s
"""


@register(
    "llm_fingerprint",
    oracle=_FP_ORACLE,
    doc="exact-dedup md5 key + winnowing-style min-shingle-hash fingerprint",
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        T.exact_hash(text).alias("exact_key"),
        T.fingerprint(text, k=3).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Vocabulary building: corpus-wide token frequency + document frequency,
# top 200 by count. The aggregation is the canonical map-side-combine
# shape; the top-k is TakeOrdered (no global sort materialized), with the
# token in the sort key so the cut is deterministic under ties.
# ---------------------------------------------------------------------------

_VOCAB_K = 200

_VOCAB_ORACLE = rf"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM base),
agg AS (
  SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
  FROM tok GROUP BY token
)
SELECT token, n, doc_freq
FROM (SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rn FROM agg)
WHERE rn <= {_VOCAB_K}
"""


@register(
    "llm_vocab_topk",
    oracle=_VOCAB_ORACLE,
    doc="vocabulary build: token count + doc frequency, deterministic"
        " top-200",
)
def llm_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    )
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return agg.orderBy(F.col("n").desc(), "token").limit(_VOCAB_K)


# ---------------------------------------------------------------------------
# Gopher-style repetition signal: duplicate k-gram fraction per document.
# Counts stay integers on both engines; the ratio is one division of the
# same two BIGINTs, so it hashes exactly.
# ---------------------------------------------------------------------------

_REP_ORACLE = rf"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN len(toks) - 2 >= 1
              THEN list_transform(generate_series(1, len(toks) - 2),
                                  i -> array_to_string(toks[i:i+2], ' '))
              ELSE [array_to_string(toks, ' ')]
         END AS grams
  FROM base
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
       CASE WHEN len(grams) = 0 THEN 0.0
            ELSE (len(grams) - len(list_distinct(grams))) / len(grams)
       END AS dup_gram_ratio
FROM s
"""


@register(
    "llm_repetition",
    oracle=_REP_ORACLE,
    doc="Gopher-style duplicate 3-gram fraction per document (repetition"
        " quality gate); shingle array bound once, integer counts",
)
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rep = T.ngram_repetition(F.col("text"), k=3)
    out = docs.select("doc_id", rep.alias("r"))
    n, d = F.col("r.n_grams"), F.col("r.n_distinct_grams")
    return out.select(
        "doc_id",
        n.alias("n_grams"),
        d.alias("n_distinct_grams"),
        F.when(n == 0, F.lit(0.0)).otherwise((n - d) / n).alias("dup_gram_ratio"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing: the fixture deterministically plants an email and a
# phone number in every document (both engines build the identical
# string), the operator counts and redacts them. Patterns are restricted
# to the Java-regex/RE2 common subset; emails are replaced before phones
# (the order is part of the operator contract — see scrub_pii).
# ---------------------------------------------------------------------------

_PII_SUFFIX_SQL = (
    "' Contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or call '"
    " || lpad(CAST(doc_id * 37 % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id * 53 % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id * 91 % 10000 AS VARCHAR), 4, '0') || '.'"
)

_PII_ORACLE = rf"""
WITH planted AS (
  SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{T.PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{T.PII_PHONE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(text, '{T.PII_EMAIL}', '[EMAIL]', 'g'),
                      '{T.PII_PHONE}', '[PHONE]', 'g') AS clean_text
FROM planted
"""


def _plant_pii(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    suffix = F.concat(
        F.lit(" Contact: user"), did.cast("string"),
        F.lit("@example.com or call "),
        F.lpad((did * 37 % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((did * 53 % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((did * 91 % 10000).cast("string"), 4, "0"), F.lit("."),
    )
    return docs.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))


@register(
    "llm_pii_scrub",
    oracle=_PII_ORACLE,
    doc="PII detection + redaction: email/phone counts and [EMAIL]/[PHONE]"
        " replacement over deterministically planted fixtures — pure"
        " regexp codegen, no UDF",
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    planted = _plant_pii(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    return planted.select(
        "doc_id",
        T.pii_email_count(text).alias("n_emails"),
        T.pii_phone_count(text).alias("n_phones"),
        T.scrub_pii(text).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Reproducible corpus split: hash-mod bucketing on content (never
# random()) — the same document lands in the same split on any engine,
# cluster size, or rerun. This is how big pipelines carve held-out sets.
# ---------------------------------------------------------------------------

_SPLIT_SALT = "corpus-split-v1"

_SPLIT_ORACLE = f"""
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(text || '{_SPLIT_SALT}'), 1, 15)) AS UBIGINT)
            % 100 AS BIGINT) AS bucket,
       CASE WHEN CAST(('0x' || substr(md5(text || '{_SPLIT_SALT}'), 1, 15)) AS UBIGINT) % 100 < 10 THEN 'test'
            WHEN CAST(('0x' || substr(md5(text || '{_SPLIT_SALT}'), 1, 15)) AS UBIGINT) % 100 < 20 THEN 'valid'
            ELSE 'train'
       END AS split
FROM documents
"""


@register(
    "llm_reproducible_split",
    oracle=_SPLIT_ORACLE,
    doc="content-hash-mod train/valid/test split (deterministic across"
        " engines and cluster sizes)",
)
def llm_reproducible_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.functions.hashing import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = portable_hash60(
        F.concat(F.col("text"), F.lit(_SPLIT_SALT))
    ) % 100
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 10, "test")
        .when(bucket < 20, "valid")
        .otherwise("train")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: drop training docs that share a min-shingle
# fingerprint with the (pseudo) benchmark set — the overlap-removal step
# every training corpus runs against eval suites. Anti-join on the
# fingerprint key; the benchmark side is dimension-sized and broadcasts.
# ---------------------------------------------------------------------------

_DECON_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
s AS (SELECT doc_id, toks, len(toks) - 2 AS n FROM base),
fp AS (SELECT doc_id, {_FP_EXPR} AS fingerprint FROM s),
bench AS (SELECT fingerprint FROM fp WHERE doc_id % 97 = 0),
train AS (SELECT * FROM fp WHERE doc_id % 97 <> 0)
SELECT t.doc_id, t.fingerprint
FROM train t
WHERE NOT EXISTS (SELECT 1 FROM bench b WHERE b.fingerprint = t.fingerprint)
"""


@register(
    "llm_decontaminate",
    oracle=_DECON_ORACLE,
    doc="benchmark decontamination: anti-join training docs against the"
        " eval set on min-shingle fingerprints",
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", T.fingerprint(F.col("text"), k=3).alias("fingerprint")
    )
    bench = fp.filter(F.col("doc_id") % 97 == 0).select("fingerprint")
    train = fp.filter(F.col("doc_id") % 97 != 0)
    return train.join(F.broadcast(bench), "fingerprint", "left_anti")


# ---------------------------------------------------------------------------
# TF-IDF top terms per document. The idf is the rational (N+1)/(df+1) —
# log-free, because * and / are IEEE-exact in both engines while libm ln
# differs in the last ulp; the ranking is identical and the hash check
# stays bit-exact. Corpus size N rides in as a broadcast scalar.
# ---------------------------------------------------------------------------

_TFIDF_K = 3

_TFIDF_ORACLE = rf"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM base),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df_ FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ((n.n_docs + 1.0) / (df.df_ + 1.0)) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rank
      FROM scored)
WHERE rank <= {_TFIDF_K}
"""


@register(
    "llm_tfidf_top_terms",
    oracle=_TFIDF_ORACLE,
    doc="tf-idf (rational idf) top-3 characteristic terms per document",
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # tf already holds one row per (doc, token): derive document frequency
    # from it rather than re-exploding the corpus (and skip countDistinct's
    # two-phase expand) — halves the tokenize/explode work.
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * ((F.col("n_docs") + 1.0) / (F.col("df_") + 1.0))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "token", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Per-source curation rollup — the "per-domain quality dashboard" every
# corpus pipeline maintains. All aggregates are integer sums/counts (one
# map-side-combinable shuffle on source), ratios derived afterward as a
# single division of exact BIGINTs so the doubles hash identically.
# ---------------------------------------------------------------------------

_SOURCE_ORACLE = rf"""
WITH base AS (
  SELECT source, lang, n_chars, len({_TOKS}) AS ws_tokens,
         CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS has_marker
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(ws_tokens) AS BIGINT) AS sum_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(has_marker) AS BIGINT) AS n_marker_docs,
       SUM(n_chars) / COUNT(*) AS mean_chars
FROM base GROUP BY source
"""


@register(
    "llm_source_rollup",
    oracle=_SOURCE_ORACLE,
    doc="per-source corpus rollup: doc/char/token totals, language spread,"
        " marker-doc tally — one map-side-combinable shuffle",
)
def llm_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        T.ws_token_count(F.col("text")).alias("ws_tokens"),
        F.col("text").contains("spark").cast("int").alias("has_marker"),
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("ws_tokens").alias("sum_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("has_marker").cast("bigint").alias("n_marker_docs"),
    )
    return agg.select(
        "source", "n_docs", "sum_chars", "sum_tokens", "n_langs", "n_marker_docs",
        (F.col("sum_chars") / F.col("n_docs")).alias("mean_chars"),
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sample: K docs per source, chosen by md5(doc_id)
# order — a reproducible "reservoir" (same K docs on any engine, cluster
# size, or rerun; no random()). One hash-shuffle on source; the window
# truncates each group to K before anything downstream touches text.
# ---------------------------------------------------------------------------

_SAMPLE_K = 5

_SAMPLE_ORACLE = f"""
SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) t
WHERE rn <= {_SAMPLE_K}
"""


@register(
    "llm_stratified_sample",
    oracle=_SAMPLE_ORACLE,
    doc=f"deterministic stratified sample: {_SAMPLE_K} docs per source by"
        " md5(doc_id) order — reproducible on any engine or partitioning",
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id")
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= _SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Shard packing: chunk each source's documents into ~capacity-token shards
# by running sum over a deterministic order (hash of doc_id). This is the
# sequential-fill sharding every training pipeline runs before writing
# tokenized shards. Scale shape: the window partitions by source, so
# packing parallelizes across sources and no global order exists;
# the running sum is integer, so shard ids are engine-exact. If ONE
# source dominates the corpus, pre-split it into (source, hash-bucket)
# sub-streams and pack per bucket — per-bucket tail shards run slightly
# underfilled, the standard trade every sharded tokenizer makes; the
# per-source window here is the exact variant.
# ---------------------------------------------------------------------------

_SHARD_CAPACITY = 2000  # tokens per shard


_PACK_ORACLE = rf"""
WITH sized AS (
  SELECT source, doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
runs AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM sized
)
SELECT source, doc_id, n_tokens,
       CAST((cum - n_tokens) // {_SHARD_CAPACITY} AS BIGINT) AS shard_id
FROM runs
"""


# ---------------------------------------------------------------------------
# Reproducible per-epoch training-order shuffle (round 12): every real
# trainer re-shuffles the corpus each epoch, reproducibly, and a naive
# ORDER BY rand() is both non-reproducible and a GLOBAL SORT — the one
# plan shape that cannot run on 100 TB. The scalable construction is the
# two-level order Megatron-style data loaders use: a seeded hash key
# assigns each (doc, epoch) to one of B buckets, docs sort ONLY within
# their bucket (windows bounded by n/B), and the total order is
# (bucket, pos_in_bucket) with bucket offsets from a B-row prefix sum —
# so the global permutation is imposed without any corpus-wide sort.
# md5-derived keys make the permutation engine-exact (DuckDB re-derives
# it), cluster-size-independent, and distinct per epoch (salt = epoch).
# ---------------------------------------------------------------------------

_SHUF_EPOCHS = 3
_SHUF_BUCKETS = 8

_SHUF_ORACLE = rf"""
WITH e AS (SELECT unnest(range(0, {_SHUF_EPOCHS})) AS epoch),
keyed AS (
  SELECT e.epoch, d.doc_id,
         CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                                       CAST(e.epoch AS VARCHAR)), 1, 15))
                   AS UBIGINT) AS BIGINT) AS k
  FROM documents d CROSS JOIN e
),
b AS (SELECT epoch, doc_id, k, k % {_SHUF_BUCKETS} AS bucket FROM keyed),
r AS (
  SELECT epoch, doc_id, bucket,
         ROW_NUMBER() OVER (PARTITION BY epoch, bucket ORDER BY k, doc_id)
           AS pos_in_bucket
  FROM b
),
cnt AS (SELECT epoch, bucket, CAST(COUNT(*) AS BIGINT) AS n
        FROM b GROUP BY epoch, bucket),
off AS (
  SELECT epoch, bucket,
         COALESCE(SUM(n) OVER (PARTITION BY epoch ORDER BY bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS o
  FROM cnt
)
SELECT r.epoch, r.doc_id, CAST(r.bucket AS BIGINT) AS bucket,
       CAST(r.pos_in_bucket AS BIGINT) AS pos_in_bucket,
       CAST(o.o + r.pos_in_bucket - 1 AS BIGINT) AS global_pos
FROM r JOIN off o USING (epoch, bucket)
"""


@register(
    "llm_epoch_shuffle",
    oracle=_SHUF_ORACLE,
    doc=f"reproducible per-epoch training-order shuffle, NO global sort:"
        f" seeded md5 key -> {_SHUF_BUCKETS} buckets, sort within bucket"
        f" only, total order = bucket offset (a {_SHUF_BUCKETS}-row"
        f" prefix sum, broadcast back) + pos_in_bucket; {_SHUF_EPOCHS}"
        " distinct engine-exact permutations",
)
def llm_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from sig_etl_spark.functions.hashing import portable_hash60

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(_SHUF_EPOCHS - 1))).alias("epoch"),
        "doc_id",
    ).select(
        F.col("epoch").cast("bigint").alias("epoch"), "doc_id"
    ).select(
        "epoch",
        "doc_id",
        portable_hash60(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("epoch").cast("string"),
            )
        ).alias("k"),
    )
    b = keyed.withColumn("bucket", (F.col("k") % _SHUF_BUCKETS).cast("bigint"))
    w = Window.partitionBy("epoch", "bucket").orderBy("k", "doc_id")
    r = b.withColumn(
        "pos_in_bucket", F.row_number().over(w).cast("bigint")
    )
    # Bucket offsets: an (epochs x buckets)-row aggregate — the ONLY
    # cross-bucket coordination the total order needs — prefix-summed on
    # the dimension and broadcast back.
    cnt = b.groupBy("epoch", "bucket").agg(F.count(F.lit(1)).alias("n"))
    offw = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.select(
        "epoch", "bucket",
        F.coalesce(F.sum("n").over(offw), F.lit(0)).alias("o"),
    )
    return r.join(F.broadcast(off), ["epoch", "bucket"]).select(
        "epoch",
        "doc_id",
        "bucket",
        "pos_in_bucket",
        (F.col("o") + F.col("pos_in_bucket") - 1).cast("bigint").alias("global_pos"),
    )


@register(
    "llm_shard_packing",
    oracle=_PACK_ORACLE,
    doc=f"sequential shard packing: ~{_SHARD_CAPACITY}-token shards per"
        " source via running-sum window over deterministic hash order",
)
def llm_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "doc_id",
        T.ws_token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = sized.select(
        "source", "doc_id", "n_tokens", F.sum("n_tokens").over(w).alias("cum")
    )
    # integer `div`, not double division: at warehouse scale the running
    # sum can pass 2^53 where double division would mis-assign shards.
    return runs.select(
        "source",
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {_SHARD_CAPACITY}").alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Sub-bucketed shard packing — the dominant-source variant the exact
# packer's docstring specifies. Real pretraining corpora are crawl-
# dominated (one source is routinely 60-80% of rows), and a window
# partitioned on `source` alone then sorts most of the corpus in ONE
# task. Fix: any source whose row count exceeds ``bucket_docs_over``
# pre-splits into ceil(rows / bucket_docs_over) md5-derived sub-buckets
# and packs per (source, bucket) — parallelism follows data volume, not
# source cardinality. Cost: each bucket's LAST shard may run underfilled
# (≤ one shard of slack per bucket), the standard trade every sharded
# tokenizer makes. Shard ids are therefore local to (source, bucket);
# (source, bucket, shard_id) is the shard key.
#
# Everything is engine-exact so DuckDB re-derives it: bucket counts use
# integer (n + N - 1) div N, the bucket assignment uses the md5-derived
# portable_hash60, and the running sum stays integer.
# ---------------------------------------------------------------------------

_BUCKET_DOCS_OVER = 10  # split any source larger than this many docs


def _sized_with_buckets(docs: DataFrame, bucket_docs_over: int) -> DataFrame:
    """Shared sizing/sub-bucketing frame for BOTH packers (the running-sum
    bucketed packer and the best-fit packer): (source, doc_id, n_tokens,
    h, bucket). Per-source row counts are one |sources|-row aggregate
    joined back broadcast; bucket counts use integer (n + N - 1) div N
    (exact at any corpus size); the bucket key is portable_hash60 so
    DuckDB re-derives it. Kept as ONE function so a future change to the
    hash or the ceil arithmetic cannot desynchronize the two packers and
    their oracles."""
    from sig_etl_spark.functions.hashing import portable_hash60

    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_rows"))
    n_buckets = F.expr(
        f"(n_rows + {bucket_docs_over} - 1) div {bucket_docs_over}"
    )
    doc_key = F.col("doc_id").cast("string")
    return (
        docs.join(F.broadcast(counts), "source")
        .select(
            "source",
            "doc_id",
            T.ws_token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            F.md5(doc_key).alias("h"),
            F.when(
                F.col("n_rows") > bucket_docs_over,
                # portable_hash60 is non-negative, so % == pmod here.
                portable_hash60(doc_key) % n_buckets,
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("bucket"),
        )
    )


def _bucketed_pack_oracle(bucket_docs_over: int, capacity: int) -> str:
    return rf"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source
),
sized AS (
  SELECT d.source, d.doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         md5(CAST(d.doc_id AS VARCHAR)) AS h,
         CASE WHEN c.n_rows > {bucket_docs_over}
              THEN CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
                        % CAST((c.n_rows + {bucket_docs_over} - 1) // {bucket_docs_over} AS UBIGINT)
                        AS BIGINT)
              ELSE CAST(0 AS BIGINT)
         END AS bucket
  FROM documents d JOIN counts c USING (source)
),
runs AS (
  SELECT source, bucket, doc_id, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source, bucket ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM sized
)
SELECT source, bucket, doc_id, n_tokens,
       CAST((cum - n_tokens) // {capacity} AS BIGINT) AS shard_id
FROM runs
"""


@register(
    "llm_shard_packing_bucketed",
    oracle=_bucketed_pack_oracle(_BUCKET_DOCS_OVER, _SHARD_CAPACITY),
    doc=f"skew-proof shard packing: sources over {_BUCKET_DOCS_OVER} docs"
        " pre-split into md5 sub-buckets so no single task sorts a"
        " dominant source; running-sum window per (source, bucket)",
)
def llm_shard_packing_bucketed(
    spark: SparkSession,
    sf_dir: str,
    bucket_docs_over: int = _BUCKET_DOCS_OVER,
    capacity: int = _SHARD_CAPACITY,
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sized = _sized_with_buckets(docs, bucket_docs_over)
    w = (
        Window.partitionBy("source", "bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = sized.select(
        "source", "bucket", "doc_id", "n_tokens",
        F.sum("n_tokens").over(w).alias("cum"),
    )
    return runs.select(
        "source",
        "bucket",
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {capacity}").alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Best-fit shard packing (round 13, VERDICT r12 task 6): the running-sum
# packers above chunk by token OFFSET — a doc is assigned to the shard
# its running sum starts in, so shards are capacity-agnostic. When
# shards are fixed-size buffers that docs may not split across (the
# Megatron/T5 sequence-packing shape), the bin-respecting reading of
# running-sum order is NEXT-FIT (close the shard when the next doc
# doesn't fit), which strands per-shard padding. Greedy
# BEST-FIT-DECREASING cuts that waste: docs sorted size-descending, each
# placed in the fullest open shard it still fits (min-doc_id order on
# exact ties; a doc larger than capacity opens its own permanently
# oversized shard). The greedy fold is inherently sequential, so it runs
# per (source, bucket) in an Arrow-batched applyInPandas — the ONE place
# this family drops out of pure column algebra — with the same md5
# sub-bucketing as llm_shard_packing_bucketed bounding every sequential
# group at bucket_docs_over docs (parallelism follows data volume; the
# python loop is O(docs_per_bucket^2) with both factors capped).
#
# Oracle: a recursive CTE folds the identical greedy over the identical
# (n_tokens DESC, doc_id) order — bins carried as a BIGINT[] column, the
# best-fit argmax as a list_reduce over a 0-sentinel index list — so
# shard ids match bit-for-bit. Output is the per-SHARD summary with the
# padding_waste column; tests/test_text_analysis.py proves the waste
# improvement over next-fit on the same fixture.
# ---------------------------------------------------------------------------

_BF_CAPACITY = 128  # small vs the ~55-token fixture docs so bins hold >1 doc


def _bestfit_pack_oracle(bucket_docs_over: int, capacity: int) -> str:
    return rf"""
WITH RECURSIVE counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source
),
sized AS (
  SELECT d.source, d.doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CASE WHEN c.n_rows > {bucket_docs_over}
              THEN CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
                        % CAST((c.n_rows + {bucket_docs_over} - 1) // {bucket_docs_over} AS UBIGINT)
                        AS BIGINT)
              ELSE CAST(0 AS BIGINT)
         END AS bucket
  FROM documents d JOIN counts c USING (source)
),
ranked AS (
  SELECT source, bucket, doc_id, n_tokens,
         CAST(row_number() OVER (PARTITION BY source, bucket
                                 ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
  FROM sized
),
fold(source, bucket, rk, bins, shard_id) AS (
  SELECT source, bucket, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
         CAST(NULL AS BIGINT)
  FROM (SELECT DISTINCT source, bucket FROM ranked)
  UNION ALL
  -- best fit = the max load among bins that still fit (mx); its index
  -- via list_position = FIRST occurrence, i.e. min-index on load ties.
  -- Deliberately NOT a list_reduce argmax: DuckDB 1.0 mis-vectorizes
  -- acc-dependent list indexing (bins[acc]) when one recursion step
  -- carries rows with different list lengths (probed: 4/500 wrong
  -- assignments on the 60-group fixture, correct when run per group).
  SELECT source, bucket, rk,
         CASE WHEN mx IS NULL THEN list_append(bins, n_tokens)
              ELSE list_transform(generate_series(CAST(1 AS BIGINT), CAST(len(bins) AS BIGINT)),
                     j -> CASE WHEN j = CAST(list_position(bins, mx) AS BIGINT)
                               THEN bins[j] + n_tokens ELSE bins[j] END)
         END AS bins,
         CASE WHEN mx IS NULL THEN CAST(len(bins) + 1 AS BIGINT)
              ELSE CAST(list_position(bins, mx) AS BIGINT) END AS shard_id
  FROM (
    SELECT r.source, r.bucket, r.rk, r.n_tokens, f.bins,
           list_aggregate(
             list_filter(f.bins, b -> b + r.n_tokens <= {capacity}), 'max'
           ) AS mx
    FROM fold f JOIN ranked r
      ON r.source = f.source AND r.bucket = f.bucket AND r.rk = f.rk + 1
  )
)
SELECT f.source, f.bucket, CAST(f.shard_id - 1 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(r.n_tokens) AS BIGINT) AS shard_tokens,
       CAST({capacity} - SUM(r.n_tokens) AS BIGINT) AS padding_waste
FROM fold f JOIN ranked r USING (source, bucket, rk)
GROUP BY f.source, f.bucket, f.shard_id
"""


def pack_shards_bestfit(
    docs: DataFrame,
    capacity: int = _BF_CAPACITY,
    bucket_docs_over: int = _BUCKET_DOCS_OVER,
) -> DataFrame:
    """Per-doc best-fit-decreasing shard assignment: (source, bucket,
    doc_id, n_tokens, shard_id). Sub-bucketing and token sizing come
    from the SAME _sized_with_buckets frame the running-sum bucketed
    packer uses; the greedy fold runs per (source, bucket) so no
    sequential group exceeds ``bucket_docs_over`` docs regardless of
    source skew."""
    import pandas as pd

    sized = _sized_with_buckets(docs, bucket_docs_over)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        loads: list[int] = []
        out: list[int] = []
        for s in pdf["n_tokens"]:
            s = int(s)
            best = -1
            # strict > keeps the LOWEST index on exact load ties — the
            # same choice the oracle makes via list_position (FIRST
            # occurrence of the max fitting load).
            for j, load in enumerate(loads):
                if load + s <= capacity and (best < 0 or load > loads[best]):
                    best = j
            if best < 0:
                loads.append(s)
                out.append(len(loads) - 1)
            else:
                loads[best] += s
                out.append(best)
        pdf["shard_id"] = pd.Series(out, dtype="int64")
        return pdf[["source", "bucket", "doc_id", "n_tokens", "shard_id"]]

    return sized.groupBy("source", "bucket").applyInPandas(
        _pack,
        "source string, bucket bigint, doc_id bigint, n_tokens bigint, "
        "shard_id bigint",
    )


@register(
    "llm_shard_packing_bestfit",
    oracle=_bestfit_pack_oracle(_BUCKET_DOCS_OVER, _BF_CAPACITY),
    doc=f"best-fit-decreasing shard packing at capacity {_BF_CAPACITY}"
        " per (source, md5 sub-bucket): per-shard summary with the"
        " padding_waste column — the bin-respecting Megatron/T5 packing"
        " twin of the running-sum offset packers",
)
def llm_shard_packing_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = pack_shards_bestfit(docs)
    return (
        per_doc.groupBy("source", "bucket", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        )
        .withColumn(
            "padding_waste",
            (F.lit(_BF_CAPACITY) - F.col("shard_tokens")).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Length deciles PER SOURCE: ntile(10) over (n_chars, doc_id) within each
# source — the "drop the shortest/longest X% of each source" curation
# gate, with the id in the sort key so tile boundaries are deterministic
# under ties. Partitioning by source keeps the window parallel (a GLOBAL
# ntile would force every row into one partition — the exact
# single-partition window this repo's plan guards exist to forbid); each
# source's sort is bounded by that source's size.
# ---------------------------------------------------------------------------

_DECILE_ORACLE = """
WITH tiled AS (
  SELECT source, doc_id, n_chars,
         ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT source, CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM tiled GROUP BY source, decile
"""


@register(
    "llm_length_deciles",
    oracle=_DECILE_ORACLE,
    doc="per-source document-length deciles (ntile with deterministic"
        " tiebreak) — the drop-the-tails curation gate's bucket"
        " boundaries, window parallel across sources",
)
def llm_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    tiled = docs.select(
        "source", "doc_id", "n_chars",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )
    return tiled.groupBy("source", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES): each doc
# draws u from a *portable* md5-uniform in (0,1] and gets priority
# ln(u)/weight (monotone in u^(1/w)); the top-K priorities ARE a weighted
# sample without replacement. One pass, no per-key state, top-K via
# TakeOrdered — the distributed-sampling shape curation pipelines use for
# importance-weighted corpus selection. ln() on bit-identical double inputs
# is bit-identical across Spark/DuckDB (verified), so even the priority
# column hash-matches the oracle.
# ---------------------------------------------------------------------------

_WS_K = 100
_WS_DENOM = 1 << 60  # hash60 range; (h+1)/2^60 lands in (0, 1]

_WS_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln(CAST(CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) + 1 AS DOUBLE)
            / CAST({_WS_DENOM} AS DOUBLE)) / CAST(n_chars AS DOUBLE) AS priority
  FROM documents
  WHERE n_chars > 0
)
-- round(priority, 9): Java's Math.log and libm's log may differ in the
-- last ulp, so the raw priority is ordering-stable but not hash-stable;
-- 9 decimals is ~6 significant digits here, far above the ulp noise.
SELECT doc_id, source, n_chars, round(priority, 9) AS priority
FROM keyed
ORDER BY priority DESC, doc_id
LIMIT {_WS_K}
"""


@register(
    "llm_weighted_sample",
    oracle=_WS_ORACLE,
    doc=f"Efraimidis–Spirakis weighted sample (k={_WS_K}, weight=n_chars):"
        " md5-uniform priorities, deterministic and oracle-exact",
)
def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    keyed = docs.selectExpr(
        "doc_id",
        "source",
        "n_chars",
        f"ln(cast(cast(conv(substring(md5(concat('ws:', cast(doc_id as string))), "
        f"1, 15), 16, 10) as bigint) + 1 as double) "
        f"/ cast({_WS_DENOM}L as double)) / cast(n_chars as double) as priority",
    )
    # orderBy+limit compiles to TakeOrdered: per-partition top-K, K-sized
    # merge on the driver — no global sort materialization. The output
    # rounds the priority (see the oracle comment on ulp noise); the SORT
    # uses the raw value, whose sub-ulp ties cannot flip a rank-100 cut.
    return (
        keyed.orderBy(F.col("priority").desc(), "doc_id")
        .limit(_WS_K)
        .select("doc_id", "source", "n_chars", F.round("priority", 9).alias("priority"))
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking (RAG / context-window prep): every document is
# split into W-token chunks advancing by stride S (overlap W-S). The fan
# -out is computed entirely with array expressions (split -> sequence ->
# explode -> slice) — a NARROW transformation: zero shuffles, chunk rows
# are produced in the same task that read the document, so at 100 TB this
# parallelizes with the scan and never materializes the token arrays
# outside whole-stage codegen. Tail chunks shorter than W are kept (the
# standard chunker contract); chunks whose start >= n never exist because
# the start sequence is bounded by n-1.
# ---------------------------------------------------------------------------

_CHUNK_W = 32
_CHUNK_S = 24

_CHUNK_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
b2 AS (
  SELECT doc_id, toks, len(toks) AS ntok FROM base WHERE len(toks) > 0
),
c AS (
  SELECT doc_id, ntok, toks, unnest(range(0, ntok, {_CHUNK_S})) AS s FROM b2
)
SELECT doc_id,
       CAST(s // {_CHUNK_S} AS INTEGER) AS chunk_idx,
       CAST(LEAST({_CHUNK_W}, ntok - s) AS INTEGER) AS chunk_tokens,
       array_to_string(list_slice(toks, s + 1, s + {_CHUNK_W}), ' ') AS chunk_text
FROM c
"""


@register(
    "llm_chunk_overlap",
    oracle=_CHUNK_ORACLE,
    doc=f"sliding-window chunking (W={_CHUNK_W}, stride={_CHUNK_S}):"
        " narrow array-expression fan-out, zero shuffles",
)
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
    base = (
        docs.select("doc_id", toks.alias("toks"))
        .withColumn("ntok", F.size("toks"))
        .where(F.col("ntok") > 0)
    )
    c = base.select(
        "doc_id",
        "ntok",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("ntok") - 1, F.lit(_CHUNK_S))).alias("s"),
    )
    return c.select(
        "doc_id",
        (F.col("s") / _CHUNK_S).cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK_W), F.col("ntok") - F.col("s"))
        .cast("int")
        .alias("chunk_tokens"),
        F.array_join(F.slice("toks", F.col("s") + 1, F.lit(_CHUNK_W)), " ").alias(
            "chunk_text"
        ),
    )


# ---------------------------------------------------------------------------
# Boilerplate segment scrub (CCNet/C4-style): documents are cut into
# non-overlapping G-token segments; a segment that appears in >= T
# distinct documents is corpus boilerplate (nav bars, license footers)
# and is dropped from every document that contains it. Three-shuffle
# shape, each keyed and map-side combinable:
#   1. segment -> countDistinct(doc) groupBy (partial aggs apply);
#   2. join segments back to the (bounded, distinct-segment-sized) count
#      table on the segment key;
#   3. per-doc reassembly via array_sort(collect_list(struct)) — bounded
#      by segments-per-document, never a global sort.
# At 100 TB the count table is |distinct segments| — the Zipf head that
# matters fits a broadcast; the code keeps the general shuffle join so
# the tail (unique segments) also gets exact counts, and AQE will locally
# convert to broadcast when the build side measures small.
# ---------------------------------------------------------------------------

_SEG_G = 2
_SEG_T = 20

_BOILER_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
segd AS (
  SELECT doc_id, s // {_SEG_G} AS seg_idx,
         array_to_string(list_slice(toks, s + 1, s + {_SEG_G}), ' ') AS seg
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), {_SEG_G})) AS s
        FROM base WHERE len(toks) > 0)
),
cnt AS (SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM segd GROUP BY seg)
SELECT segd.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN cnt.ndocs >= {_SEG_T} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       COALESCE(array_to_string(
         list(seg ORDER BY seg_idx) FILTER (WHERE cnt.ndocs < {_SEG_T}), ' '), '')
         AS clean_text
FROM segd JOIN cnt USING (seg)
GROUP BY segd.doc_id
"""


@register(
    "llm_boilerplate_scrub",
    oracle=_BOILER_ORACLE,
    doc=f"corpus boilerplate removal: {_SEG_G}-token segments present in"
        f" >={_SEG_T} docs are scrubbed; countDistinct + keyed join +"
        " ordered per-doc reassembly",
)
def llm_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return scrub_frame(docs)


def scrub_frame(docs: DataFrame) -> DataFrame:
    """The boilerplate scrub over any (doc_id, text) frame — shared by
    the registered query and the crawl-curation capstone
    (llm_crawl_curation_e2e). Returns (doc_id, n_segments,
    n_boilerplate, clean_text)."""
    base = docs.select("doc_id", T.tokens(F.col("text")).alias("toks")).where(
        F.size("toks") > 0
    )
    # the SAME segmentation expression the streaming scrub broadcasts
    # against (llm/text_analysis.token_segments — one point of change);
    # posexplode's ordinal IS the segment index
    segd = base.select(
        "doc_id",
        F.posexplode(T.token_segments(F.col("toks"), _SEG_G)).alias(
            "seg_idx", "seg"
        ),
    ).withColumn("seg_idx", F.col("seg_idx").cast("long"))
    cnt = segd.groupBy("seg").agg(F.countDistinct("doc_id").alias("ndocs"))
    joined = segd.join(cnt, "seg")
    kept = F.filter("ordered", lambda x: x["ndocs"] < _SEG_T)
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum((F.col("ndocs") >= _SEG_T).cast("long")).alias("n_boilerplate"),
            F.array_sort(
                F.collect_list(F.struct("seg_idx", "seg", "ndocs"))
            ).alias("ordered"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_boilerplate",
            F.array_join(F.transform(kept, lambda x: x["seg"]), " ").alias(
                "clean_text"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary OOV rate: per-document fraction of token OCCURRENCES not
# covered by the top-K corpus vocabulary — the coverage metric that
# decides whether a tokenizer vocab is big enough for a corpus. The
# vocab is the same deterministic top-K as llm_vocab_topk (count desc,
# token asc) and is broadcast; the per-doc aggregate is one doc-keyed
# shuffle.
# ---------------------------------------------------------------------------

_OOV_VOCAB_K = 50

_OOV_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ORDER BY n DESC, token LIMIT {_OOV_VOCAB_K}
  )
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
"""


@register(
    "llm_oov_rate",
    oracle=_OOV_ORACLE,
    doc=f"per-doc OOV rate vs the deterministic top-{_OOV_VOCAB_K} corpus"
        " vocab: broadcast vocab left join over exploded tokens, one"
        " doc-keyed aggregate — the tokenizer-coverage gate",
)
def llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    ).localCheckpoint(eager=False)
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(_OOV_VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 9).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical diversity: per-document type/token ratio and hapax-legomenon
# rate — the classic "is this text natural language or key-mashing"
# curation gate alongside llm_repetition. One shuffle on (doc_id, token)
# with full map-side combine, then a doc-keyed re-aggregate whose input
# is already distinct-token-sized. All counts are integers; the two
# ratios are single BIGINT/BIGINT IEEE divisions, so they hash exactly.
# Docs with zero tokens drop out of explode/unnest on both engines.
# ---------------------------------------------------------------------------

_LEXDIV_ORACLE = rf"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM base),
tc AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(c) AS DOUBLE) AS hapax_rate
FROM tc GROUP BY doc_id
"""


@register(
    "llm_lexical_diversity",
    oracle=_LEXDIV_ORACLE,
    doc="type/token ratio + hapax rate per doc: (doc,token) combine then"
        " doc re-aggregate, integer counts, exact-division ratios",
)
def llm_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        hapax.alias("n_hapax"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias("ttr"),
        (hapax.cast("double") / F.sum("c").cast("double")).alias("hapax_rate"),
    )


# ---------------------------------------------------------------------------
# Bigram LM coverage: build the corpus top-500 bigram table, then score
# every document by the fraction of its bigram occurrences that fall in
# that table — the integer-exact skeleton of an n-gram language-model
# quality filter (a real LM swaps the membership test for a log-prob
# lookup over the SAME broadcast join; counts were chosen here so the
# oracle hash is bit-exact, with no cross-engine transcendental math).
# Scale shape: bigram groupBy is map-side combinable; the top-500 model
# is a TakeOrdered (count desc, bigram asc — deterministic under ties)
# and is broadcast, so the scoring pass is shuffle-free on the corpus
# side except the final doc re-aggregate.
# ---------------------------------------------------------------------------

_BIGRAM_K = 500

_BIGRAM_ORACLE = rf"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                       i -> array_to_string(toks[i:i+1], ' ')))
           AS bigram
  FROM base WHERE len(toks) >= 2
),
model AS (
  SELECT bigram FROM (
    SELECT bigram, row_number() OVER (ORDER BY COUNT(*) DESC, bigram) AS rn
    FROM bg GROUP BY bigram
  ) WHERE rn <= {_BIGRAM_K}
)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN model.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_model,
       CAST(SUM(CASE WHEN model.bigram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS coverage
FROM bg LEFT JOIN model ON bg.bigram = model.bigram
GROUP BY bg.doc_id
"""


@register(
    "llm_bigram_coverage",
    oracle=_BIGRAM_ORACLE,
    doc="top-500 corpus bigram model coverage per doc: broadcast model"
        " membership join, integer-exact scoring",
)
def llm_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    bg = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
                )
            ).alias("bigram"),
        )
    )
    model = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(_BIGRAM_K)
        .select("bigram", F.lit(1).alias("hit"))
    )
    scored = bg.join(broadcast(model), "bigram", "left")
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        hits.cast("bigint").alias("n_in_model"),
        (hits.cast("double") / F.count(F.lit(1)).cast("double")).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Temperature-damped source mixing: sample each source at a rate
# proportional to n^(alpha-1) with alpha=0.5 — the standard upweight-the-
# tail mixing rule for multi-source training corpora — by taking
# min(n_s, floor(C * sqrt(n_s))) docs per source, chosen by md5(doc_id)
# order so the draw is deterministic and portable. sqrt of a BIGINT is a
# single correctly-rounded IEEE op on both engines, and the per-source
# take is computed WITHOUT cross-source float summation (no normalization
# term), so the floor() boundary cannot be perturbed by addition order —
# the property that keeps this hash-exact where a softmax-style mix would
# not be. Scale shape: counts groupBy is tiny (|sources| rows) and
# broadcast back; the draw is one window rank per source over the md5
# key. With C=8: a 64-doc source keeps all 64, a 1M-doc source keeps 8k.
# ---------------------------------------------------------------------------

_TEMP_C = 8

_TEMPMIX_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_source FROM documents GROUP BY source
),
take AS (
  SELECT source, n_source,
         LEAST(n_source, CAST(FLOOR({_TEMP_C} * sqrt(CAST(n_source AS DOUBLE)))
                              AS BIGINT)) AS k
  FROM counts
),
ranked AS (
  SELECT d.doc_id, d.source, t.n_source, t.k,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS rn
  FROM documents d JOIN take t USING (source)
)
SELECT doc_id, source, n_source, k AS n_sampled
FROM ranked WHERE rn <= k
"""


@register(
    "llm_temperature_mix",
    oracle=_TEMPMIX_ORACLE,
    doc="alpha=0.5 temperature source mixing: floor(C*sqrt(n)) per-source"
        " take by md5 order — deterministic, no cross-source float sums",
)
def llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    take = counts.select(
        "source",
        "n_source",
        F.least(
            F.col("n_source"),
            F.floor(F.lit(_TEMP_C) * F.sqrt(F.col("n_source").cast("double"))),
        ).alias("k"),
    )
    joined = docs.select("doc_id", "source").join(broadcast(take), "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("k"))
        .select("doc_id", "source", "n_source", F.col("k").alias("n_sampled"))
    )


# ---------------------------------------------------------------------------
# Source drift: chi-square distance between each source's document-length
# distribution and the corpus-wide distribution — the distribution-shift
# alarm a mixing pipeline checks before re-weighting sources. Scale
# shape: one (source, bucket) map-side-combinable groupBy (the shuffle
# carries |sources| x 8 rows), corpus bucket totals re-aggregated from
# that tiny frame and broadcast back. DETERMINISM: observed/expected
# come from exact integer counts; the expected value and each chi-square
# term are IEEE ops on identical inputs. ROUND-7 DRIVER-ENVIRONMENT
# HARDENING: r6's order-fixed double fold still went driver hash-red
# (while matching every local DuckDB configuration bit-for-bit), so the
# query now emits NO double at all — each term is cast to
# DECIMAL(38,10) (deterministic nearest rounding of an identical double
# on both engines), the 8-bucket sum is EXACT decimal addition (order-
# independent, so a plain groupBy SUM is safe), and the output is
# chi2_milli = ROUND(sum*1000) as BIGINT.
# ---------------------------------------------------------------------------

_DRIFT_BUCKET = "LEAST(CAST(FLOOR(n_chars / 100) AS BIGINT), 7)"

_DRIFT_ORACLE = f"""
WITH obs AS (
  SELECT source, {_DRIFT_BUCKET} AS bucket, COUNT(*) AS n
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT bucket, SUM(n) AS bucket_total FROM obs GROUP BY bucket
),
grand AS (
  SELECT SUM(n) AS n_total FROM obs
),
src AS (
  -- CAST: SUM(BIGINT) widens to HUGEINT whose pandas bridge is float64
  -- — the r5–r7 driver-red dtype seam (tools/dtype_seam_scan.py);
  -- n_source is an OUTPUT column, so it must stay int64 like Spark's.
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_source FROM obs GROUP BY source
),
terms AS (
  SELECT source, bucket,
         CAST((CAST(n AS DOUBLE) - expv) * (CAST(n AS DOUBLE) - expv) / expv
              AS DECIMAL(38,10)) AS term
  FROM (
    SELECT o.source, o.bucket, o.n,
           CAST(t.bucket_total * s.n_source AS DOUBLE)
             / CAST(g.n_total AS DOUBLE) AS expv
    FROM obs o
    JOIN tot t USING (bucket)
    JOIN src s USING (source)
    CROSS JOIN grand g
  )
)
SELECT s.source, s.n_source,
       CAST(ROUND(SUM(term) * 1000) AS BIGINT) AS chi2_milli
FROM terms t JOIN src s USING (source)
GROUP BY s.source, s.n_source
"""


@register(
    "llm_source_drift",
    oracle=_DRIFT_ORACLE,
    doc="per-source chi-square drift vs the corpus length distribution:"
        " integer counts, broadcast totals, exact DECIMAL(38,10) term"
        " accumulation emitting bigint chi2_milli — no double output",
)
def llm_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.select(
        "source",
        F.least(F.floor(F.col("n_chars") / 100), F.lit(7).cast("bigint")).alias("bucket"),
    ).groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.groupBy("bucket").agg(F.sum("n").alias("bucket_total"))
    grand = obs.groupBy().agg(F.sum("n").alias("n_total"))
    src = obs.groupBy("source").agg(F.sum("n").alias("n_source"))
    # Seam-proofing (round-6 fix for the r05 driver hash-red): the expected
    # value casts the EXACT INTEGER PRODUCT to double (identical op order to
    # the oracle's CAST(bucket_total * n_source AS DOUBLE) / CAST(n_total AS
    # DOUBLE)), and the chi-square numerator is d*d — plain IEEE multiply —
    # never pow(), whose JVM Math.pow vs libm POWER() results are allowed to
    # differ by 1 ulp across engines.
    exp = (F.col("bucket_total") * F.col("n_source")).cast("double") / F.col(
        "n_total"
    ).cast("double")
    d = F.col("n").cast("double") - exp
    terms = (
        obs.join(F.broadcast(tot), "bucket")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "bucket",
            "n_source",
            # One deterministic double per (source, bucket), immediately
            # pinned to DECIMAL(38,10): from here on all arithmetic is
            # exact, so the sum is order-independent and no double is
            # ever emitted.
            (d * d / exp).cast("decimal(38,10)").alias("term"),
        )
    )
    return terms.groupBy("source", "n_source").agg(
        F.round(F.sum("term") * 1000)
        .cast("bigint")
        .alias("chi2_milli")
    )


# ---------------------------------------------------------------------------
# Composed quality gate v2: the three round-5 signals — lexical
# diversity (TTR), duplicate-3-gram repetition, and bigram-model
# coverage — joined into one keep/drop decision with per-reason flags,
# the shape a curation pipeline actually ships (filter + audit trail).
# All three signal frames are doc_id-keyed, so the joins co-partition on
# one key; the flags are comparisons of already-hash-exact doubles, so
# the whole decision row hashes. Thresholds were set from the sf0.01
# signal distributions (ttr p25=0.36, coverage p25=0.58) so the gate
# exercises both keep and every drop reason on the fixtures.
# ---------------------------------------------------------------------------

_GATE_TTR = 0.35
_GATE_DUP = 0.30
_GATE_COV = 0.58

_GATE_ORACLE = rf"""
WITH lex AS (
  SELECT doc_id, ttr FROM ({_LEXDIV_ORACLE}) t
),
rep AS (
  SELECT doc_id, dup_gram_ratio FROM ({_REP_ORACLE}) t
),
cov AS (
  SELECT doc_id, coverage FROM ({_BIGRAM_ORACLE}) t
)
SELECT d.doc_id,
       lex.ttr, rep.dup_gram_ratio,
       COALESCE(cov.coverage, 0.0) AS coverage,
       (lex.ttr < {_GATE_TTR}) AS low_diversity,
       (rep.dup_gram_ratio > {_GATE_DUP}) AS repetitive,
       (COALESCE(cov.coverage, 0.0) < {_GATE_COV}) AS off_domain,
       (lex.ttr >= {_GATE_TTR} AND rep.dup_gram_ratio <= {_GATE_DUP}
        AND COALESCE(cov.coverage, 0.0) >= {_GATE_COV}) AS keep
FROM documents d
JOIN lex USING (doc_id)
JOIN rep USING (doc_id)
LEFT JOIN cov USING (doc_id)
"""


@register(
    "llm_quality_gate_v2",
    oracle=_GATE_ORACLE,
    doc="composed keep/drop gate over TTR + repetition + bigram coverage"
        " with per-reason audit flags; doc_id-co-partitioned joins",
)
def llm_quality_gate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = llm_lexical_diversity(spark, sf_dir).select("doc_id", "ttr")
    rep = llm_repetition(spark, sf_dir).select("doc_id", "dup_gram_ratio")
    cov = llm_bigram_coverage(spark, sf_dir).select("doc_id", "coverage")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    j = (
        docs.join(lex, "doc_id")
        .join(rep, "doc_id")
        .join(cov, "doc_id", "left")
        .withColumn("coverage", F.coalesce(F.col("coverage"), F.lit(0.0)))
    )
    low = F.col("ttr") < _GATE_TTR
    rep_f = F.col("dup_gram_ratio") > _GATE_DUP
    off = F.col("coverage") < _GATE_COV
    return j.select(
        "doc_id",
        "ttr",
        "dup_gram_ratio",
        "coverage",
        low.alias("low_diversity"),
        rep_f.alias("repetitive"),
        off.alias("off_domain"),
        (~low & ~rep_f & ~off).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Dataset card: the one-row corpus summary a dataset release ships —
# volume (docs/chars/tokens), breadth (sources/languages), and the
# exact-duplicate rate. One full-scan aggregate with map-side combine
# everywhere (countDistinct included); all counts integers, the two
# ratios single IEEE divisions. The dup rate uses the same md5 exact-
# key as llm_exact_dedup, so the card agrees with the dedup pipeline
# by construction.
# ---------------------------------------------------------------------------

_CARD_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, source, lang, n_chars,
         len({_TOKS}) AS n_toks,
         md5(array_to_string({_TOKS}, ' ')) AS exact_key
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars,
       CAST(COUNT(*) - COUNT(DISTINCT exact_key) AS BIGINT) AS n_exact_dups,
       CAST(COUNT(*) - COUNT(DISTINCT exact_key) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM base
"""


@register(
    "llm_dataset_card",
    oracle=_CARD_ORACLE,
    doc="one-row corpus summary (volume, breadth, exact-dup rate):"
        " single combinable full-scan aggregate, integer counts",
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(T.tokens(F.col("text"))).alias("n_toks"),
        T.exact_hash(F.col("text")).alias("exact_key"),
    )
    return base.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_chars"
        ),
        (F.count(F.lit(1)) - F.countDistinct("exact_key"))
        .cast("bigint")
        .alias("n_exact_dups"),
        (
            (F.count(F.lit(1)) - F.countDistinct("exact_key")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language: BPE-ish tokens per whitespace word —
# the metric that tells you which languages your tokenizer fragments
# (fertility ~1 = efficient; >>1 = the language pays more context per
# word). One combinable groupBy on lang over two integer token counts
# the stats query already defines; the ratio is a single division of
# exact BIGINTs.
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = rf"""
WITH m AS (
  SELECT lang,
         len({_TOKS}) AS ws_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
       CAST(SUM(bpe_tokens) AS DOUBLE) / CAST(SUM(ws_tokens) AS DOUBLE)
         AS fertility
FROM m GROUP BY lang
"""


@register(
    "llm_tokenizer_fertility",
    oracle=_FERTILITY_ORACLE,
    doc="BPE-ish tokens per whitespace word by language — the tokenizer-"
        "efficiency gate; integer sums, one exact division",
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "lang",
        T.ws_token_count(F.col("text")).alias("ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        (
            F.sum("bpe_tokens").cast("double") / F.sum("ws_tokens").cast("double")
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Mixture report: the before/after source-share table for the
# temperature mix — what fraction of the corpus each source was, and
# what fraction of the SAMPLE it becomes (the tail upweighting made
# visible). Pure integer counts from the mix operator's own take rule;
# the four ratios are single divisions of exact BIGINTs.
# ---------------------------------------------------------------------------

_MIXREPORT_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_source FROM documents GROUP BY source
),
take AS (
  SELECT source, n_source,
         LEAST(n_source, CAST(FLOOR({_TEMP_C} * sqrt(CAST(n_source AS DOUBLE)))
                              AS BIGINT)) AS n_sampled
  FROM counts
),
tot AS (SELECT SUM(n_source) AS n_total, SUM(n_sampled) AS s_total FROM take)
SELECT t.source, t.n_source, t.n_sampled,
       CAST(t.n_source AS DOUBLE) / CAST(tot.n_total AS DOUBLE) AS share_before,
       CAST(t.n_sampled AS DOUBLE) / CAST(tot.s_total AS DOUBLE) AS share_after,
       (CAST(t.n_sampled AS DOUBLE) / CAST(tot.s_total AS DOUBLE))
         / (CAST(t.n_source AS DOUBLE) / CAST(tot.n_total AS DOUBLE)) AS upweight
FROM take t CROSS JOIN tot
"""


@register(
    "llm_mixture_report",
    oracle=_MIXREPORT_ORACLE,
    doc="before/after source shares of the temperature mix + upweight"
        " factor: |sources|-row integer arithmetic",
)
def llm_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    take = counts.select(
        "source",
        "n_source",
        F.least(
            F.col("n_source"),
            F.floor(F.lit(_TEMP_C) * F.sqrt(F.col("n_source").cast("double"))),
        ).alias("n_sampled"),
    )
    tot = take.groupBy().agg(
        F.sum("n_source").alias("n_total"), F.sum("n_sampled").alias("s_total")
    )
    j = take.crossJoin(F.broadcast(tot))
    before = F.col("n_source").cast("double") / F.col("n_total").cast("double")
    after = F.col("n_sampled").cast("double") / F.col("s_total").cast("double")
    return j.select(
        "source",
        "n_source",
        "n_sampled",
        before.alias("share_before"),
        after.alias("share_after"),
        (after / before).alias("upweight"),
    )

# ---------------------------------------------------------------------------
# Token log-frequency fluency proxy (round 6): mean floor(log2(corpus
# frequency)) over a document's token occurrences — the integer-exact
# stand-in for unigram-LM scoring (docs built from common tokens score
# high, rare-token/gibberish-heavy docs score low; the log keeps "the"
# from drowning the signal the way raw frequency sums do). No float log
# anywhere: floor(log2(n)) = length(bin(n)) - 1, computed as integer
# string length on BOTH engines — the seam-proof discipline the
# float-seam lint enforces. Scale shape: corpus frequencies are one
# combinable groupBy on token; the per-doc rollup joins occurrences to
# the frequency table ON TOKEN (posting-style equi-join, never doc
# pairs) and reduces on doc_id; mean_tier_permille is integer division.
# ---------------------------------------------------------------------------

_FLUENCY_ORACLE = rf"""
WITH occ AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
freq AS (SELECT tok, COUNT(*) AS cnt FROM occ GROUP BY tok),
tiers AS (SELECT tok, CAST(length(bin(cnt)) - 1 AS BIGINT) AS tier FROM freq),
per_doc AS (
  SELECT o.doc_id,
         COUNT(*) AS n_toks,
         CAST(SUM(t.tier) AS BIGINT) AS tier_sum
  FROM occ o JOIN tiers t USING (tok)
  GROUP BY o.doc_id
)
SELECT doc_id, n_toks, tier_sum,
       CAST(tier_sum * 1000 // n_toks AS BIGINT) AS mean_tier_permille
FROM per_doc
"""


@register(
    "llm_token_fluency",
    oracle=_FLUENCY_ORACLE,
    doc="mean floor(log2(corpus token frequency)) per doc — integer-"
        "exact unigram-fluency proxy via length(bin(n))-1, posting-style"
        " token join, no float log",
)
def llm_token_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    freq = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tiers = freq.select(
        "tok", (F.length(F.bin(F.col("cnt"))) - 1).cast("bigint").alias("tier")
    )
    per_doc = (
        occ.join(tiers, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("tier").cast("bigint").alias("tier_sum"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_toks",
        "tier_sum",
        F.floor(F.col("tier_sum") * 1000 / F.col("n_toks"))
        .cast("bigint")
        .alias("mean_tier_permille"),
    )

# ---------------------------------------------------------------------------
# Bloom-pruned decontamination (round 6): identical RESULTS to
# llm_decontaminate (same oracle — the bloom is transparent), different
# 100 TB shape. The plain version anti-joins every training row against
# the benchmark set; here a sketch-sized bloom filter of benchmark
# fingerprints (the engine's xxhash64 bits: deterministic, and exempt
# from portable hashing because the exact anti-join drops every false
# positive; 8 KiB of plan literal) splits training rows FIRST:
# bloom-negative rows are DEFINITELY clean and keep with zero join
# work (the overwhelming majority), and only bloom-positive rows (true
# overlaps + ~fp-rate noise) reach the exact anti-join that removes
# false positives. When the benchmark set outgrows a broadcast, this is
# the shape that survives: the filter stays KiB-sized no matter how
# large either side grows — same register discipline as j_bloom_pruned.
# ---------------------------------------------------------------------------


@register(
    "llm_decontaminate_bloom",
    oracle=_DECON_ORACLE,
    doc="decontamination with a bloom pre-filter: bloom-negative"
        " training rows keep join-free; only bloom positives reach the"
        " exact anti-join — result-identical to llm_decontaminate"
        " (same oracle), sketch-sized filter at any benchmark scale",
)
def llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark import sketches as SK

    m_bits, k = 1 << 16, 4
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", T.fingerprint(F.col("text"), k=3).alias("fingerprint")
    ).localCheckpoint(eager=False)
    bench = fp.filter(F.col("doc_id") % 97 == 0).select("fingerprint")
    train = fp.filter(F.col("doc_id") % 97 != 0)
    words = SK.bloom_words(bench, "fingerprint", m_bits, k)
    # Null-safe: a NULL fingerprint (null/empty text) makes the raw bloom
    # predicate NULL, and a bare where(~maybe)/where(maybe) pair would drop
    # the row from BOTH branches — diverging from llm_decontaminate, whose
    # left_anti join keeps it (NULL keys never match), and from the shared
    # oracle's NOT EXISTS. Coalesce to false: NULL-fingerprint rows are
    # definitely-clean and keep join-free.
    maybe = F.coalesce(
        SK.bloom_member(words, "fingerprint", m_bits, k), F.lit(False)
    )
    clean_fast = train.where(~maybe)
    suspects = train.where(maybe)
    cleaned = suspects.join(F.broadcast(bench), "fingerprint", "left_anti")
    return clean_fast.unionByName(cleaned).select("doc_id", "fingerprint")

# ---------------------------------------------------------------------------
# Compression-ratio quality signal (round 6): zlib-compressed size over
# raw size per document — the classic cheap repetitiveness detector
# (highly compressible text is boilerplate/template/spam; used alongside
# the n-gram repetition signal, which it catches from a different
# angle: long-range redundancy a 3-gram window misses). Runs as an
# Arrow-batched mapInPandas (zlib is CPU-bound C code; one Python
# worker per core chews its batch without per-row overhead).
# Rows-only by necessity: DuckDB has no SQL zlib, so no oracle exists —
# correctness is pinned by unit tests (exact zlib recompute, plus the
# repetitive < diverse ordering property the signal exists for).
# Integer outputs only; ratio is integer permille.
# ---------------------------------------------------------------------------


@register(
    "llm_compression_ratio",
    oracle=None,
    doc="zlib compression ratio per doc (integer permille) — long-range"
        " repetitiveness signal; Arrow-batched mapInPandas, rows-only"
        " (no SQL zlib), pinned by exact-recompute tests",
)
def llm_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.compression_ratios(docs, "doc_id", "text")

# ---------------------------------------------------------------------------
# DSIR-style importance weighting (round 7): Data Selection via
# Importance Resampling (Xie et al. 2023) scores every pool document by
# how much more likely its hashed bag-of-words features are under a
# TARGET distribution than under the raw pool — the standard recipe for
# tilting a 100 TB crawl toward a high-quality target domain without a
# trained classifier. Here the target is the English slice (lang='en')
# and the pool is everything; features are words hashed into 1024
# buckets (portable md5 hash, identical on both engines).
#
# Seam-proof scoring: true DSIR uses log(p_target/p_pool) per feature.
# Two integer refinements replace the float log:
# (1) counts become PERMYRIAD RATES first — (count+1)*10000 div
#     (total+B), the add-one-smoothed token share per 10k — so the
#     weights are invariant to corpus size (raw-count tiers would drift
#     as the pool grows 100x while the target stays fixed);
# (2) log2 gains quarter-bit resolution: floor(4*log2(x+1)) =
#     length(bin((x+1)^4)) - 1, with the 4th power written as explicit
#     multiplication ((x+1) <= 10001, so the product <= ~1e16 fits
#     bigint at ANY corpus size — this is why rates, not counts, are
#     tiered). A document's weight is
#         sum_b  n_b * (q4(target_rate_b) - q4(pool_rate_b))
# an all-bigint sum preserving the resampling ORDER structure with zero
# doubles in any driver-visible column.
#
# Fixture honesty: the driver's synthetic documents share ONE
# vocabulary across lang labels (verified by inspection — 'zh' rows
# contain the same English-ish words as 'en' rows), so on THIS fixture
# the target and pool distributions nearly coincide and the top-k tilt
# toward 'en' is mild (~50/100 vs a 44% pool share). The operator's
# discriminative behavior is proven instead by the planted-vocabulary
# test (tests/test_text_analysis.py::test_dsir_ranks_target_vocab_first),
# where target-like docs rank strictly above pool-like ones.
#
# Scale shape: one (doc, bucket) combinable count shuffle; the two
# distribution frames collapse to <=1024 rows each and broadcast into
# the per-doc frame (the join cost is |docs x distinct buckets per
# doc|, never |docs|^2); the final reduce is one doc-keyed combinable
# sum; top-k is TakeOrdered. Reference analogue: the vote-index "score
# rows against a reference profile then rank" shape
# (votervoice/transform.py:77-86).
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 1024
_DSIR_TARGET_LANG = "en"
_DSIR_TOPK = 100

_DSIR_ORACLE = rf"""
WITH occ AS (
  SELECT doc_id, lang, source,
         CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT)
              % {_DSIR_BUCKETS} AS BIGINT) AS bucket
  FROM (SELECT doc_id, lang, source, unnest({_TOKS}) AS tok FROM documents)
),
doc_feats AS (
  SELECT doc_id, ANY_VALUE(lang) AS lang, ANY_VALUE(source) AS source,
         bucket, COUNT(*) AS n_b
  FROM occ GROUP BY doc_id, bucket
),
target_dist AS (
  SELECT bucket, COUNT(*) AS tc FROM occ
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket
),
target_total AS (
  SELECT COUNT(*) AS tt FROM occ WHERE lang = '{_DSIR_TARGET_LANG}'
),
pool_dist AS (SELECT bucket, COUNT(*) AS pc FROM occ GROUP BY bucket),
pool_total AS (SELECT COUNT(*) AS pt FROM occ),
rates AS (
  SELECT p.bucket,
         (COALESCE(t.tc, 0) + 1) * 10000 // (tt.tt + {_DSIR_BUCKETS}) AS tr,
         (p.pc + 1) * 10000 // (pt.pt + {_DSIR_BUCKETS}) AS pr
  FROM pool_dist p
  LEFT JOIN target_dist t USING (bucket)
  CROSS JOIN target_total tt CROSS JOIN pool_total pt
),
tiers AS (
  SELECT bucket,
         CAST(length(bin((tr + 1) * (tr + 1) * (tr + 1) * (tr + 1))) - 1
              AS BIGINT)
           - CAST(length(bin((pr + 1) * (pr + 1) * (pr + 1) * (pr + 1))) - 1
                  AS BIGINT) AS tier_delta
  FROM rates
),
weights AS (
  SELECT f.doc_id, ANY_VALUE(f.lang) AS lang, ANY_VALUE(f.source) AS source,
         CAST(SUM(f.n_b) AS BIGINT) AS n_toks,
         CAST(SUM(f.n_b * ti.tier_delta) AS BIGINT) AS weight_proxy
  FROM doc_feats f JOIN tiers ti USING (bucket)
  GROUP BY f.doc_id
)
SELECT doc_id, lang, source, n_toks, weight_proxy
FROM weights
ORDER BY weight_proxy DESC, doc_id
LIMIT {_DSIR_TOPK}
"""


@register(
    "llm_dsir_importance",
    oracle=_DSIR_ORACLE,
    doc="DSIR-style importance weights: hashed bag-of-words (1024 md5"
        " buckets), integer log2-tier proxy of log(p_target/p_pool),"
        " per-doc bigint weighted sum, top-k — broadcast-sized"
        " distribution frames, no float anywhere",
)
def llm_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.functions.hashing import portable_hash60
    from sig_etl_spark.llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        "source",
        F.pmod(portable_hash60(F.col("tok")), F.lit(_DSIR_BUCKETS)).alias("bucket"),
    )
    # ONE tokenize+count pass: both distributions and both totals derive
    # from the per-(doc, bucket) frame (sums of n_b are exactly the raw
    # occurrence counts), and the frame is persisted because four
    # consumers would otherwise re-run the tokenize/explode subtree —
    # the repo's standard reused-subtree barrier (README design stance).
    doc_feats = occ.groupBy("doc_id", "bucket").agg(
        F.any_value(F.col("lang")).alias("lang"),
        F.any_value(F.col("source")).alias("source"),
        F.count(F.lit(1)).alias("n_b"),
    ).persist()
    target_feats = doc_feats.filter(F.col("lang") == _DSIR_TARGET_LANG)
    target_dist = target_feats.groupBy("bucket").agg(
        F.sum("n_b").alias("tc")
    )
    target_total = target_feats.agg(F.sum("n_b").alias("tt"))
    pool_dist = doc_feats.groupBy("bucket").agg(F.sum("n_b").alias("pc"))
    pool_total = doc_feats.agg(F.sum("n_b").alias("pt"))

    # floor(4*log2(x+1)) via the bit length of the explicit 4th power —
    # x is a permyriad rate (<= 10000), so (x+1)^4 <= ~1e16 fits bigint
    # regardless of corpus size.
    def q4(c: F.Column) -> F.Column:
        x1 = c + F.lit(1)
        return (F.length(F.bin(x1 * x1 * x1 * x1)) - 1).cast("bigint")

    tiers = (
        pool_dist.join(target_dist, "bucket", "left")
        .crossJoin(F.broadcast(target_total))
        .crossJoin(F.broadcast(pool_total))
        .select(
            "bucket",
            F.expr(
                f"(coalesce(tc, 0) + 1) * 10000 div (tt + {_DSIR_BUCKETS})"
            ).alias("tr"),
            F.expr(f"(pc + 1) * 10000 div (pt + {_DSIR_BUCKETS})").alias("pr"),
        )
        .select(
            "bucket",
            (q4(F.col("tr")) - q4(F.col("pr"))).alias("tier_delta"),
        )
    )
    weights = (
        doc_feats.join(F.broadcast(tiers), "bucket")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.any_value(F.col("source")).alias("source"),
            F.sum("n_b").cast("bigint").alias("n_toks"),
            F.sum(F.col("n_b") * F.col("tier_delta"))
            .cast("bigint")
            .alias("weight_proxy"),
        )
    )
    return (
        weights.select("doc_id", "lang", "source", "n_toks", "weight_proxy")
        .orderBy(F.desc("weight_proxy"), F.asc("doc_id"))
        .limit(_DSIR_TOPK)
    )

# ---------------------------------------------------------------------------
# Annotator-agreement report (round 7): Cohen's kappa between the
# engine's n-gram language-ID heuristic and the dataset's lang label —
# the QA measurement a labeling pipeline runs before trusting either
# source of labels ("how much better than chance do the two labelers
# agree?"). kappa = (po - pe) / (1 - pe) is a division seam, so it is
# emitted as EXACT integer cross-multiplication permille:
#     kappa_permille = (A*N - S) * 1000 div (N^2 - S)
# where A = agreements, N = docs, S = sum over classes of
# (row marginal * column marginal) — every term a bigint. Scale shape:
# one codegen pass computes the guess, one combinable groupBy builds
# the confusion matrix (<=|langs|^2 rows), marginal products fold on
# the driver-sized matrix; 1-row output.
# ---------------------------------------------------------------------------

_AGREE_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, lang, {_TOKS} AS toks FROM documents
),
g AS (
  SELECT lang AS actual,
         CASE WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
              WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
              WHEN h_es > 0 AND h_es >= h_en AND h_es >= h_de AND h_es >= h_fr THEN 'es'
              WHEN h_fr > 0 AND h_fr >= h_en AND h_fr >= h_de AND h_fr >= h_es THEN 'fr'
              ELSE 'und'
         END AS predicted
  FROM (
    SELECT lang,
           len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS h_en,
           len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS h_de,
           len(list_filter(toks, t -> list_contains(['el','la','que','y','en','los'], t))) AS h_es,
           len(list_filter(toks, t -> list_contains(['le','la','et','les','des','une'], t))) AS h_fr
    FROM base
  )
),
cm AS (SELECT actual, predicted, COUNT(*) AS n FROM g GROUP BY 1, 2),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN actual = predicted THEN n ELSE 0 END) AS BIGINT)
           AS n_agree
  FROM cm
),
marg AS (
  SELECT CAST(SUM(ra.rn * cb.cn) AS BIGINT) AS s_chance
  FROM (SELECT actual AS cls, SUM(n) AS rn FROM cm GROUP BY actual) ra
  JOIN (SELECT predicted AS cls, SUM(n) AS cn FROM cm GROUP BY predicted) cb
    ON ra.cls = cb.cls
)
SELECT n_docs, n_agree, s_chance, accuracy_permille,
       CASE WHEN n_agree * n_docs >= s_chance THEN kp_abs ELSE -kp_abs END
         AS kappa_permille
FROM (
  SELECT n_docs, n_agree, s_chance,
         CAST(n_agree * 1000 // n_docs AS BIGINT) AS accuracy_permille,
         -- below-chance agreement makes the numerator negative, and
         -- floor (//) vs truncate (div) diverge there: divide the
         -- absolute value (identical on both engines) and re-sign
         CAST(ABS(n_agree * n_docs - s_chance) * 1000
              // (n_docs * n_docs - s_chance) AS BIGINT) AS kp_abs
  FROM tot CROSS JOIN marg
)
"""


@register(
    "llm_langid_agreement",
    oracle=_AGREE_ORACLE,
    doc="Cohen's kappa between the n-gram language-ID heuristic and the"
        " dataset lang label: confusion marginals folded to exact"
        " integer cross-multiplication permille — annotator-agreement"
        " QA with zero doubles",
)
def llm_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        F.col("lang").alias("actual"),
        T.lang_guess(F.col("text")).alias("predicted"),
    )
    cm = g.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    tot = cm.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("actual") == F.col("predicted"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    ra = cm.groupBy(F.col("actual").alias("cls")).agg(F.sum("n").alias("rn"))
    cb = cm.groupBy(F.col("predicted").alias("cls")).agg(F.sum("n").alias("cn"))
    marg = (
        ra.join(cb, "cls")
        .agg(F.sum(F.col("rn") * F.col("cn")).cast("bigint").alias("s_chance"))
    )
    return (
        tot.crossJoin(F.broadcast(marg))
        .select(
            "n_docs",
            "n_agree",
            "s_chance",
            F.expr("cast(n_agree * 1000 div n_docs as bigint)")
            .alias("accuracy_permille"),
            # abs-then-resign: floor (//) vs truncate (div) agree only
            # on non-negative numerators
            F.expr(
                "cast(if(n_agree * n_docs >= s_chance, 1, -1)"
                " * (abs(n_agree * n_docs - s_chance) * 1000"
                "    div (n_docs * n_docs - s_chance)) as bigint)"
            ).alias("kappa_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff (round 8): the dataset-versioning audit — given
# two VERSIONS of a corpus, report per source how many documents were
# added, removed, changed, or untouched. At 100 TB this is how a
# training-data pipeline proves "v2 = v1 + these deltas" without
# re-reading either version twice: one full-outer hash-join on the
# document key comparing content fingerprints, counts map-side
# combinable. The two versions are derived deterministically from the
# fixture (v1 drops doc_id % 7 == 0 — docs "added later"; v2 drops
# doc_id % 5 == 1 — docs "removed"; v2 rewrites doc_id % 11 == 3 —
# "changed" content via a regexp edit identical on both engines), so
# every diff class is exercised and the oracle re-derives the same
# partition. Fingerprint = md5 of the text — the same content-hash
# convention as llm_exact_dedup.
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, source, md5(text) AS fp
  FROM documents WHERE doc_id % 7 <> 0
),
v2 AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 11 = 3
                  THEN regexp_replace(text, '^[a-z]+', 'REVISED')
                  ELSE text END) AS fp
  FROM documents WHERE doc_id % 5 <> 1
),
j AS (
  SELECT COALESCE(v1.source, v2.source) AS source,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.fp <> v2.fp THEN 'changed'
              ELSE 'unchanged' END AS klass
  FROM v1 FULL OUTER JOIN v2
    ON v1.doc_id = v2.doc_id
)
SELECT source,
       CAST(SUM(CASE WHEN klass = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN klass = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN klass = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN klass = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM j GROUP BY source
"""


@register(
    "llm_corpus_snapshot_diff",
    oracle=_SNAPDIFF_ORACLE,
    doc="dataset-versioning audit: per-source added/removed/changed/"
        "unchanged counts between two corpus versions via one full-outer"
        " key join over md5 content fingerprints — map-side-combinable"
        " counts, no version read twice",
)
def llm_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("id1"),
        F.col("source").alias("src1"),
        F.md5("text").alias("fp1"),
    )
    v2 = docs.where(F.col("doc_id") % 5 != 1).select(
        F.col("doc_id").alias("id2"),
        F.col("source").alias("src2"),
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 3,
                F.regexp_replace(F.col("text"), r"^[a-z]+", "REVISED"),
            ).otherwise(F.col("text"))
        ).alias("fp2"),
    )
    j = v1.join(v2, v1["id1"] == v2["id2"], "full_outer").select(
        F.coalesce(F.col("src1"), F.col("src2")).alias("source"),
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("fp1") != F.col("fp2"), "changed")
        .otherwise("unchanged")
        .alias("klass"),
    )
    return j.groupBy("source").agg(
        *[
            F.sum(F.when(F.col("klass") == k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{k}")
            for k in ("added", "removed", "changed", "unchanged")
        ]
    )


# ---------------------------------------------------------------------------
# BPE merge learning (round 9 — VERDICT r8 task 4). The trainer is
# sig_etl_spark/llm/bpe.py (iterative pair-count -> global argmax ->
# replace() re-segmentation rounds); the oracle UNROLLS the same R
# rounds as chained CTEs, the same pattern graph_pagerank_parts uses.
# Both engines share the paren-wrapped-symbol representation, the
# 'count DESC, pair ASC' argmax tiebreak, and left-to-right
# non-overlapping replace semantics, so the learned merge table is
# hash-exact. pair_count casts to BIGINT on the oracle side (DuckDB
# SUM(BIGINT) widens to HUGEINT — the r8 seam class).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 5

# ONE per-round pair-count/argmax/replace CTE template shared by the
# trainer oracle and the fertility oracle — two hand-maintained copies of
# this load-bearing merge-learning SQL could silently drift apart.
# m{r}/seq{r} are MATERIALIZED: DuckDB inlines CTEs by default, and each
# round references its predecessor twice (pair count + re-segmentation),
# so an inlined chain re-expands the base scan 2^R times — fine at R=5,
# fatal ("too many open files") at the production R=32. Materialization
# makes the chain linear, exactly like the Spark loop's checkpointed
# vocab.
_BPE_MERGE_CTE = """
p{r} AS (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
    SELECT unnest(list_transform(
             generate_series(1, len(syms) - 1),
             i -> syms[i] || ' ' || syms[i + 1])) AS pair,
           cnt
    FROM (SELECT string_split(substring(seq, 2, length(seq) - 2), ')(') AS syms,
                 cnt
          FROM seq{prev})
  ) GROUP BY pair
),
m{r} AS MATERIALIZED (
  SELECT {r} AS round,
         split_part(pair, ' ', 1) AS left_sym,
         split_part(pair, ' ', 2) AS right_sym,
         split_part(pair, ' ', 1) || split_part(pair, ' ', 2) AS merged,
         pair_count
  FROM p{r} ORDER BY pair_count DESC, pair LIMIT 1
),
seq{r} AS MATERIALIZED (
  SELECT replace(seq, '(' || m.left_sym || ')(' || m.right_sym || ')',
                 '(' || m.merged || ')') AS seq, cnt
  FROM seq{prev} CROSS JOIN m{r} m
)"""


def _bpe_merge_ctes(n_rounds: int) -> str:
    """The unrolled merge-learning rounds as a comma-joined CTE chain
    (seq0 in scope -> p{r}/m{r}/seq{r} per round)."""
    return ",".join(
        _BPE_MERGE_CTE.format(r=r, prev=r - 1) for r in range(1, n_rounds + 1)
    )


def _bpe_oracle(n_rounds: int = _BPE_ROUNDS) -> str:
    ctes = _bpe_merge_ctes(n_rounds)
    union = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, n_rounds + 1))
    return f"""
WITH toks AS (
  SELECT t.tok AS word
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok <> ''
),
words AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
seq0 AS (
  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS seq, cnt FROM words
),{ctes}
SELECT CAST(round AS INT) AS round, left_sym, right_sym, merged, pair_count
FROM ({union}) ORDER BY round
"""


@register(
    "llm_bpe_train",
    oracle=_bpe_oracle(),
    doc="distributed BPE merge learning: 5 rounds of weighted adjacent-"
        "pair counting over the distinct-word vocabulary, global argmax "
        "(1-row collect), codegen'd replace() re-segmentation; oracle = "
        "the same rounds unrolled as CTEs. Merges feed llm.bpe.segment "
        "(the learned upgrade of bpe_ish_token_count).",
)
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_merges(docs, n_merges=_BPE_ROUNDS)
    return bpe.merges_df(spark, merges)


# ---------------------------------------------------------------------------
# Learned-BPE fertility (round 9 follow-on): applies llm_bpe_train's 5
# learned merges CORPUS-WIDE and reports tokens-per-word by language —
# the downstream consumer that makes merge learning useful, and the
# data-derived upgrade of llm_tokenizer_fertility's fixed-regex count.
# Everything stays integer (counts + one exact permille division); the
# oracle reuses the unrolled merge CTEs and applies the same 5 replaces
# to each distinct word. Merges are global (trained on the whole
# corpus); fertility is reported per language, so the query also shows
# WHICH languages the learned vocabulary serves worst — the standard
# multilingual-tokenizer audit.
# ---------------------------------------------------------------------------


def _bpe_fertility_oracle(n_rounds: int = _BPE_ROUNDS) -> str:
    # merge learning = the SHARED _BPE_MERGE_CTE chain; only the
    # word-level application CTEs (the same replace chain keyed by word)
    # are fertility-specific
    apply_cte = """
w{r} AS (
  SELECT word, replace(seq, '(' || m.left_sym || ')(' || m.right_sym || ')',
                       '(' || m.merged || ')') AS seq
  FROM w{prev} CROSS JOIN m{r} m
)"""
    merge_ctes = _bpe_merge_ctes(n_rounds)
    apply_ctes = ",".join(
        apply_cte.format(r=r, prev=r - 1) for r in range(1, n_rounds + 1)
    )
    return f"""
WITH toks AS (
  SELECT lang, t.tok AS word
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok <> ''
),
by_lang AS (SELECT lang, word, COUNT(*) AS cnt FROM toks GROUP BY lang, word),
words AS (SELECT word, CAST(SUM(cnt) AS BIGINT) AS cnt FROM by_lang GROUP BY word),
seq0 AS (
  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS seq, cnt FROM words
),{merge_ctes},
w0 AS (
  SELECT word, regexp_replace(word, '(.)', '(\\1)', 'g') AS seq FROM (SELECT DISTINCT word FROM words)
),{apply_ctes},
ntoks AS (
  SELECT word,
         CAST(len(string_split(substring(seq, 2, length(seq) - 2), ')(')) AS BIGINT) AS n_toks
  FROM w{n_rounds}
)
SELECT b.lang,
       CAST(SUM(b.cnt) AS BIGINT) AS words,
       CAST(SUM(b.cnt * n.n_toks) AS BIGINT) AS learned_tokens,
       CAST(SUM(b.cnt * length(b.word)) AS BIGINT) AS chars,
       CAST(SUM(b.cnt * n.n_toks) AS BIGINT) * 1000
         // CAST(SUM(b.cnt) AS BIGINT) AS fertility_permille
FROM by_lang b JOIN ntoks n USING (word)
GROUP BY b.lang ORDER BY b.lang
"""


@register(
    "llm_bpe_fertility",
    oracle=_bpe_fertility_oracle(),
    doc="learned-BPE fertility by language: apply llm_bpe_train's merges"
        " to the distinct-word vocabulary (codegen'd replace chain, no"
        " corpus rescan), weight by per-(lang,word) occurrence counts —"
        " tokens/word permille per lang, all-integer",
)
def llm_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_fertility_frame(spark, sf_dir, _BPE_ROUNDS)


# Production merge count (round 10 — VERDICT r9 task 5): real tokenizers
# learn thousands of merges; 32 rounds exercises the chained-replace
# codegen path at a depth where per-round cost must stay flat (the loop
# re-scans a checkpointed vocab under r chained replaces — measured at
# sf1 in BASELINE.md). The 5-round twin above keeps its oracle unchanged;
# this one unrolls the same shared CTE template 32 times.
_BPE_ROUNDS_PROD = 32


@register(
    "llm_bpe_fertility32",
    oracle=_bpe_fertility_oracle(_BPE_ROUNDS_PROD),
    doc="learned-BPE fertility at a production merge count (32 rounds):"
        " same trainer, same shared merge-CTE oracle template unrolled"
        " 32x — pins that per-round cost stays flat as the replace chain"
        " deepens (vocab-sized scans, never the corpus)",
)
def llm_bpe_fertility32(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_fertility_frame(spark, sf_dir, _BPE_ROUNDS_PROD)


def _bpe_fertility_frame(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> DataFrame:
    from sig_etl_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_merges(docs, n_merges=n_merges)
    by_lang = (
        docs.select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), bpe.WORD_SPLIT_RE)).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    ntoks = (
        by_lang.select("word").distinct()
        .select("word", F.size(bpe.segment(F.col("word"), merges)).cast("bigint").alias("n_toks"))
    )
    return (
        by_lang.join(ntoks, "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("words"),
            F.sum(F.col("cnt") * F.col("n_toks")).cast("bigint").alias("learned_tokens"),
            F.sum(F.col("cnt") * F.length("word")).cast("bigint").alias("chars"),
            F.expr(
                "CAST(CAST(SUM(cnt * n_toks) AS BIGINT) * 1000"
                " div CAST(SUM(cnt) AS BIGINT) AS BIGINT)"
            ).alias("fertility_permille"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Learned-BPE ENCODE (round 10 follow-on): the step that actually
# produces training data — the corpus encoded to token ids under the
# learned vocabulary. Completes the tokenizer lifecycle the registry now
# carries end to end: train (llm_bpe_train) -> audit (llm_bpe_fertility)
# -> ENCODE. The vocabulary is the distinct final-symbol set after the
# R merges, id'd by a deterministic dense rank (symbol ASC — both
# engines agree bit-for-bit; real tokenizers id by creation order, which
# is merely a different permutation of the same set). Scale shape: the
# expensive work (segmentation) runs once per DISTINCT WORD, never per
# occurrence; the per-word stats table is vocab-sized and joins back to
# the corpus on the word key (broadcast at real scale); the id-assign
# window runs over the symbol set (hundreds of rows). All outputs are
# exact integer sums — no float seam can exist.
# ---------------------------------------------------------------------------


def _bpe_encode_oracle(n_rounds: int = _BPE_ROUNDS) -> str:
    apply_cte = """
w{r} AS (
  SELECT word, replace(seq, '(' || m.left_sym || ')(' || m.right_sym || ')',
                       '(' || m.merged || ')') AS seq
  FROM w{prev} CROSS JOIN m{r} m
)"""
    merge_ctes = _bpe_merge_ctes(n_rounds)
    apply_ctes = ",".join(
        apply_cte.format(r=r, prev=r - 1) for r in range(1, n_rounds + 1)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS word
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
  WHERE t.tok <> ''
),
words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY word),
seq0 AS (
  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS seq, cnt FROM words
),{merge_ctes},
w0 AS (
  SELECT word, regexp_replace(word, '(.)', '(\\1)', 'g') AS seq FROM (SELECT DISTINCT word FROM words)
),{apply_ctes},
wsyms AS (
  SELECT word,
         unnest(string_split(substring(seq, 2, length(seq) - 2), ')(')) AS sym
  FROM w{n_rounds}
),
vocab AS (
  SELECT sym, row_number() OVER (ORDER BY sym) AS sym_id
  FROM (SELECT DISTINCT sym FROM wsyms)
),
wstats AS (
  SELECT word,
         CAST(COUNT(*) AS BIGINT) AS n_toks,
         CAST(SUM(v.sym_id) AS BIGINT) AS id_sum
  FROM wsyms JOIN vocab v USING (sym) GROUP BY word
)
SELECT t.doc_id,
       CAST(SUM(w.n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(w.id_sum) AS BIGINT) AS token_id_sum
FROM toks t JOIN wstats w USING (word)
GROUP BY t.doc_id
"""


@register(
    "llm_bpe_encode",
    oracle=_bpe_encode_oracle(),
    doc="corpus encoded to learned-BPE token ids (the training-data"
        " step): segmentation once per DISTINCT word, vocab = dense rank"
        " over the final symbol set, per-doc exact-integer token count +"
        " id checksum via a word-keyed join — completes the tokenizer"
        " lifecycle (train -> fertility audit -> encode)",
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from sig_etl_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_merges(docs, n_merges=_BPE_ROUNDS)
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), bpe.WORD_SPLIT_RE)).alias(
                "word"
            ),
        )
        .filter(F.col("word") != "")
    )
    wsyms = (
        toks.select("word").distinct()
        .select("word", F.explode(bpe.segment(F.col("word"), merges)).alias("sym"))
    )
    # deterministic vocab ids: dense rank over the (bounded) symbol set —
    # a window over hundreds of rows, never the corpus
    vocab = (
        wsyms.select("sym").distinct()
        .withColumn(
            "sym_id", F.row_number().over(Window.orderBy("sym")).cast("bigint")
        )
    )
    wstats = (
        wsyms.join(F.broadcast(vocab), "sym")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("sym_id").cast("bigint").alias("id_sum"),
        )
    )
    return (
        toks.join(wstats, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.sum("id_sum").cast("bigint").alias("token_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Span-level decontamination (round 11): the GPT-3-appendix-C move.
# Doc-level decontamination (llm_decontaminate) throws away a whole
# training document when one sentence overlaps the eval suite; the
# span-level variant keeps the clean remainder. Every benchmark K-gram
# found in a training doc poisons a window of P tokens on each side;
# overlapping windows merge (gaps-and-islands over per-doc positions),
# the complement spans are reassembled, and only spans of >= M tokens
# survive (short fragments train nothing and leak context).
#
# Scale shape, piece by piece:
#   1. gram extraction: narrow explode, no shuffle;
#   2. contamination probe: posting-style equi-join on the gram string;
#      the build side is the BENCHMARK gram set — eval suites are
#      MB-sized at any corpus scale, so it broadcasts (same reasoning
#      as llm_decontaminate's bench side);
#   3. interval merge + complement: windows partitioned BY DOC and
#      bounded by hits-per-doc — never a global sort;
#   4. reassembly: one doc-keyed join back to the token arrays.
# Clean docs pass through as a single full-length span with ZERO window
# work (left_anti on the hit set short-circuits them), so the expensive
# path only runs on the contaminated minority.
# Integer math only (positions, token counts) — no float seam.
# 100 TB trade, stated: the tokenized-corpus localCheckpoint costs
# ~corpus-size executor disk in exchange for one parquet decode instead
# of five. At cluster scale that disk is the same budget shuffle files
# use; if it ever pinches, drop the checkpoint and pay the extra
# column-pruned scans — the plan is correct either way.
# ---------------------------------------------------------------------------

_SPAN_K = 3  # benchmark gram width (13 in GPT-3; 3 fits the test corpus)
_SPAN_P = 2  # poisoned-window pad, tokens each side (200 chars in GPT-3)
_SPAN_M = 5  # minimum surviving span length, tokens

# Shared CTE chain (base .. kept): tokenize -> bench grams -> poisoned
# intervals -> island merge -> complement spans. ONE template formatted
# by the registered span queries (test-width K=3 and production-width
# K=13) and the training-release capstone — the _BPE_MERGE_CTE lesson
# (two hand-copies of a load-bearing chain silently drift).


def _span_ctes(k: int, p: int, m: int) -> str:
    return rf"""base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tokd AS (SELECT doc_id, toks, len(toks) AS n FROM base),
grams AS (
  SELECT doc_id, s AS pos,
         array_to_string(list_slice(toks, s + 1, s + {k}), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(0, n - {k} + 1)) AS s
        FROM tokd WHERE n >= {k})
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN bench b USING (gram)
         WHERE g.doc_id % 97 <> 0),
iv AS (SELECT doc_id, greatest(pos - {p}, 0) AS lo,
              pos + {k} - 1 + {p} AS hi
       FROM hits),
mclamp AS (SELECT i.doc_id, i.lo, least(i.hi, t.n - 1) AS hi
           FROM iv i JOIN tokd t USING (doc_id)),
gaps AS (
  -- no island-merge pass needed: the windows are FIXED-width, so in
  -- (lo, hi) order both bounds are monotone in the hit position and
  -- lag(hi) IS the running max — overlapping intervals just produce
  -- negative-length gap rows the >= M filter drops
  SELECT doc_id,
         COALESCE(LAG(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi) + 1, 0)
           AS s,
         lo - 1 AS e
  FROM mclamp
  UNION ALL
  SELECT m.doc_id, MAX(m.hi) + 1 AS s, ANY_VALUE(t.n) - 1 AS e
  FROM mclamp m JOIN tokd t USING (doc_id) GROUP BY m.doc_id
  UNION ALL
  SELECT t.doc_id, 0 AS s, t.n - 1 AS e
  FROM tokd t
  WHERE t.doc_id % 97 <> 0 AND t.n >= 1
    AND NOT EXISTS (SELECT 1 FROM iv WHERE iv.doc_id = t.doc_id)
),
kept AS (SELECT doc_id, s, e FROM gaps WHERE e - s + 1 >= {m})"""


_SPAN_CTES = _span_ctes(_SPAN_K, _SPAN_P, _SPAN_M)

_DECON_SPAN_ORACLE = rf"""
WITH {_SPAN_CTES},
hitcnt AS (SELECT doc_id, COUNT(*) AS n_hits FROM hits GROUP BY doc_id)
SELECT k.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY k.s) - 1
            AS BIGINT) AS span_idx,
       CAST(k.e - k.s + 1 AS BIGINT) AS span_tokens,
       array_to_string(list_slice(t.toks, k.s + 1, k.e + 1), ' ') AS span_text
FROM kept k
JOIN tokd t USING (doc_id)
LEFT JOIN hitcnt h ON h.doc_id = k.doc_id
"""


@register(
    "llm_decontaminate_span",
    oracle=_DECON_SPAN_ORACLE,
    doc=f"GPT-3-style span-level decontamination: benchmark {_SPAN_K}-grams"
        f" poison +/-{_SPAN_P}-token windows, overlaps merge, clean spans"
        f" of >= {_SPAN_M} tokens survive; broadcast bench grams, per-doc"
        " bounded windows, clean docs bypass join-free",
)
def llm_decontaminate_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return span_decontaminate_frame(docs)


# Production gram width (GPT-3 appendix C uses 13-grams): same chain,
# 4x-longer gram strings. At K=13 almost no synthetic doc shares an
# exact 13-gram with the benchmark side, so this row exercises the
# CLEAN-DOC BYPASS path — the one that dominates on real corpora —
# while the K=3 row above keeps the contaminated path loaded. The pad
# stays at the module default (GPT-3's 200-char pad is ~37 tokens,
# which would poison entire synthetic docs and collapse the fixture).
_SPAN_K_PROD = 13

_DECON_SPAN_K13_ORACLE = rf"""
WITH {_span_ctes(_SPAN_K_PROD, _SPAN_P, _SPAN_M)},
hitcnt AS (SELECT doc_id, COUNT(*) AS n_hits FROM hits GROUP BY doc_id)
SELECT k.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY k.s) - 1
            AS BIGINT) AS span_idx,
       CAST(k.e - k.s + 1 AS BIGINT) AS span_tokens,
       array_to_string(list_slice(t.toks, k.s + 1, k.e + 1), ' ') AS span_text
FROM kept k
JOIN tokd t USING (doc_id)
LEFT JOIN hitcnt h ON h.doc_id = k.doc_id
"""


@register(
    "llm_decontaminate_span_k13",
    oracle=_DECON_SPAN_K13_ORACLE,
    doc=f"span decontamination at PRODUCTION gram width K={_SPAN_K_PROD}"
        " (GPT-3 appendix C): same broadcast-probe/bounded-window/bypass"
        " plan with 4x-longer gram strings; on synthetic data nearly"
        " every doc takes the clean bypass — the regime real corpora"
        " exercise",
)
def llm_decontaminate_span_k13(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return span_decontaminate_frame(docs, k=_SPAN_K_PROD)


def span_decontaminate_frame(
    docs: DataFrame,
    extra_cols: tuple[str, ...] = (),
    k: int = _SPAN_K,
    p: int = _SPAN_P,
    m: int = _SPAN_M,
) -> DataFrame:
    """Span-level decontamination over any (doc_id, text) frame — the
    registered queries (test width K=3 and production width K=13), the
    training-release capstone, and the unit-test edge fixtures share
    this body. Benchmark side = doc_id % 97 == 0 (the llm_decontaminate
    convention). Returns (doc_id, n_hits, span_idx, span_tokens,
    span_text, *extra_cols); extra_cols ride the tokenized checkpoint
    through to the output so a caller that needs e.g. `source` does not
    pay a second corpus join. ``k``/``p``/``m`` are the gram width,
    poison pad, and minimum surviving span length — the plan shape is
    width-independent (same broadcast probe, same bounded windows, same
    clean-doc bypass)."""
    from pyspark.sql import Window

    # five downstream branches (grams, clamp, tail, untouched, reassembly)
    # reuse the tokenized frame — checkpoint it once instead of decoding
    # the text column from parquet five times (the llm_decontaminate_bloom
    # fan-out pattern)
    tokd = (
        docs.select("doc_id", *extra_cols, T.tokens(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .localCheckpoint(eager=False)
    )
    grams = (
        tokd.where(F.col("n") >= k)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.col("n") - k)
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.slice("toks", F.col("pos") + 1, F.lit(k)), " "
            ).alias("gram"),
        )
    )
    bench = grams.where(F.col("doc_id") % 97 == 0).select("gram").distinct()
    hits = (
        grams.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "gram")
        .select("doc_id", "pos")
    )
    iv = hits.select(
        "doc_id",
        F.greatest(F.col("pos") - p, F.lit(0)).alias("lo"),
        (F.col("pos") + k - 1 + p).alias("hi"),
    )
    mclamp = iv.join(tokd.select("doc_id", "n"), "doc_id").select(
        "doc_id", "lo", F.least("hi", F.col("n") - 1).alias("hi")
    )
    # no island-merge pass: the windows are FIXED-width, so in (lo, hi)
    # order both bounds are monotone in the hit position and lag(hi) IS
    # the running max — overlapping intervals just produce negative-length
    # gap rows the >= M filter drops
    w2 = Window.partitionBy("doc_id").orderBy("lo", "hi")
    gaps_mid = mclamp.select(
        "doc_id",
        F.coalesce(F.lag("hi").over(w2) + 1, F.lit(0)).alias("s"),
        (F.col("lo") - 1).alias("e"),
    )
    gaps_tail = (
        mclamp.groupBy("doc_id")
        .agg((F.max("hi") + 1).alias("s"))
        .join(tokd.select("doc_id", "n"), "doc_id")
        .select("doc_id", "s", (F.col("n") - 1).alias("e"))
    )
    untouched = (
        tokd.where((F.col("doc_id") % 97 != 0) & (F.col("n") >= 1))
        .join(iv.select("doc_id").distinct(), "doc_id", "left_anti")
        .select("doc_id", F.lit(0).alias("s"), (F.col("n") - 1).alias("e"))
    )
    kept = (
        gaps_mid.unionByName(gaps_tail)
        .unionByName(untouched)
        .where(F.col("e") - F.col("s") + 1 >= m)
    )
    hitcnt = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    w3 = Window.partitionBy("doc_id").orderBy("s")
    return (
        kept.join(tokd.select("doc_id", *extra_cols, "toks"), "doc_id")
        .join(hitcnt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.row_number().over(w3) - 1).cast("bigint").alias("span_idx"),
            (F.col("e") - F.col("s") + 1).cast("bigint").alias("span_tokens"),
            F.array_join(
                F.slice(
                    "toks", F.col("s") + 1, F.col("e") - F.col("s") + 1
                ),
                " ",
            ).alias("span_text"),
            *extra_cols,
        )
    )


# ---------------------------------------------------------------------------
# Epoch-capped budget waterfilling (round 11): the mixture-design dual
# of llm_temperature_mix. Temperature scaling reweights shares; real
# pretraining runs instead fix a TOKEN BUDGET and per-source EPOCH CAPS
# ("curated sources may repeat up to 2 epochs, crawl sources at most
# half an epoch") and solve alloc_s = min(cap_s, lam) with a single
# water level lam chosen so the allocations fill the budget. Closed
# form, no iteration: sort sources by cap, prefix-sum, and the pivot j
# (how many small sources saturate) is the unique index where
# cap_(j) <= lam_j < cap_(j+1) with lam_j = (B - presum_j) / (S - j).
#
# Scale shape: ONE combinable groupBy(source) aggregation touches the
# corpus; everything after runs on the source dimension — bounded by
# source cardinality (thousands at worst), so the rank window and the
# candidate/validity joins are dimension-sized and broadcast. Integer
# math throughout; candidates with presum > budget are filtered BEFORE
# the division on both engines (floor vs truncate diverge on negatives
# — the float-seam discipline applied to integer division).
# ---------------------------------------------------------------------------

_WF_CURATED = ["src0", "src1", "src2", "src3", "src4"]

_WF_ORACLE = rf"""
WITH base AS (SELECT source, len({_TOKS}) AS n FROM documents),
src AS (SELECT source, CAST(SUM(n) AS BIGINT) AS c FROM base GROUP BY source),
cap AS (SELECT source, c,
          CAST(CASE WHEN source IN ('src0','src1','src2','src3','src4')
               THEN 2 * c ELSE c // 2 END AS BIGINT) AS cap
        FROM src),
tot AS (SELECT CAST(SUM(c) * 3 // 5 AS BIGINT) AS budget,
               CAST(COUNT(*) AS BIGINT) AS s FROM cap),
ranked AS (SELECT source, c, cap,
                  CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT)
                    AS j,
                  CAST(SUM(cap) OVER (ORDER BY cap, source) AS BIGINT)
                    AS presum
           FROM cap),
cand AS (
  SELECT r.j, CAST((t.budget - r.presum) // (t.s - r.j) AS BIGINT) AS lam
  FROM ranked r, tot t WHERE r.j < t.s AND r.presum <= t.budget
  UNION ALL
  SELECT 0, budget // s FROM tot
  UNION ALL
  SELECT t.s, (SELECT MAX(cap) FROM ranked) FROM tot t
  WHERE t.budget >= (SELECT MAX(presum) FROM ranked)
),
valid AS (
  SELECT c.j, c.lam FROM cand c, tot t
  WHERE (c.j = 0 OR (SELECT cap FROM ranked r WHERE r.j = c.j) <= c.lam)
    AND (c.j = t.s OR (SELECT cap FROM ranked r WHERE r.j = c.j + 1) > c.lam)
),
pick AS (SELECT lam FROM valid ORDER BY j DESC LIMIT 1)
SELECT r.source, r.c AS n_tokens, r.cap AS cap_tokens,
       CAST(LEAST(r.cap, p.lam) AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN r.cap <= p.lam THEN 1 ELSE 0 END AS BIGINT) AS saturated,
       CAST(CASE WHEN r.c = 0 THEN 0
            ELSE LEAST(r.cap, p.lam) * 1000 // r.c END AS BIGINT)
         AS epochs_permille
FROM ranked r, pick p
"""


@register(
    "llm_mixture_waterfill",
    oracle=_WF_ORACLE,
    doc="epoch-capped token-budget waterfilling: alloc=min(cap, lam) with"
        " the water level solved closed-form via sort + prefix sums on the"
        " source dimension; one corpus-touching groupBy, all else"
        " dimension-sized",
)
def llm_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return waterfill_frame(docs)


def waterfill_frame(docs: DataFrame) -> DataFrame:
    """Waterfilling over any (source, text) frame — the registered query
    and the randomized property test (pure-Python reference comparison,
    tests/test_text_analysis.py) share this body."""
    from pyspark.sql import Window

    src = (
        docs.select("source", F.size(T.tokens(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("bigint").alias("c"))
    )
    cap = src.select(
        "source",
        "c",
        F.when(F.col("source").isin(_WF_CURATED), 2 * F.col("c"))
        .otherwise(F.expr("c DIV 2"))
        .cast("bigint")
        .alias("cap"),
    )
    # everything below runs on the source DIMENSION (bounded cardinality);
    # ranked is checkpointed so the FOUR consumers of tot/maxes/the final
    # projection all read the one materialized source table instead of
    # re-aggregating the corpus per consumer
    w = Window.orderBy("cap", "source")  # bounded: one row per source
    ranked = cap.select(
        "source",
        "c",
        "cap",
        F.row_number().over(w).cast("bigint").alias("j"),
        F.sum("cap").over(w).cast("bigint").alias("presum"),
    ).localCheckpoint(eager=False)
    tot = ranked.agg(
        F.expr("CAST(SUM(c) * 3 DIV 5 AS BIGINT)").alias("budget"),
        F.count(F.lit(1)).cast("bigint").alias("s"),
    )
    rt = ranked.crossJoin(F.broadcast(tot))
    cand_mid = rt.where(
        (F.col("j") < F.col("s")) & (F.col("presum") <= F.col("budget"))
    ).select(
        "j",
        F.expr("CAST((budget - presum) DIV (s - j) AS BIGINT)").alias("lam"),
    )
    cand_zero = tot.select(
        F.lit(0).cast("bigint").alias("j"),
        F.expr("CAST(budget DIV s AS BIGINT)").alias("lam"),
    )
    maxes = ranked.agg(
        F.max("cap").alias("maxcap"), F.max("presum").alias("maxpre")
    )
    cand_all = (
        tot.crossJoin(F.broadcast(maxes))
        .where(F.col("budget") >= F.col("maxpre"))
        .select(F.col("s").alias("j"), F.col("maxcap").alias("lam"))
    )
    cand = cand_mid.unionByName(cand_zero).unionByName(cand_all)
    cap_at = ranked.select(F.col("j").alias("cj"), F.col("cap").alias("cap_j"))
    cap_next = ranked.select(
        (F.col("j") - 1).alias("cj"), F.col("cap").alias("cap_j1")
    )
    valid = (
        cand.crossJoin(F.broadcast(tot))
        .join(F.broadcast(cap_at), F.col("j") == F.col("cj"), "left")
        .drop("cj")
        .join(F.broadcast(cap_next), F.col("j") == F.col("cj"), "left")
        .where(
            ((F.col("j") == 0) | (F.col("cap_j") <= F.col("lam")))
            & ((F.col("j") == F.col("s")) | (F.col("cap_j1") > F.col("lam")))
        )
    )
    pick = valid.orderBy(F.col("j").desc()).limit(1).select("lam")
    alloc = F.least(F.col("cap"), F.col("lam"))
    return ranked.crossJoin(F.broadcast(pick)).select(
        "source",
        F.col("c").alias("n_tokens"),
        F.col("cap").alias("cap_tokens"),
        alloc.cast("bigint").alias("alloc_tokens"),
        (F.col("cap") <= F.col("lam")).cast("bigint").alias("saturated"),
        F.when(F.col("c") == 0, F.lit(0))
        .otherwise(F.expr("CAST(LEAST(cap, lam) * 1000 DIV c AS BIGINT)"))
        .cast("bigint")
        .alias("epochs_permille"),
    )


# ---------------------------------------------------------------------------
# Training-release capstone (round 11): the release-side twin of the
# crawl-curation capstone (llm_crawl_curation_e2e). One declarative plan
# takes raw documents to shard-packed training units:
#
#   span-decontaminate  ->  exact-dedup (spans)  ->  reproducible split
#   ->  shard packing per (split, source)
#
# i.e. "remove everything the eval suite saw, collapse identical
# leftovers, carve held-out sets, pack what remains into fixed-size
# shards" — the last mile every pretraining corpus walks before a
# training run. Composition notes:
#   - spans ride straight out of span_decontaminate_frame with `source`
#     as a checkpoint passthrough column — no second corpus join;
#   - dedup is a min-struct partial aggregate on md5(span_text) (the A6
#     keep-first shape: combinable, window-free);
#   - the split is the llm_reproducible_split hash-mod on span content
#     (same salt) — engine- and cluster-size-independent;
#   - packing reuses the llm_shard_packing running-sum window, here
#     partitioned by (split, source) so parallelism survives the split.
#     A crawl-DOMINANT source (60-80%% of rows is routine) packs in one
#     task under this exact variant; at that skew, swap in the
#     llm_shard_packing_bucketed sub-bucketing (same trade: per-bucket
#     tail shards run slightly underfilled).
# Every stage is integer/string-exact; the whole chain is one plan, so
# Catalyst prunes columns end-to-end and nothing materializes between
# stages except the shared tokenized checkpoint.
# ---------------------------------------------------------------------------

_RELEASE_ORACLE = rf"""
WITH {_SPAN_CTES},
spans AS (
  SELECT k.doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY k.s) - 1
              AS BIGINT) AS span_idx,
         CAST(k.e - k.s + 1 AS BIGINT) AS span_tokens,
         array_to_string(list_slice(t.toks, k.s + 1, k.e + 1), ' ')
           AS span_text
  FROM kept k JOIN tokd t USING (doc_id)
),
keyed AS (
  SELECT doc_id, span_idx, span_tokens, span_text,
         md5(span_text) AS exact_key
  FROM spans
),
dd AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY exact_key
                            ORDER BY doc_id, span_idx) AS rn,
         COUNT(*) OVER (PARTITION BY exact_key) AS n_copies
  FROM keyed
),
surv AS (SELECT doc_id, span_idx, span_tokens, span_text, n_copies
         FROM dd WHERE rn = 1),
spl AS (
  SELECT s.doc_id, s.span_idx, s.span_tokens, s.n_copies, d.source,
         CASE WHEN CAST(('0x' || substr(md5(s.span_text || '{_SPLIT_SALT}'), 1, 15))
                   AS UBIGINT) % 100 < 10 THEN 'test'
              WHEN CAST(('0x' || substr(md5(s.span_text || '{_SPLIT_SALT}'), 1, 15))
                   AS UBIGINT) % 100 < 20 THEN 'valid'
              ELSE 'train' END AS split,
         md5(CAST(s.doc_id AS VARCHAR) || ':' || CAST(s.span_idx AS VARCHAR))
           AS h
  FROM surv s JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
),
runs AS (
  SELECT doc_id, span_idx, source, split, span_tokens, n_copies,
         SUM(span_tokens) OVER (
           PARTITION BY split, source ORDER BY h, doc_id, span_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM spl
)
SELECT doc_id, span_idx, source, split,
       CAST(span_tokens AS BIGINT) AS n_tokens,
       CAST(n_copies AS BIGINT) AS n_copies,
       CAST((cum - span_tokens) // {_SHARD_CAPACITY} AS BIGINT) AS shard_id
FROM runs
"""


@register(
    "llm_training_release_e2e",
    oracle=_RELEASE_ORACLE,
    doc="training-release capstone: span-decontaminate -> exact-dedup ->"
        " hash-mod split -> per-(split, source) shard packing, one"
        " declarative plan end to end",
)
def llm_training_release_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return training_release_frame(docs)


def training_release_frame(
    docs: DataFrame, bucket_spans_over: int | None = None
) -> DataFrame:
    """The release chain over any (doc_id, source, text) frame — shared
    by the exact capstone, the bucketed capstone, and the skew fixtures
    in tests. ``bucket_spans_over=None`` packs per (split, source) —
    exact but single-task under a dominant source; an integer N packs
    per (split, source, bucket) where groups larger than N spans
    pre-split into ceil(rows/N) md5-derived sub-buckets, adding a
    ``bucket`` output column (shard ids become local to the bucket)."""
    from pyspark.sql import Window

    spans = span_decontaminate_frame(docs, extra_cols=("source",))
    keyed = spans.select(
        "doc_id",
        "span_idx",
        "span_tokens",
        "span_text",
        "source",
        F.md5("span_text").alias("exact_key"),
    )
    # keep-first over identical span text: min-struct partial aggregate
    # (struct ordering = lexicographic on (doc_id, span_idx)), window-free
    surv = (
        keyed.groupBy("exact_key")
        .agg(
            F.min(
                F.struct(
                    "doc_id", "span_idx", "span_tokens", "span_text", "source"
                )
            ).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .select("s.*", "n_copies")
    )
    from sig_etl_spark.functions.hashing import portable_hash60

    bucket = (
        portable_hash60(F.concat(F.col("span_text"), F.lit(_SPLIT_SALT))) % 100
    )
    spl = surv.select(
        "doc_id",
        "span_idx",
        "span_tokens",
        "n_copies",
        "source",
        F.when(bucket < 10, "test")
        .when(bucket < 20, "valid")
        .otherwise("train")
        .alias("split"),
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("span_idx").cast("string"),
            )
        ).alias("h"),
    )
    part_cols = ["split", "source"]
    extra_out: list[str] = []
    if bucket_spans_over is not None:
        # group sizes must be known BEFORE the packing window, so the
        # bucketed variant is two-pass over the surviving spans; the
        # lazy checkpoint keeps the count pass from replaying the whole
        # decon+dedup chain (spl is span-sized, far below corpus-sized).
        spl = spl.localCheckpoint(eager=False)
        counts = spl.groupBy("split", "source").agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        # integer (n + N - 1) div N, exact on both engines at any size
        n_buckets = F.expr(
            f"(n_rows + {bucket_spans_over} - 1) div {bucket_spans_over}"
        )
        # reuse the pack-order hash: first 15 hex chars of h are the
        # same 60-bit non-negative value portable_hash60 derives, so
        # bucket assignment costs zero extra md5 work
        h60 = F.conv(F.substring("h", 1, 15), 16, 10).cast("bigint")
        spl = spl.join(F.broadcast(counts), ["split", "source"]).withColumn(
            "bucket",
            F.when(F.col("n_rows") > bucket_spans_over, h60 % n_buckets)
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        part_cols = ["split", "source", "bucket"]
        extra_out = ["bucket"]
    w = (
        Window.partitionBy(*part_cols)
        .orderBy("h", "doc_id", "span_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = spl.withColumn("cum", F.sum("span_tokens").over(w))
    return runs.select(
        "doc_id",
        "span_idx",
        "source",
        "split",
        *extra_out,
        F.col("span_tokens").alias("n_tokens"),
        "n_copies",
        F.expr(f"(cum - span_tokens) div {_SHARD_CAPACITY}").alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Bucketed training-release capstone (round 12): the skew-safe twin the
# exact capstone's docstring specifies. Under a crawl-dominant source
# (60-80% of rows is routine in real pretraining mixes) the exact
# variant's (split, source) packing window sorts most of the corpus in
# ONE task; here any (split, source) group larger than
# _RELEASE_BUCKET_OVER spans pre-splits into ceil(rows/N) md5 sub-
# buckets and packs per (split, source, bucket) — parallelism follows
# data volume, not group cardinality (the llm_shard_packing_bucketed
# trade applied inside the capstone: each bucket's last shard may run
# underfilled, ≤ one shard of slack per bucket). At 100 TB this is the
# ONLY registered release path that survives: the exact twin stays as
# the zero-slack contrast arm for balanced mixes.
# ---------------------------------------------------------------------------

_RELEASE_BUCKET_OVER = 10  # split any (split, source) over this many spans

# spl is referenced twice (group counts + bucket join); MATERIALIZED
# stops DuckDB inlining the whole span chain into both consumers (the
# llm_bpe_fertility32 2^R re-expansion lesson).
_RELEASE_BUCKETED_ORACLE = rf"""
WITH {_SPAN_CTES},
spans AS (
  SELECT k.doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY k.s) - 1
              AS BIGINT) AS span_idx,
         CAST(k.e - k.s + 1 AS BIGINT) AS span_tokens,
         array_to_string(list_slice(t.toks, k.s + 1, k.e + 1), ' ')
           AS span_text
  FROM kept k JOIN tokd t USING (doc_id)
),
keyed AS (
  SELECT doc_id, span_idx, span_tokens, span_text,
         md5(span_text) AS exact_key
  FROM spans
),
dd AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY exact_key
                            ORDER BY doc_id, span_idx) AS rn,
         COUNT(*) OVER (PARTITION BY exact_key) AS n_copies
  FROM keyed
),
surv AS (SELECT doc_id, span_idx, span_tokens, span_text, n_copies
         FROM dd WHERE rn = 1),
spl AS MATERIALIZED (
  SELECT s.doc_id, s.span_idx, s.span_tokens, s.n_copies, d.source,
         CASE WHEN CAST(('0x' || substr(md5(s.span_text || '{_SPLIT_SALT}'), 1, 15))
                   AS UBIGINT) % 100 < 10 THEN 'test'
              WHEN CAST(('0x' || substr(md5(s.span_text || '{_SPLIT_SALT}'), 1, 15))
                   AS UBIGINT) % 100 < 20 THEN 'valid'
              ELSE 'train' END AS split,
         md5(CAST(s.doc_id AS VARCHAR) || ':' || CAST(s.span_idx AS VARCHAR))
           AS h
  FROM surv s JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
),
cnts AS (
  SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM spl GROUP BY split, source
),
bkt AS (
  SELECT s.*,
         CASE WHEN c.n_rows > {_RELEASE_BUCKET_OVER}
              THEN CAST(CAST(('0x' || substr(s.h, 1, 15)) AS UBIGINT)
                        % CAST((c.n_rows + {_RELEASE_BUCKET_OVER} - 1)
                               // {_RELEASE_BUCKET_OVER} AS UBIGINT)
                        AS BIGINT)
              ELSE CAST(0 AS BIGINT)
         END AS bucket
  FROM spl s JOIN cnts c USING (split, source)
),
runs AS (
  SELECT doc_id, span_idx, source, split, bucket, span_tokens, n_copies,
         SUM(span_tokens) OVER (
           PARTITION BY split, source, bucket ORDER BY h, doc_id, span_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM bkt
)
SELECT doc_id, span_idx, source, split, bucket,
       CAST(span_tokens AS BIGINT) AS n_tokens,
       CAST(n_copies AS BIGINT) AS n_copies,
       CAST((cum - span_tokens) // {_SHARD_CAPACITY} AS BIGINT) AS shard_id
FROM runs
"""


@register(
    "llm_training_release_bucketed",
    oracle=_RELEASE_BUCKETED_ORACLE,
    doc="skew-safe training-release capstone: same decon -> dedup ->"
        f" split chain, packing per (split, source, bucket) with groups"
        f" over {_RELEASE_BUCKET_OVER} spans pre-split into md5"
        " sub-buckets — no single-task packing stage under a dominant"
        " source",
)
def llm_training_release_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return training_release_frame(docs, bucket_spans_over=_RELEASE_BUCKET_OVER)
