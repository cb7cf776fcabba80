"""Dedup queries over documents/embeddings.

All five dedup operators are oracle-checked. MinHash+LSH and SimHash use
md5-derived portable hashes (functions/hashing.py) so DuckDB computes
bit-identical signatures; their permutation coefficients / bit powers are
inlined into the oracle SQL as VALUES tables. Property tests
(tests/test_dedup.py) additionally lock the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sig_etl_spark.llm import dedup as D
from sig_etl_spark.llm.dedup import _minhash_coeffs
from sig_etl_spark.queries import register
from sig_etl_spark.tables import load_table

# ---------------------------------------------------------------------------
# Exact dedup over a corpus with planted duplicates (documents unioned with
# itself under shifted ids — every text appears exactly twice).
# ---------------------------------------------------------------------------

_EXACT_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
keyed AS (
  SELECT doc_id,
         md5(array_to_string(
           list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''), ' ')) AS exact_key
  FROM corpus
)
SELECT exact_key, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM keyed GROUP BY exact_key
"""


@register(
    "llm_exact_dedup",
    oracle=_EXACT_ORACLE,
    doc="exact dedup: md5(normalized text) groupBy, lowest-id survivor",
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return D.exact_dedup(corpus, "doc_id", "text")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via inverted-index join (no cross product).
# ---------------------------------------------------------------------------

_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"

# CTE chain shared with llm_dedup_clusters and llm_corpus_curation
# (which build connected components on top of the same pair set, over a
# parameterized source relation).
def _shingle_ctes(src: str = "documents") -> str:
    """base + distinct 3-gram shingles (sh0) — the tokenize/shingle step
    shared by the Jaccard, MinHash and clustering oracles; one point of
    change for the shingling arithmetic."""
    return rf"""base AS (
  SELECT doc_id, {_TOKS} AS toks FROM {src}
),
sh0 AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) - 2 >= 1
                THEN list_transform(generate_series(1, len(toks) - 2),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')]
           END)) AS shingle
  FROM base
)"""


def _jaccard_ctes(src: str = "documents") -> str:
    return rf"""{_shingle_ctes(src)},
freq AS (SELECT shingle, COUNT(*) AS df_ FROM sh0 GROUP BY shingle),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN freq USING (shingle) WHERE df_ <= 100),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS co
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b, co, sa.n AS n_a, sb.n AS n_b,
         co / (sa.n + sb.n - co) AS jaccard
  FROM co JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE co / (sa.n + sb.n - co) >= 0.5
)"""


_JACCARD_ORACLE = (
    f"WITH {_jaccard_ctes()} SELECT id_a, id_b, co, n_a, n_b, jaccard FROM jpairs"
)


@register(
    "llm_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    doc="CONTRAST ROW — production twin: llm_minhash_lsh. Exact 3-gram"
        " Jaccard near-dup pairs (posting-list join, hot-shingle pruning):"
        " the exact baseline whose posting cap saturates at the sf1 knee"
        " (82–110s); the banded MinHash twin is the 100 TB path",
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=100
    )


# ---------------------------------------------------------------------------
# MinHash+LSH — full oracle: DuckDB recomputes shingles, 60-bit md5 hashes,
# all 64 permutations, band buckets (slice equality stands in for Spark's
# murmur3 bucket hash — equal slices => equal buckets always, so every
# oracle candidate is also a Spark candidate; the reverse can fail when
# two DIFFERENT slices collide under murmur3, adding a SPARK-side
# candidate the oracle lacks. Such a pair only breaks the gate if it also
# passes est_jaccard >= threshold, and the collision itself is ~2^-32 —
# the gate knowingly accepts those odds), and the signature-agreement
# estimate.
# ---------------------------------------------------------------------------

_PERM_VALUES = ",".join(
    f"({i},{a}::BIGINT,{b}::BIGINT)"
    for i, (a, b) in enumerate(_minhash_coeffs(64, seed=42))
)

# CTE stack shared by the LSH pair queries (llm_minhash_lsh and the
# round-7 split-leakage audit): shingles -> 60-bit md5 hashes -> 64
# permutations -> 16 band buckets -> candidates -> signature estimate.
_MINHASH_PAIR_CTES = rf"""{_shingle_ctes()},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
est AS (
  SELECT id_a, id_b,
         len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
           AS est_jaccard
  FROM cand
)"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_PAIR_CTES}
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
"""


@register(
    "llm_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    doc="MinHash(64)+LSH(16 bands) near-dup candidates, signature-verified",
)
def llm_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    )


# ---------------------------------------------------------------------------
# SimHash — full oracle: 64-bit md5-derived token hash (two 32-bit halves,
# two's-complement fold to signed BIGINT), per-bit majority vote, 16-bit
# chunk blocking, Hamming verify. Bit powers are a VALUES table because
# POWER() is double-typed and HUGEINT << isn't portable-safe.
# ---------------------------------------------------------------------------

_POW_VALUES = ",".join(f"({j},{1 << j}::HUGEINT)" for j in range(64))

_SIMHASH_ORACLE = rf"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tk AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM base),
hv AS (
  SELECT doc_id,
         CAST(
           CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) AS HUGEINT)
             * 4294967296
           + CAST(CAST(('0x' || substr(md5(tok), 9, 8)) AS UBIGINT) AS HUGEINT)
           - CASE WHEN CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT)
                       >= 2147483648
                  THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
         AS BIGINT) AS h
  FROM tk
),
bitcnt AS (
  SELECT doc_id, j, SUM((h >> j) & 1) AS n_set, COUNT(*) AS n
  FROM hv CROSS JOIN (SELECT unnest(generate_series(0,63)) AS j) t
  GROUP BY 1, 2
),
powers(j, p) AS (VALUES {_POW_VALUES}),
sims AS (
  SELECT doc_id,
         CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
                       THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
              AS BIGINT) AS simhash
  FROM (
    SELECT doc_id, SUM(CASE WHEN n_set * 2 > n THEN p ELSE 0::HUGEINT END) AS u
    FROM bitcnt JOIN powers USING (j) GROUP BY doc_id
  )
),
chunks AS (
  SELECT doc_id, simhash, c, ((simhash >> (c*16)) & 65535) AS v
  FROM sims CROSS JOIN (SELECT unnest([0,1,2,3]) AS c) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@register(
    "llm_simhash_pairs",
    oracle=_SIMHASH_ORACLE,
    doc="CONTRAST ROW — production twin: llm_simhash_pairs_capped."
        " SimHash near-dup pairs (16-bit chunk blocking + Hamming<=3"
        " verify), deliberately UNCAPPED — hot buckets go quadratic"
        " (232s at sf1); the capped twin bounds per-bucket work",
)
def llm_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


# Hot-bucket-capped twin: the sf1 scale run measured the uncapped bucket
# self-join at 81x wall-clock on a 10x corpus (clustered simhashes pile
# into a few (chunk, value) buckets and the join goes quadratic). The
# cap bounds per-bucket work at max_bucket^2 — candidates grow linearly
# again. The oracle mirrors the cut, so the capped semantics are
# hash-exact too.

_SIMHASH_MAX_BUCKET = 200

_SIMHASH_CAPPED_ORACLE = _SIMHASH_ORACLE.replace(
    """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
)""",
    f"""bsz AS (
  SELECT c, v, COUNT(*) AS bn FROM chunks GROUP BY c, v
),
fch AS (
  SELECT chunks.* FROM chunks JOIN bsz USING (c, v)
  WHERE bn <= {_SIMHASH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM fch a JOIN fch b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
)""",
)


@register(
    "llm_simhash_pairs_capped",
    oracle=_SIMHASH_CAPPED_ORACLE,
    doc=f"SimHash near-dup pairs with the hot-bucket cut (max_bucket="
        f"{_SIMHASH_MAX_BUCKET}): bounded per-bucket join work, linear"
        " candidate growth — the 100 TB-safe variant; cut mirrored in"
        " the oracle",
)
def llm_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3,
        max_bucket=_SIMHASH_MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup, label-blocked, exact decimal dot products so
# the cosine doubles are bit-identical across engines.
# ---------------------------------------------------------------------------

# Dot products: strict left-to-right double fold, the bit-identical twin of
# Spark's _double_dot (per-row folds have fixed order — no DECIMAL needed).
_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
)

_COSINE_ORACLE = rf"""
WITH e AS (
  SELECT vec_id, label, embedding,
         {_DOT.format(a="embedding", b="embedding")} AS norm2
  FROM embeddings
),
scored AS (
  SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a="a.embedding", b="b.embedding")}
           / sqrt(a.norm2 * b.norm2) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT block, id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
"""


@register(
    "llm_embedding_near_dup",
    oracle=_COSINE_ORACLE,
    doc="CONTRAST ROW — production twin: llm_embedding_near_dup_ivf."
        " EXACT cosine>=0.3 near-dup pairs, all-pairs WITHIN label blocks"
        " (double-fold dots): the within-block self-join is quadratic in"
        " block size — measured 43x cost on 10x data (see"
        " llm_similarity.py) — so at sf1+ this rides the exclusion"
        " ledger; the adaptive-cell IVF twin is the 100 TB path",
)
def llm_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.3
    )


# ---------------------------------------------------------------------------
# Near-dup cluster assignment: connected components over the Jaccard pair
# graph -> one canonical doc per cluster (the dedup keep-list). Oracle:
# DuckDB recursive CTE propagating min reachable id over the same pairs.
# ---------------------------------------------------------------------------

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_jaccard_ctes()},
sym AS (
  SELECT id_a AS u, id_b AS v FROM jpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM jpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id,
       (c.doc_id = c.cluster_id) AS is_canonical,
       s.cluster_size
FROM comp c JOIN csize s USING (cluster_id)
"""


@register(
    "llm_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="CONTRAST ROW — production twin: llm_dedup_clusters_minhash."
        " Connected components over EXACT Jaccard near-dup pairs (cluster"
        " id, canonical flag, cluster size): exact-pair generation is the"
        " sf1 bottleneck; the MinHash-banded twin is the 100 TB path",
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, max_doc_freq=100
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=docs.select(F.col("doc_id").alias("node"))
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
            "cluster_size",
        )
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation: quality gate -> near-dup pairs among the
# survivors -> connected components -> per-document keep decision. The
# composite a real training-data pipeline runs, as ONE declarative plan —
# Catalyst sees filter, posting-list join, groupBys and the CC loop's
# joins together, so the quality filter prunes the pair computation too.
# ---------------------------------------------------------------------------

_Q_THRESHOLD = 0.40

# Same formula as text_analysis.quality_score(scale=None) / llm_text_stats.
_Q_EXPR = """0.4 * least(length(text) / 500.0, 1.0)
  + 0.3 * (CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_distinct(toks)) * 1.0 / len(toks) END)
  + 0.3 * (CASE WHEN len(toks) = 0 THEN 0.0
           ELSE len(list_filter(toks, t -> list_contains(
                ['the','a','an','of','and','to','in','is','it','for'], t))) * 1.0 / len(toks) END)"""

_CURATION_ORACLE = f"""
WITH RECURSIVE q0 AS (
  SELECT doc_id, text, {_Q_EXPR} AS quality
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
),
q AS (SELECT doc_id, text, quality FROM q0 WHERE quality >= {_Q_THRESHOLD}),
{_jaccard_ctes("q")},
sym AS (
  SELECT id_a AS u, id_b AS v FROM jpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM jpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM q
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT q.doc_id, q.quality, c.cluster_id,
       (q.doc_id = c.cluster_id) AS keep
FROM q JOIN comp c USING (doc_id)
"""


@register(
    "llm_corpus_curation",
    oracle=_CURATION_ORACLE,
    doc="CONTRAST ROW — production twin: llm_corpus_curation_minhash."
        " Curation pipeline (quality gate, near-dup CC over survivors,"
        " canonical keep flag) with EXACT pair generation — the measured"
        " baseline; the MinHash twin replaces the quadratic stage",
)
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.llm import text_analysis as T

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "text", T.quality_score(F.col("text"), scale=None).alias("quality")
    ).filter(F.col("quality") >= _Q_THRESHOLD)
    # Materialize the gated corpus once: it feeds three branches (pair
    # generation, the node universe, the final join) and at scale is a
    # real pipeline stage, not a recomputable view.
    q = q.localCheckpoint(eager=False)
    pairs = D.ngram_jaccard_pairs(
        q.select("doc_id", "text"), "doc_id", "text",
        k=3, threshold=0.5, max_doc_freq=100,
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=q.select(F.col("doc_id").alias("node"))
    )
    return (
        q.join(comp, q["doc_id"] == comp["node"])
        .select(
            "doc_id",
            "quality",
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Sketch-bounded corpus curation (VERDICT r05 task 4): the END-TO-END
# curation query re-based onto the MinHash+LSH pair graph — the shape a
# real pipeline ships. llm_corpus_curation (above, kept as the exactness
# baseline) rides the exact n-gram-Jaccard pair generation whose
# posting-list join saturates its df-cap at scale (sf1: 82s, 23x on 10x
# data); the pair layer here is the banded-LSH equi-join that measured
# 7s on the same corpus, so quality gate -> pairs -> CC -> keep is
# sketch-bounded END TO END, not just in the standalone clustering twin.
# The oracle derives the identical LSH pair set over the identical gated
# corpus (recursive-CTE min-label propagation, same as
# llm_dedup_clusters_minhash) — the approximation is IN the pair set,
# identically on both sides, so the hash is exact.
# ---------------------------------------------------------------------------

_CURATION_MINHASH_ORACLE = rf"""
WITH RECURSIVE q0 AS (
  SELECT doc_id, text, {_Q_EXPR} AS quality
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
),
q AS (SELECT doc_id, text, quality FROM q0 WHERE quality >= {_Q_THRESHOLD}),
{_shingle_ctes("q")},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
mpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
             AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM mpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM mpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM q
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT q.doc_id, q.quality, c.cluster_id,
       (q.doc_id = c.cluster_id) AS keep
FROM q JOIN comp c USING (doc_id)
"""


@register(
    "llm_corpus_curation_minhash",
    oracle=_CURATION_MINHASH_ORACLE,
    doc="curation pipeline on the sketch-bounded pair layer: quality"
        " gate, MinHash+LSH pairs among survivors, CC keep-list — the"
        " 100 TB twin of llm_corpus_curation (exact pair gen saturates"
        " its df-cap at sf1: 82s; the banded LSH equi-join is ~7s)",
)
def llm_corpus_curation_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.llm import text_analysis as T

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "text", T.quality_score(F.col("text"), scale=None).alias("quality")
    ).filter(F.col("quality") >= _Q_THRESHOLD)
    # Materialized once: feeds pair generation, the node universe, and
    # the final join (same staging discipline as the exact twin).
    q = q.localCheckpoint(eager=False)
    pairs = D.minhash_lsh_pairs(
        q.select("doc_id", "text"), "doc_id", "text",
        k=3, num_hashes=64, bands=16, threshold=0.5,
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=q.select(F.col("doc_id").alias("node"))
    )
    return (
        q.join(comp, q["doc_id"] == comp["node"])
        .select(
            "doc_id",
            "quality",
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicated spans (ExactSubstr, Lee et al. 2022): 8-token
# windows hashed with the portable md5-derived 60-bit hash; a window
# whose hash appears in >= 2 distinct docs is duplicated; consecutive
# duplicated windows form spans. The oracle rebuilds windows, hashes,
# the distinct-doc frequency, and the pos - row_number island trick.
# ---------------------------------------------------------------------------

_SPAN_K = 8


def _dup_spans_oracle(k: int = _SPAN_K) -> str:
    km1 = k - 1
    return f"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w0 AS (
  SELECT doc_id,
         unnest(ws) AS sh,
         unnest(generate_series(1, len(ws))) AS pos
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) - {km1} >= 1
                THEN list_transform(generate_series(1, len(toks) - {km1}),
                                    i -> array_to_string(toks[i:i+{km1}], ' '))
                ELSE [array_to_string(toks, ' ')]
           END AS ws
    FROM base)
),
w AS (
  SELECT doc_id, pos,
         CAST(CAST(('0x' || substr(md5(sh), 1, 15)) AS UBIGINT) AS BIGINT)
           AS whash
  FROM w0
),
dup AS (
  SELECT whash FROM w GROUP BY whash HAVING COUNT(DISTINCT doc_id) >= 2
),
nwin AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id),
flagged AS (
  SELECT w.doc_id, w.pos,
         w.pos - row_number() OVER (PARTITION BY w.doc_id ORDER BY w.pos)
           AS grp
  FROM w JOIN dup USING (whash)
),
runs AS (
  SELECT doc_id, grp, COUNT(*) AS run_len
  FROM flagged GROUP BY doc_id, grp
),
per_doc AS (
  SELECT doc_id, SUM(run_len) AS n_dup, MAX(run_len) AS max_run
  FROM runs GROUP BY doc_id
)
SELECT n.doc_id,
       n.n_windows,
       CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
       ROUND(CAST(COALESCE(p.n_dup, 0) AS DOUBLE) / n.n_windows, 9)
         AS dup_fraction,
       CAST(COALESCE(p.max_run, 0) AS BIGINT) AS max_dup_run
FROM nwin n LEFT JOIN per_doc p USING (doc_id)
"""


@register(
    "llm_dup_spans",
    oracle=_dup_spans_oracle(),
    doc=f"ExactSubstr duplicated spans: {_SPAN_K}-token window hashes"
        " shared across docs, per-doc dup fraction and longest"
        " consecutive duplicated run (island detection) — the"
        " span-level cut list for verbatim-dup removal",
)
def llm_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dup_spans(docs, "doc_id", "text", k=_SPAN_K)


# ---------------------------------------------------------------------------
# MinHash calibration: for every LSH candidate pair, the signature-
# agreement ESTIMATE next to the TRUE shingle-set Jaccard and the
# absolute error — the measurement that tells you whether 64 hashes /
# 16 bands is enough before trusting the sketch at corpus scale. Scale
# shape: the exact side is computed ONLY for the candidate pairs the
# LSH join surfaced (posting-list join semi-bounded by candidates), so
# the verify cost scales with candidate count, never corpus^2. All
# numerators/denominators are integers; both ratios and the error are
# plain IEEE ops on identical inputs, so the hash is exact.
# ---------------------------------------------------------------------------

_CALIBRATION_ORACLE = rf"""
WITH {_shingle_ctes()},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT * FROM (
    SELECT id_a, id_b,
           len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
             AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.5
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh0 GROUP BY doc_id),
co AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS co
  FROM pairs p
  JOIN sh0 a ON a.doc_id = p.id_a
  JOIN sh0 b ON b.doc_id = p.id_b AND a.shingle = b.shingle
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.est_jaccard,
       COALESCE(co.co, 0) / (sa.n + sb.n - COALESCE(co.co, 0)) AS exact_jaccard,
       ABS(p.est_jaccard
           - COALESCE(co.co, 0) / (sa.n + sb.n - COALESCE(co.co, 0))) AS abs_err
FROM pairs p
LEFT JOIN co ON co.id_a = p.id_a AND co.id_b = p.id_b
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
"""


@register(
    "llm_minhash_calibration",
    oracle=_CALIBRATION_ORACLE,
    doc="MinHash estimate vs true Jaccard + abs error per LSH candidate"
        " pair: exact verify bounded by candidate count, never corpus^2",
)
def llm_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    )
    sh = D.shingle_postings(docs, "doc_id", "text", k=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    co = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    coal = F.coalesce(F.col("co"), F.lit(0))
    exact = coal / (F.col("n_a") + F.col("n_b") - coal)
    return (
        pairs.join(co, ["id_a", "id_b"], "left")
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Clustering over the SKETCH pair graph — the 100 TB curation path. The
# exact-Jaccard cluster query (llm_dedup_clusters) measured 110s at sf1
# (24x on 10x data: its posting-list pair generation is the quadratic
# knee); the MinHash+LSH pair generation measured 7s on the same corpus.
# This operator runs the SAME O(log n) connected-components loop over
# the LSH candidate pairs (est_jaccard >= 0.5), so the whole
# dedup-and-keep decision is sketch-bounded end to end. The oracle is
# the recursive-CTE min-label propagation over the identically-derived
# LSH pair set — hash-exact, no approximation seam between engines (the
# approximation is IN the pair set, identically on both sides).
# ---------------------------------------------------------------------------

_CLUSTERS_MINHASH_ORACLE = rf"""
WITH RECURSIVE {_shingle_ctes()},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
mpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
             AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM mpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM mpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id,
       (c.doc_id = c.cluster_id) AS is_canonical,
       s.cluster_size
FROM comp c JOIN csize s USING (cluster_id)
"""


@register(
    "llm_dedup_clusters_minhash",
    oracle=_CLUSTERS_MINHASH_ORACLE,
    doc="connected components over the MinHash+LSH pair graph — the"
        " sketch-bounded 100 TB twin of llm_dedup_clusters (sf1: exact"
        " pair gen 100s vs LSH 7s); same O(log n) CC loop",
)
def llm_dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=docs.select(F.col("doc_id").alias("node"))
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
        "cluster_size",
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection (round 13, VERDICT r12 task 5): the
# CC keep-lists above keep the MIN-id cluster member — a stable but
# arbitrary choice. Real curation keeps the HIGHEST-QUALITY member of
# each near-dup family, the way the reference's matcher keeps the
# best-scoring candidate above threshold rather than the first
# (votervoice/match.py:44,81), applied to dedup. Same sketch-bounded
# MinHash+LSH cluster layer; the canonical flag flips to an arg-max over
# (quality, then min doc_id tiebreak). Oracle: row_number over the same
# recursive-CTE clusters ordered by quality DESC, doc_id ASC — the
# quality doubles are the curation queries' formula, already proven
# bit-identical across engines.
# ---------------------------------------------------------------------------

_CLUSTERS_BEST_ORACLE = rf"""
WITH RECURSIVE {_MINHASH_PAIR_CTES},
mpairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
sym AS (
  SELECT id_a AS u, id_b AS v FROM mpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM mpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
qual AS (
  SELECT doc_id, {_Q_EXPR} AS quality
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
),
best AS (
  SELECT cluster_id, doc_id AS canonical_doc_id FROM (
    SELECT c.cluster_id, c.doc_id,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY q.quality DESC, c.doc_id) AS rn
    FROM comp c JOIN qual q USING (doc_id)
  ) WHERE rn = 1
)
SELECT c.doc_id, c.cluster_id, q.quality, b.canonical_doc_id,
       (c.doc_id = b.canonical_doc_id) AS is_canonical
FROM comp c JOIN qual q USING (doc_id) JOIN best b USING (cluster_id)
"""


@register(
    "llm_dedup_clusters_best",
    oracle=_CLUSTERS_BEST_ORACLE,
    doc="quality-aware dedup keep-list: CC over the MinHash+LSH pair"
        " graph with the canonical member chosen by arg-max quality"
        " (min doc_id on ties) instead of min-id — struct-max partial"
        " agg, window-free on the Spark side",
)
def llm_dedup_clusters_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.llm import text_analysis as T

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=docs.select(F.col("doc_id").alias("node"))
    )
    qual = docs.select(
        "doc_id", T.quality_score(F.col("text"), scale=None).alias("quality")
    )
    return D.canonical_by_quality(comp, qual).select(
        "doc_id", "cluster_id", "quality", "canonical_doc_id", "is_canonical"
    )


# ---------------------------------------------------------------------------
# Dedup savings report: the corpus-level rollup of the sketch-bounded
# keep-list — documents, clusters, duplicates dropped, and characters
# saved, per source. The decision layer (clusters) is sketch-bounded
# (see llm_dedup_clusters_minhash); this rollup joins it back to the
# documents dim on doc_id (co-partitioned single-key join) and reduces
# to |sources| rows with integer sums — the number a curation run
# reports to justify itself. Non-canonical docs count as "dropped".
# ---------------------------------------------------------------------------

_SAVINGS_ORACLE = rf"""
WITH RECURSIVE {_shingle_ctes()},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
mpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
             AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM mpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM mpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT d.source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT c.cluster_id) AS n_clusters,
       CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS chars_saved
FROM comp c JOIN documents d ON d.doc_id = c.doc_id
GROUP BY d.source
"""


@register(
    "llm_dedup_savings",
    oracle=_SAVINGS_ORACLE,
    doc="per-source dedup savings report over the sketch-bounded"
        " keep-list: docs, clusters, dropped count, chars saved",
)
def llm_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=docs.select(F.col("doc_id").alias("node"))
    ).withColumnRenamed("node", "doc_id")
    j = comp.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
    dropped = F.col("doc_id") != F.col("cluster_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum(dropped.cast("int")).cast("bigint").alias("n_dropped"),
        F.sum(F.when(dropped, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_saved"),
    )


# ---------------------------------------------------------------------------
# Cluster-aware train/valid/test split — the leakage-proof version of
# llm_reproducible_split. A per-document hash split puts near-duplicate
# documents on BOTH sides of the train/test line (the classic eval-
# contamination bug: the model "generalizes" to a paraphrase of its own
# training data). Splitting on the hash of the near-dup CLUSTER id
# instead guarantees every cluster lands whole in one split. The
# cluster layer is the sketch-bounded CC (llm_dedup_clusters_minhash),
# so the whole operator stays 100 TB-viable; the split rule is the same
# portable md5-mod both engines already hash-match.
# ---------------------------------------------------------------------------

_CSPLIT_SALT = "cluster-split-v1"

_CSPLIT_ORACLE = rf"""
WITH RECURSIVE {_shingle_ctes()},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
mpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
             AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM mpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM mpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       CAST(CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || '{_CSPLIT_SALT}'), 1, 15)) AS UBIGINT)
            % 100 AS BIGINT) AS bucket,
       CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || '{_CSPLIT_SALT}'), 1, 15)) AS UBIGINT) % 100 < 10 THEN 'test'
            WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || '{_CSPLIT_SALT}'), 1, 15)) AS UBIGINT) % 100 < 20 THEN 'valid'
            ELSE 'train'
       END AS split
FROM comp
"""


@register(
    "llm_cluster_aware_split",
    oracle=_CSPLIT_ORACLE,
    doc="leakage-proof split: md5-mod on the near-dup CLUSTER id, so no"
        " cluster straddles train/test; cluster layer is the sketch-"
        "bounded CC",
)
def llm_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.functions.hashing import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=docs.select(F.col("doc_id").alias("node"))
    ).withColumnRenamed("node", "doc_id")
    bucket = portable_hash60(
        F.concat(F.col("cluster_id").cast("string"), F.lit(_CSPLIT_SALT))
    ) % 100
    return comp.select(
        "doc_id",
        "cluster_id",
        bucket.alias("bucket"),
        F.when(bucket < 10, "test")
        .when(bucket < 20, "valid")
        .otherwise("train")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Dedup CASCADE — the staged pipeline real curation runs: exact dedup
# first (cheap hash groupBy removes byte-identical copies), then the
# sketch-bounded near-dup pass over the SURVIVORS ONLY, with per-doc
# stage attribution (kept | exact_dup | near_dup). Staging matters at
# 100 TB because exact dedup shrinks the expensive pair-generation
# input for free — every identical copy the first stage removes never
# produces LSH candidates. The corpus plants exact twins (shifted-id
# union) so both stages fire; the oracle mirrors the same two stages
# over the same corpus with the shared CTE machinery.
# ---------------------------------------------------------------------------

_CASCADE_ORACLE = rf"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
keyed AS (
  SELECT doc_id,
         md5(array_to_string({_TOKS}, ' ')) AS exact_key
  FROM corpus
),
exact_canon AS (
  SELECT doc_id, exact_key,
         MIN(doc_id) OVER (PARTITION BY exact_key) AS exact_canonical
  FROM keyed
),
survivors AS (
  SELECT c.doc_id, c.text FROM corpus c
  JOIN exact_canon e ON e.doc_id = c.doc_id
  WHERE e.doc_id = e.exact_canonical
),
{_shingle_ctes("survivors")},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
mpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
             AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM mpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM mpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM survivors
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS near_canonical FROM reach GROUP BY node)
SELECT e.doc_id,
       e.exact_canonical,
       comp.near_canonical,
       CASE WHEN e.doc_id <> e.exact_canonical THEN 'exact_dup'
            WHEN comp.near_canonical <> e.doc_id THEN 'near_dup'
            ELSE 'kept'
       END AS stage
FROM exact_canon e
LEFT JOIN comp ON comp.doc_id = e.doc_id
"""


@register(
    "llm_dedup_cascade",
    oracle=_CASCADE_ORACLE,
    doc="staged dedup cascade: exact hash collapse first, sketch-bounded"
        " near-dup CC over the survivors only, per-doc stage attribution"
        " (kept | exact_dup | near_dup)",
)
def llm_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from sig_etl_spark.llm.text_analysis import exact_hash

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    keyed = corpus.withColumn("exact_key", exact_hash(F.col("text")))
    canon = keyed.withColumn(
        "exact_canonical",
        F.min("doc_id").over(Window.partitionBy("exact_key")),
    )
    survivors = canon.filter(F.col("doc_id") == F.col("exact_canonical")).select(
        "doc_id", "text"
    )
    pairs = D.minhash_lsh_pairs(
        survivors, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b", nodes=survivors.select(F.col("doc_id").alias("node"))
    ).select(
        F.col("node").alias("doc_id"), F.col("cluster_id").alias("near_canonical")
    )
    out = canon.select("doc_id", "exact_canonical").join(comp, "doc_id", "left")
    stage = (
        F.when(F.col("doc_id") != F.col("exact_canonical"), "exact_dup")
        .when(F.col("near_canonical") != F.col("doc_id"), "near_dup")
        .otherwise("kept")
    )
    return out.select("doc_id", "exact_canonical", "near_canonical", stage.alias("stage"))


# ---------------------------------------------------------------------------
# Prefix-duplicate detection — the failure mode whole-doc exact dedup
# misses and shingle Jaccard under-scores: documents identical up front
# that diverge only by appended boilerplate or truncation. Key = md5 of
# the first 20 tokens; groups with >1 member and a LENGTH SPREAD are
# exactly "same opening, different tail". One combinable groupBy;
# integer lengths make the spread exact. The corpus plants truncated
# twins (first-half copies under shifted ids) so the detector has real
# positives with known structure.
# ---------------------------------------------------------------------------

_PREFIX_K = 20

_PREFIX_DEDUP_ORACLE = rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice({_TOKS}, 1,
           GREATEST(len({_TOKS}) // 2, {_PREFIX_K})), ' ') AS text
  FROM documents
),
keyed AS (
  SELECT doc_id,
         len({_TOKS}) AS n_toks,
         md5(array_to_string(list_slice({_TOKS}, 1, {_PREFIX_K}), ' '))
           AS prefix_key
  FROM corpus
  WHERE len({_TOKS}) >= {_PREFIX_K}
)
SELECT prefix_key,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_docs,
       CAST(MIN(n_toks) AS BIGINT) AS min_toks,
       CAST(MAX(n_toks) AS BIGINT) AS max_toks,
       (MAX(n_toks) > MIN(n_toks)) AS has_length_spread
FROM keyed GROUP BY prefix_key
HAVING COUNT(*) > 1
"""


@register(
    "llm_prefix_dedup",
    oracle=_PREFIX_DEDUP_ORACLE,
    doc="prefix-duplicate groups (same first-20-token hash, >1 member):"
        " catches truncation/extension duplicates whole-doc exact dedup"
        " misses; planted truncated twins give known positives",
)
def llm_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.llm.text_analysis import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    truncated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(
                toks, 1, F.greatest(F.floor(F.size(toks) / 2), F.lit(_PREFIX_K)).cast("int")
            ),
            " ",
        ).alias("text"),
    )
    corpus = docs.unionByName(truncated)
    ctoks = tokens(F.col("text"))
    keyed = corpus.select(
        "doc_id",
        F.size(ctoks).alias("n_toks"),
        F.md5(F.array_join(F.slice(ctoks, 1, _PREFIX_K), " ")).alias("prefix_key"),
    ).filter(F.col("n_toks") >= _PREFIX_K)
    return (
        keyed.groupBy("prefix_key")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_toks").cast("bigint").alias("min_toks"),
            F.max("n_toks").cast("bigint").alias("max_toks"),
            (F.max("n_toks") > F.min("n_toks")).alias("has_length_spread"),
        )
        .filter(F.col("n_docs") > 1)
    )

# ---------------------------------------------------------------------------
# Cross-source duplication estimate via GROUP-level MinHash (round 6).
# The question a mixing pipeline asks before weighting sources — "how
# much of source A is also in source B?" — answered WITHOUT any pair
# join: min(perm(x)) distributes over set union, so each source's
# signature of its union-of-shingles is one map-side-combinable groupBy
# (shuffle carries |sources| x 64 longs), and the comparison step is a
# |sources|^2 broadcast self-join of a tiny frame. At 100 TB the cost
# is one scan + one 64-long-per-source shuffle — the pairwise estimate
# never touches documents again. n_agree is an exact integer (same
# md5-derived permutation arithmetic both engines); est_jaccard is one
# IEEE division of identical inputs.
# ---------------------------------------------------------------------------

_SRC_OVERLAP_ORACLE = rf"""
WITH {_shingle_ctes()},
srcsh AS (
  SELECT d.source, s.shingle
  FROM sh0 s JOIN documents d USING (doc_id)
),
hx AS (
  SELECT source,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM srcsh
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mins AS (
  SELECT source, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT source, list(v ORDER BY i) AS sig FROM mins GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(len(list_filter(generate_series(1,64), k -> a.sig[k] = b.sig[k]))
            AS BIGINT) AS n_agree,
       len(list_filter(generate_series(1,64), k -> a.sig[k] = b.sig[k])) / 64.0
         AS est_jaccard
FROM sigs a JOIN sigs b ON a.source < b.source
"""


@register(
    "llm_source_overlap_minhash",
    oracle=_SRC_OVERLAP_ORACLE,
    doc="pairwise cross-source shingle-set overlap via group-level"
        " MinHash: one combinable groupBy (|sources| x 64 longs"
        " shuffled), broadcast self-join of the signature frame — the"
        " no-pair-join way to estimate cross-source duplication",
)
def llm_source_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the |sources|-row signature frame once: without the
    # barrier the self-join's two sides each re-run the full scan +
    # shingle explode + 64-min aggregation (verified in the formatted
    # plan) — 2x the corpus scan for a kilobyte of signatures.
    sigs = D.minhash_group_signatures(
        docs, "source", "text", k=3, num_hashes=64
    ).localCheckpoint(eager=False)
    a = sigs.alias("a")
    b = sigs.alias("b")
    agree = None
    for i in range(64):
        eq = (F.col(f"a.s{i}") == F.col(f"b.s{i}")).cast("bigint")
        agree = eq if agree is None else agree + eq
    return (
        a.join(F.broadcast(b), F.col("a.grp") < F.col("b.grp"))
        .select(
            F.col("a.grp").alias("source_a"),
            F.col("b.grp").alias("source_b"),
            agree.alias("n_agree"),
            (agree / F.lit(64.0)).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty (round 6): the fraction of a doc's
# distinct 3-gram shingles that appear NOWHERE else in the corpus
# (document frequency 1) — the standard cheap proxy for "is this
# document contributing new content or restating the corpus", used to
# score synthetic data and dedup leftovers. Scale shape: the shingle
# posting list is built once (same inverted index the Jaccard family
# uses), df is one combinable groupBy on shingle, and the per-doc
# rollup joins postings to df ON SHINGLE (posting-list equi-join, never
# doc pairs) then reduces on doc_id. All counts integer; novelty_permille
# is integer division — hash-exact by construction.
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = rf"""
WITH {_shingle_ctes()},
freq AS (SELECT shingle, COUNT(*) AS df_ FROM sh0 GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN f.df_ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
  FROM sh0 s JOIN freq f USING (shingle)
  GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, n_unique,
       CAST(n_unique * 1000 // n_shingles AS BIGINT) AS novelty_permille
FROM per_doc
"""


@register(
    "llm_ngram_novelty",
    oracle=_NOVELTY_ORACLE,
    doc="per-doc corpus novelty: share of distinct 3-gram shingles with"
        " document frequency 1 (integer permille) — posting-list join on"
        " shingle, no doc pairs",
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingle_postings(docs, "doc_id", "text", k=3)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    per_doc = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df_") == 1).cast("int")).cast("bigint").alias("n_unique"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_unique",
        F.floor(F.col("n_unique") * 1000 / F.col("n_shingles"))
        .cast("bigint")
        .alias("novelty_permille"),
    )


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup — the continuous-ingest shape
# (round 6): an incoming batch (doc_id % 10 == 0 stands in for today's
# crawl) is checked against the existing corpus for near-duplicates
# BEFORE ingestion. The asymmetric LSH band join is the scale story:
# the batch's banded frame broadcasts (batch-sized, not corpus-sized)
# and the corpus STREAMS past it — cost is linear in corpus size for a
# fixed batch, with no corpus self-pairing at all (the self-join
# variant pays for corpus-internal duplicate density even when you
# only asked about the batch). One row per batch doc: match count,
# best estimated Jaccard, ingest/drop decision. The oracle rebuilds
# both sides' signatures and the identical banded join (slice equality
# stands in for the murmur3 bucket hash, same caveat as
# llm_minhash_lsh); the decision column is pure integer logic.
# ---------------------------------------------------------------------------

_INC_DEDUP_ORACLE = rf"""
WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
oldd AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
basen AS (SELECT doc_id, {_TOKS} AS toks FROM newd),
shn AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) - 2 >= 1
                THEN list_transform(generate_series(1, len(toks) - 2),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')]
           END)) AS shingle
  FROM basen
),
hxn AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM shn
),
mhn AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hxn CROSS JOIN perms GROUP BY 1, 2
),
sign AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mhn GROUP BY doc_id),
baseo AS (SELECT doc_id, {_TOKS} AS toks FROM oldd),
sho AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) - 2 >= 1
                THEN list_transform(generate_series(1, len(toks) - 2),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE [array_to_string(toks, ' ')]
           END)) AS shingle
  FROM baseo
),
hxo AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sho
),
mho AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hxo CROSS JOIN perms GROUP BY 1, 2
),
sigo AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mho GROUP BY doc_id),
bandedn AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sign CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
bandedo AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigo CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_corpus,
         n.sig AS sn, o.sig AS so
  FROM bandedn n JOIN bandedo o ON n.band = o.band AND n.bucket = o.bucket
),
mpairs AS (
  SELECT id_new, id_corpus, est FROM (
    SELECT id_new, id_corpus,
           len(list_filter(generate_series(1,64), k -> sn[k] = so[k])) / 64.0 AS est
    FROM cand
  ) WHERE est >= 0.5
),
per_new AS (
  SELECT id_new, CAST(COUNT(*) AS BIGINT) AS n_corpus_matches,
         MAX(est) AS best_est
  FROM mpairs GROUP BY id_new
)
SELECT nd.doc_id,
       COALESCE(p.n_corpus_matches, 0) AS n_corpus_matches,
       COALESCE(p.best_est, 0.0) AS best_est,
       CASE WHEN p.id_new IS NULL THEN 'ingest' ELSE 'drop' END AS decision
FROM newd nd LEFT JOIN per_new p ON p.id_new = nd.doc_id
"""


@register(
    "llm_incremental_dedup",
    oracle=_INC_DEDUP_ORACLE,
    doc="continuous-ingest dedup: incoming batch checked against the"
        " corpus via an ASYMMETRIC LSH band join — batch side"
        " broadcasts, corpus streams, linear in corpus size; per-doc"
        " ingest/drop decision with match count and best estimate",
)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    pairs = D.minhash_lsh_pairs_between(
        new, corpus, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    )
    per_new = pairs.groupBy("id_new").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus_matches"),
        F.max("est_jaccard").alias("best_est"),
    )
    return (
        new.select("doc_id")
        .join(per_new, new["doc_id"] == per_new["id_new"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_corpus_matches"), F.lit(0)).cast("bigint").alias(
                "n_corpus_matches"
            ),
            F.coalesce(F.col("best_est"), F.lit(0.0)).alias("best_est"),
            F.when(F.col("id_new").isNull(), F.lit("ingest"))
            .otherwise(F.lit("drop"))
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# Paragraph-level dedup with reassembly (round 7) — the C4-style shape a
# real curation pipeline ships: documents are split into fixed 10-word
# chunks, every chunk that already occurred earlier in the corpus
# (global first-occurrence rule, ordered by (doc_id, chunk_idx)) is
# dropped, and each document's SURVIVING chunks are re-assembled into
# clean_text in original order. This is finer than whole-doc dedup
# (llm_exact_dedup) and coarser than span suppression (llm_dup_spans):
# the one that actually rewrites the training text.
#
# Scale shape: chunking happens INSIDE the row (array slice over the
# split words — no explode-shuffle to build chunks); the only wide ops
# are one hash-partitioned window for first-occurrence (partitioned by
# chunk md5 — effectively a groupBy-sized shuffle of (hash, doc, idx)
# triples, never full text twice), and one per-doc groupBy to
# re-assemble. DETERMINISM: the keep rule is a total order
# (doc_id, chunk_idx) and reassembly sorts by chunk_idx — no float
# anywhere.
# ---------------------------------------------------------------------------

_PARA_W = 10

_PARA_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         array_to_string(w[(i*{_PARA_W}+1):((i+1)*{_PARA_W})], ' ') AS chunk
  FROM d, UNNEST(range(CAST(ceil(len(w) / {_PARA_W}.0) AS BIGINT))) AS t(i)
),
keyed AS (SELECT *, md5(chunk) AS h FROM ch),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM keyed
),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM ch GROUP BY doc_id
),
k AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT t.doc_id, t.n_chunks,
       COALESCE(k.n_kept, 0) AS n_kept,
       COALESCE(k.clean_text, '') AS clean_text
FROM tot t LEFT JOIN k USING (doc_id)
"""


@register(
    "llm_paragraph_dedup",
    oracle=_PARA_ORACLE,
    doc="C4-style paragraph (10-word chunk) dedup with reassembly:"
        " global first-occurrence keep rule over chunk hashes, surviving"
        " chunks re-joined into clean_text per document — in-row"
        " chunking, one hash window + one per-doc groupBy",
)
def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(w) / F.lit(float(_PARA_W))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_idx"),
            F.array_join(
                F.slice(w, i * _PARA_W + 1, _PARA_W), " "
            ).alias("chunk"),
        ),
    )
    ch = docs.select(
        "doc_id", F.explode(chunks).alias("c")
    ).select("doc_id", "c.chunk_idx", "c.chunk")
    ranked = ch.withColumn("h", F.md5(F.col("chunk"))).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
        ),
    )
    tot = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    kept = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("chunk_idx", "chunk"))
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return tot.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Split-leakage audit (round 7): the measurement companion to
# llm_cluster_aware_split. A content-hash split (llm_reproducible_split)
# is reproducible but near-dup-blind: a test document whose near twin
# sits in train leaks evaluation signal. This query classifies every
# MinHash+LSH near-dup pair by the split pair it straddles and reports,
# per (split_lo, split_hi) class, the pair count and the distinct
# documents on each side — the train/test and train/valid rows ARE the
# leakage a cluster-aware split exists to eliminate. Scale shape:
# identical to llm_minhash_lsh up to the pair frame (band-bucket
# equi-join, sketch-bounded), then two keyed joins against the
# dimension-light (doc_id, split) frame and a 6-row-max aggregate; the
# split frame derives from md5 in codegen, no extra scan beyond the
# pair pipeline's.
# ---------------------------------------------------------------------------


def _split_oracle_cte() -> str:
    from sig_etl_spark.queries.llm_text import _SPLIT_SALT

    h = f"CAST(('0x' || substr(md5(text || '{_SPLIT_SALT}'), 1, 15)) AS UBIGINT) % 100"
    return f"""sp AS (
  SELECT doc_id,
         CASE WHEN {h} < 10 THEN 'test'
              WHEN {h} < 20 THEN 'valid'
              ELSE 'train' END AS split
  FROM documents
)"""


_LEAKAGE_ORACLE = None  # assembled lazily below (llm_text import order)


def _leakage_oracle() -> str:
    return f"""
WITH {_MINHASH_PAIR_CTES},
pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
{_split_oracle_cte()},
classed AS (
  SELECT LEAST(sa.split, sb.split) AS split_lo,
         GREATEST(sa.split, sb.split) AS split_hi,
         CASE WHEN sa.split <= sb.split THEN p.id_a ELSE p.id_b END AS doc_lo,
         CASE WHEN sa.split <= sb.split THEN p.id_b ELSE p.id_a END AS doc_hi
  FROM pairs p
  JOIN sp sa ON sa.doc_id = p.id_a
  JOIN sp sb ON sb.doc_id = p.id_b
)
SELECT split_lo, split_hi, COUNT(*) AS n_pairs,
       COUNT(DISTINCT doc_lo) AS n_docs_lo,
       COUNT(DISTINCT doc_hi) AS n_docs_hi
FROM classed
GROUP BY split_lo, split_hi
ORDER BY split_lo, split_hi
"""


def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sig_etl_spark.functions.hashing import portable_hash60
    from sig_etl_spark.queries.llm_text import _SPLIT_SALT

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    bucket = portable_hash60(F.concat(F.col("text"), F.lit(_SPLIT_SALT))) % 100
    sp = docs.select(
        "doc_id",
        F.when(bucket < 10, "test")
        .when(bucket < 20, "valid")
        .otherwise("train")
        .alias("split"),
    )
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    classed = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least(F.col("split_a"), F.col("split_b")).alias("split_lo"),
            F.greatest(F.col("split_a"), F.col("split_b")).alias("split_hi"),
            F.when(F.col("split_a") <= F.col("split_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_lo"),
            F.when(F.col("split_a") <= F.col("split_b"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("doc_hi"),
        )
    )
    return (
        classed.groupBy("split_lo", "split_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_lo").alias("n_docs_lo"),
            F.countDistinct("doc_hi").alias("n_docs_hi"),
        )
        .orderBy("split_lo", "split_hi")
    )


register(
    "llm_split_leakage",
    oracle=_leakage_oracle(),
    doc="near-dup leakage audit across the content-hash split: MinHash"
        " LSH pairs classified by the (split_lo, split_hi) pair they"
        " straddle, pair + distinct-doc counts per class — the"
        " measurement a cluster-aware split exists to zero out",
)(llm_split_leakage)


# ---------------------------------------------------------------------------
# Content-defined chunk dedup (round 7): FastCDC-style chunking — chunk
# boundaries fall where the rolling window's hash satisfies a mask, so
# an insertion early in a document shifts ONE chunk, not every
# fixed-size block after it. This is the storage-dedup primitive
# (backup systems, artifact stores) and the long-document complement of
# shingle near-dup: chunk hashes dedupe VERBATIM runs across documents
# regardless of alignment. Boundaries: positions whose 4-token window
# hash ≡ 0 (mod 16) — the same portable md5 hash both engines compute,
# so the whole operator is oracle-checked. Per-source report:
# chunk count, distinct chunks, duplicate permille.
#
# Scale shape: chunking happens INSIDE the row (position filter +
# slice transform over the token array — no explode until chunk hashes
# exist, exactly the paragraph-dedup discipline); the only wide ops are
# one explode of chunk hashes and one combinable per-source aggregate.
# Engine seam handled: Spark's sequence(1, n) DESCENDS when n < 1, so
# position generation is guarded to an empty array for short docs
# (DuckDB generate_series is empty there).
# ---------------------------------------------------------------------------

_CDC_WINDOW = 4
_CDC_MASK = 16

_CDC_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, source, {_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id, source, toks, len(toks) AS n,
         -- positions start at 2: a boundary at 1 would make an EMPTY
         -- first chunk, where the engines' empty-slice semantics differ
         -- (Spark md5('') vs DuckDB NULL slice) and which no chunker
         -- wants anyway
         list_filter(
           generate_series(2, GREATEST(len(toks) - {_CDC_WINDOW - 1}, 0)),
           i -> CAST(('0x' || substr(md5(array_to_string(
                  toks[i:i+{_CDC_WINDOW - 1}], ' ')), 1, 15)) AS UBIGINT)
                % {_CDC_MASK} = 0
         ) AS bpos
  FROM base
),
w AS (
  SELECT doc_id, source, toks,
         list_prepend(1, list_append(bpos, n + 1)) AS cuts
  FROM g WHERE n > 0
),
chunks AS (
  -- 60-bit bigint chunk hash (round 8): the distinct-count shuffle
  -- carries 8-byte keys instead of 32-char md5 strings — same portable
  -- md5 bits, same truncation on both engines. Measured wall-clock
  -- NEUTRAL at sf0.1 (the per-chunk md5 itself dominates, 4.96s vs
  -- 5.01s A/B); kept for the 4x shuffle-byte cut, which is what
  -- matters when the shuffle is network-bound at corpus scale.
  SELECT source,
         unnest(list_transform(
           generate_series(1, len(cuts) - 1),
           j -> CAST(CAST(('0x' || substr(md5(array_to_string(
                  toks[cuts[j]:cuts[j+1]-1], ' ')), 1, 15)) AS UBIGINT)
                AS BIGINT))) AS ch
  FROM w WHERE len(cuts) > 1
)
SELECT source,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT ch) AS n_unique_chunks,
       CAST((COUNT(*) - COUNT(DISTINCT ch)) * 1000 // COUNT(*) AS BIGINT)
         AS dup_permille
FROM chunks GROUP BY source ORDER BY source
"""


def _cdc_chunk_rows(docs: DataFrame) -> DataFrame:
    """Exploded ``(source, ch)`` chunk-hash rows — the per-document CDC
    pipeline (boundary positions from the rolling-window mask hash, then
    one 60-bit md5 hash per chunk).

    One ``mapInArrow`` pass over ``(source, toks)`` computes every
    window hash and chunk hash with ``hashlib.md5`` over the UTF-8
    bytes of the space-joined tokens, the bytes DuckDB's
    ``array_to_string`` hashes — tokens are still produced by the JVM
    ``tokens()`` expression (Java and Python regex ``\\s`` classes
    differ on Unicode whitespace, so tokenization must not cross the
    boundary), and the 60-bit value is the top 15 hex digits of the
    same digest, so every emitted row matches the DuckDB oracle. A
    per-position JVM chain would run one interpreted lambda + md5 PER
    TOKEN POSITION (~20 us per window position vs ~0.6 us for the
    hashlib loop)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from sig_etl_spark.llm.text_analysis import tokens

    base = docs.select("source", tokens(F.col("text")).alias("toks"))
    out_schema = StructType(
        [
            StructField("source", base.schema["source"].dataType, True),
            StructField("ch", LongType(), True),
        ]
    )
    win, mask = _CDC_WINDOW, _CDC_MASK

    def chunk(batches):
        import hashlib

        import pyarrow as pa

        md5 = hashlib.md5
        for batch in batches:
            srcs = batch.column(0).to_pylist()
            toks_col = batch.column(1).to_pylist()
            o_src: list = []
            o_ch: list = []
            for s, tk in zip(srcs, toks_col):
                if not tk:
                    continue  # NULL text or n == 0: no chunks
                n = len(tk)
                btoks = [t.encode("utf-8") for t in tk]
                joined = b" ".join(btoks)
                # byte offsets of token i in the joined string
                starts = []
                ends = []
                pos = 0
                for b in btoks:
                    starts.append(pos)
                    pos += len(b)
                    ends.append(pos)
                    pos += 1
                # boundary positions: 1-based 2..n-win+1 where the
                # window hash (top 60 md5 bits) is 0 mod mask; the
                # 60-bit value is digest[:8] >> 4 big-endian ==
                # int(hexdigest[:15], 16)
                cuts = [1]
                for i1 in range(2, n - win + 2):
                    w = joined[starts[i1 - 1] : ends[i1 + win - 2]]
                    h = int.from_bytes(md5(w).digest()[:8], "big") >> 4
                    if h % mask == 0:
                        cuts.append(i1)
                cuts.append(n + 1)
                for j in range(len(cuts) - 1):
                    c = joined[starts[cuts[j] - 1] : ends[cuts[j + 1] - 2]]
                    o_ch.append(
                        int.from_bytes(md5(c).digest()[:8], "big") >> 4
                    )
                    o_src.append(s)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_src, type=batch.column(0).type),
                    pa.array(o_ch, type=pa.int64()),
                ],
                names=["source", "ch"],
            )

    return base.mapInArrow(chunk, out_schema)


@register(
    "llm_cdc_chunk_dedup",
    oracle=_CDC_ORACLE,
    doc="content-defined chunking (rolling-window hash mask boundaries,"
        " insertion-stable) + chunk-hash dedup per source — the storage-"
        "dedup primitive, chunked in one Arrow pass + one combinable"
        " aggregate; fully oracle-checked",
)
def llm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = _cdc_chunk_rows(docs)
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("ch").alias("n_unique_chunks"),
        )
        .select(
            "source",
            "n_chunks",
            "n_unique_chunks",
            F.expr(
                "cast((n_chunks - n_unique_chunks) * 1000 div n_chunks"
                " as bigint)"
            ).alias("dup_permille"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Crawl-curation capstone (round 10 — VERDICT r9 task 3): the 100 TB
# training-data pipeline as ONE registered, oracle-checked dataflow —
#   WARC crawl containers (HTTP-response records, gzip members)
#     -> WET text recovery (member walk, WARC parse, HTTP strip,
#        HTML table parse — extract_demo.wet_text_records)
#     -> corpus boilerplate scrub (llm_text.scrub_frame)
#     -> quality gate v2 signals RECOMPUTED over the scrubbed text
#        (ttr + duplicate-3-gram + bigram-model coverage, gate v2
#        thresholds — drift-guarded against llm_quality_gate_v2's)
#     -> MinHash+LSH near-dup pairs among survivors -> CC clusters
#     -> leakage-proof cluster-hash train/valid/test split.
# Every stage is individually green elsewhere; the capstone proves they
# compose in one plan (the driver hash covers container framing, HTTP
# splitting, HTML recovery, scrub arithmetic, three gate signals, the
# banded pair graph, min-label CC, and the split hash at once).
# Scale shape: the WET front end is one task per container; the scrub
# and signal stages are keyed groupBys with map-side combine; the model
# is a bounded top-K broadcast; the pair layer is the banded LSH
# equi-join; CC is O(log d) pointer jumping on a checkpointed edge
# frame; the split is a pure hash — no stage is quadratic or
# driver-bound.
# ---------------------------------------------------------------------------

# Gate v2 thresholds, restated locally (a pytest pins them to
# llm_text._GATE_* so the two cannot drift; importing llm_text at module
# scope would reorder query registration).
_E2E_TTR = 0.35
_E2E_DUP = 0.30
_E2E_COV = 0.58
_E2E_SEG_G = 2
_E2E_SEG_T = 20

_E2E_SPLIT_HASH = (
    "CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR) ||"
    f" '{_CSPLIT_SALT}'), 1, 15)) AS UBIGINT)"
)

_E2E_ORACLE = rf"""
WITH RECURSIVE rawdocs AS (SELECT doc_id, text FROM documents),
sbase AS (SELECT doc_id, {_TOKS} AS toks FROM rawdocs),
segd AS (
  SELECT doc_id, s // {_E2E_SEG_G} AS seg_idx,
         array_to_string(list_slice(toks, s + 1, s + {_E2E_SEG_G}), ' ') AS seg
  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), {_E2E_SEG_G})) AS s
        FROM sbase WHERE len(toks) > 0)
),
scnt AS (SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM segd GROUP BY seg),
cleaned AS (
  SELECT segd.doc_id,
         CAST(SUM(CASE WHEN scnt.ndocs >= {_E2E_SEG_T} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_boilerplate,
         COALESCE(array_to_string(
           list(seg ORDER BY seg_idx) FILTER (WHERE scnt.ndocs < {_E2E_SEG_T}),
           ' '), '') AS text
  FROM segd JOIN scnt USING (seg) GROUP BY segd.doc_id
),
gbase AS (SELECT doc_id, n_boilerplate, text, {_TOKS} AS toks FROM cleaned),
gsig AS (
  SELECT doc_id, n_boilerplate, text,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS ttr,
         CASE WHEN len(toks) - 2 >= 1
              THEN list_transform(generate_series(1, len(toks) - 2),
                                  i -> array_to_string(toks[i:i+2], ' '))
              ELSE [array_to_string(toks, ' ')]
         END AS grams
  FROM gbase
),
gsig2 AS (
  SELECT doc_id, n_boilerplate, text, ttr,
         CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
           / CAST(len(grams) AS DOUBLE) AS dup_gram_ratio
  FROM gsig
),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                       i -> array_to_string(toks[i:i+1], ' ')))
           AS bigram
  FROM gbase WHERE len(toks) >= 2
),
model AS (
  SELECT bigram FROM (
    SELECT bigram, row_number() OVER (ORDER BY COUNT(*) DESC, bigram) AS rn
    FROM bg GROUP BY bigram
  ) WHERE rn <= 500
),
bcov AS (
  SELECT bg.doc_id,
         CAST(SUM(CASE WHEN model.bigram IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
  FROM bg LEFT JOIN model ON bg.bigram = model.bigram
  GROUP BY bg.doc_id
),
gated AS (
  SELECT s.doc_id, s.n_boilerplate, s.text, s.ttr, s.dup_gram_ratio,
         COALESCE(c.coverage, 0.0) AS coverage
  FROM gsig2 s LEFT JOIN bcov c USING (doc_id)
  WHERE s.ttr >= {_E2E_TTR} AND s.dup_gram_ratio <= {_E2E_DUP}
    AND COALESCE(c.coverage, 0.0) >= {_E2E_COV}
),
q AS (SELECT doc_id, text FROM gated),
{_shingle_ctes("q")},
hx AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT)
              % 2147483647 AS BIGINT) AS x
  FROM sh0
),
perms(i, a, b) AS (VALUES {_PERM_VALUES}),
mh AS (
  SELECT doc_id, i, MIN((a * x + b) % 2147483647) AS v
  FROM hx CROSS JOIN perms GROUP BY 1, 2
),
sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM mh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, band, list_slice(sig, band*4+1, band*4+4) AS bucket
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0,15)) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
),
mpairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_filter(generate_series(1,64), k -> sa[k] = sb[k])) / 64.0
             AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.5
),
sym AS (
  SELECT id_a AS u, id_b AS v FROM mpairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM mpairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM q
  UNION
  SELECT s.u, r.label FROM reach r JOIN sym s ON s.v = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT g.doc_id, g.n_boilerplate, g.ttr, g.dup_gram_ratio, g.coverage,
       c.cluster_id,
       (g.doc_id = c.cluster_id) AS is_canonical,
       CAST({_E2E_SPLIT_HASH} % 100 AS BIGINT) AS bucket,
       CASE WHEN {_E2E_SPLIT_HASH} % 100 < 10 THEN 'test'
            WHEN {_E2E_SPLIT_HASH} % 100 < 20 THEN 'valid'
            ELSE 'train'
       END AS split
FROM gated g JOIN comp c USING (doc_id)
"""


@register(
    "llm_crawl_curation_e2e",
    oracle=_E2E_ORACLE,
    doc="crawl-curation capstone in ONE plan: WARC->WET text recovery,"
        " boilerplate scrub, gate-v2 signals over the scrubbed text,"
        " MinHash+LSH near-dup CC among survivors, cluster-hash"
        " leakage-proof split — every stage bounded (banded pair join,"
        " top-K broadcast model, pointer-jumping CC)",
)
def llm_crawl_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_cluster_split_frame(crawl_gated_frame(spark, sf_dir))


def curation_cluster_split_frame(gated: DataFrame) -> DataFrame:
    """The capstone's BATCH LEG — MinHash+LSH near-dup CC among the
    gated survivors, then the cluster-hash leakage-proof split — over
    any (doc_id, n_boilerplate, text, ttr, dup_gram_ratio, coverage)
    frame. Factored out so the lambda handoff is testable: the
    streaming capstone accumulates keepers in a parquet sink, and this
    exact function is what the periodic batch recomputation runs over
    them (tests/test_streaming.py pins that the composition equals the
    registered all-batch capstone)."""
    from sig_etl_spark.functions.hashing import portable_hash60

    pairs = D.minhash_lsh_pairs(
        gated.select("doc_id", "text"), "doc_id", "text",
        k=3, num_hashes=64, bands=16, threshold=0.5,
    ).select("id_a", "id_b")
    comp = D.connected_components(
        pairs, "id_a", "id_b",
        nodes=gated.select(F.col("doc_id").alias("node")),
    )
    bucket = portable_hash60(
        F.concat(F.col("cluster_id").cast("string"), F.lit(_CSPLIT_SALT))
    ) % 100
    return (
        gated.join(comp, gated["doc_id"] == comp["node"])
        .select(
            "doc_id",
            "n_boilerplate",
            "ttr",
            "dup_gram_ratio",
            "coverage",
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
            bucket.alias("bucket"),
            F.when(bucket < 10, "test")
            .when(bucket < 20, "valid")
            .otherwise("train")
            .alias("split"),
        )
    )


def crawl_clean_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone's scrubbed crawl corpus — WET recovery + boilerplate
    scrub, (doc_id, n_boilerplate, text). Shared with the streaming
    capstone test, which trains its static bigram model on exactly this
    frame (the model the batch path derives internally)."""
    from sig_etl_spark.queries.extract_demo import wet_text_records
    from sig_etl_spark.queries.llm_text import scrub_frame

    raw = wet_text_records(spark, sf_dir).select("doc_id", "text")
    # Materialize the scrubbed corpus once: it feeds the signal pass,
    # the bigram model, and (via the gate) the pair layer + final join.
    return (
        scrub_frame(raw)
        .select("doc_id", "n_boilerplate", F.col("clean_text").alias("text"))
        .localCheckpoint(eager=False)
    )


def crawl_gated_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-v2 survivors of the scrubbed crawl corpus —
    (doc_id, n_boilerplate, text, ttr, dup_gram_ratio, coverage).
    The batch capstone's middle stage, factored out so the streaming
    twin (stream_crawl_curation) can be equality-pinned against the
    exact frame the registered query builds on."""
    from pyspark.sql.functions import broadcast

    from sig_etl_spark.llm import text_analysis as T

    clean = crawl_clean_frame(spark, sf_dir)
    ttr = T.bind(
        T.tokens(F.col("text")),
        lambda t: F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
            F.size(F.array_distinct(t)).cast("double")
            / F.size(t).cast("double")
        ),
    )
    rep = T.ngram_repetition(F.col("text"), k=3)
    sig = clean.select(
        "doc_id", "n_boilerplate", "text", ttr.alias("ttr"), rep.alias("r")
    ).select(
        "doc_id", "n_boilerplate", "text", "ttr",
        (
            (F.col("r.n_grams") - F.col("r.n_distinct_grams")).cast("double")
            / F.col("r.n_grams").cast("double")
        ).alias("dup_gram_ratio"),
    )
    toksc = T.tokens(F.col("text"))
    bg = (
        clean.select("doc_id", toksc.alias("toks"))
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
        .limit(500)
        .select("bigram", F.lit(1).alias("hit"))
    )
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    cov = (
        bg.join(broadcast(model), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            (hits.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "coverage"
            )
        )
    )
    return (
        sig.join(cov, "doc_id", "left")
        .withColumn("coverage", F.coalesce(F.col("coverage"), F.lit(0.0)))
        .filter(
            (F.col("ttr") >= _E2E_TTR)
            & (F.col("dup_gram_ratio") <= _E2E_DUP)
            & (F.col("coverage") >= _E2E_COV)
        )
        .localCheckpoint(eager=False)
    )
