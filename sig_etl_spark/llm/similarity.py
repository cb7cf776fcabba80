"""Similarity search over embedding columns.

Eight top-k operators return (query_id, corpus_id, cosine, rank):
``brute_force_topk`` (exact), ``int8_topk``, ``lsh_topk``, ``ivf_topk``,
``ivf_kmeans_topk``, ``pq_topk``, ``pq_rerank_topk`` and
``ivfpq_topk``. ``ivf_incremental_topk`` and
``ivf_incremental_kmeans_topk`` maintain the IVF index under updates,
and ``ivf_near_dup_pairs``, its two-level twin and the size-routing
``ivf_near_dup_pairs_adaptive`` return near-dup pairs
(id_a, id_b, cosine).

Each operator has ONE implementation: the corpus-sized scoring runs in
Arrow batches (numpy over left-to-right float64 folds), and only
bucket-, cell- or shortlist-sized work (candidate joins, exact
re-scores, top-k windows) stays in JVM expressions. Three JVM paths do
the corpus-sized work instead, each because the Arrow pass cannot serve
its input or its scale:

- ``brute_force_topk`` scores a mixed-dimension query set with a
  broadcast join (ragged vectors do not stack into one query matrix);
- ``ivf_near_dup_pairs`` assigns through ``_ivf_assign_expr`` above
  ``_ASSIGN_COLLECT_CEILING`` centroids (the Arrow pass would ship the
  whole centroid list in every task closure);
- ``ivf_near_dup_pairs_2level`` assigns through broadcast joins (it
  serves corpora above the 10^6 knee, whose centroid list is
  corpus-proportional and never collected to the driver).

Dot products are strict left-to-right double folds (dedup._double_dot) —
a per-row array fold has fixed evaluation order, so plain IEEE doubles are
already deterministic across runs, partitionings, AND engines (DuckDB's
list_reduce performs the identical operation sequence). Planes, centroid
samples and codebooks come from fixed seeds or md5 orderings, so runs —
and the DuckDB oracle, which re-derives them — are deterministic. The
oracle is the reference every registered configuration is checked
against.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sig_etl_spark.llm.dedup import _dot_sql, _double_dot, _double_dot_expr
from sig_etl_spark.session import local_frame


def hyperplanes(dim: int, n: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n)]


def _cosine_expr(a: str, b: str, a_norm2: str, b_norm2: str):
    """Cosine over plain column names in ONE parsed expression (one py4j
    round-trip instead of ~200; see dedup._dot_sql).

    try_divide: a zero-norm vector yields a NULL cosine (ranked last by
    the DESC windows) in BOTH ANSI modes, instead of DIVIDE_BY_ZERO
    under the repo session's ansi.enabled=true. nanvl: a NaN cosine
    (non-finite vector elements -> inf/inf or 0/0) ALSO normalizes to
    NULL — one policy for every undefined similarity, ranked last, the
    same rule streaming's stream_ivf_assign follows (NaN would otherwise
    rank FIRST under DESC, i.e. garbage rows would outrank every real
    neighbor; and the Arrow/numpy passes cannot even represent a NaN
    distinct from NULL on the way back to the JVM)."""
    return F.expr(
        f"nanvl(try_divide({_dot_sql(a, b)}, sqrt({a_norm2} * {b_norm2})), "
        f"CAST(NULL AS DOUBLE))"
    )


def _with_norm2(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(f"{out_id}_vec"),
        _double_dot_expr(vec_col, vec_col).alias(f"{out_id}_norm2"),
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. The query set is
    collected (bounded by the small-|Q| contract) and each corpus batch
    is scored against all of it in one Arrow pass
    (:func:`_brute_scored_np`): NULL / wrong-length vectors give a NULL
    cosine, a zero divisor gives NULL (try_divide), and non-finite
    elements run the left-to-right IEEE fold into the shared
    NaN-cosine-normalizes-to-NULL policy (see :func:`_cosine_expr`).
    O(|Q| * |corpus|) by definition; the approximate paths are the
    scale answer, this is their ground truth."""
    scored = _brute_scored_np(queries, corpus, id_col, vec_col)
    if scored is None:
        # Kept JVM path: a mixed-dimension query set cannot be stacked
        # into one query matrix, so it is scored by a broadcast join
        # with the same fold and the same NULL policy.
        q = _with_norm2(queries, id_col, vec_col, "query_id")
        c = _with_norm2(corpus, id_col, vec_col, "corpus_id")
        scored = c.join(F.broadcast(q)).select(
            "query_id",
            "corpus_id",
            _cosine_expr(
                "query_id_vec", "corpus_id_vec",
                "query_id_norm2", "corpus_id_norm2",
            ).alias("cosine"),
        )
    return _topk_by_cosine(scored, k)


def _brute_scored_np(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame | None:
    """(query_id, corpus_id, cosine) for every pair, or None for a
    ragged (mixed-dimension) query set the caller scores in the JVM.
    The dot and both norms run as sequential left-to-right float64
    accumulations over double-cast elements — the ``_double_dot`` fold
    DuckDB's ``list_reduce`` also performs, so the oracle re-derives
    every cosine bit for bit."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect()  # bounded: the small-query-set contract
    qids = [r["query_id"] for r in qrows]
    nq = len(qids)
    qvals = [r["qvec"] for r in qrows]
    dims = {len(v) for v in qvals if v is not None}
    if len(dims) > 1:
        return None  # ragged query set: the caller's broadcast join
    dim = dims.pop() if dims else None
    qgood = np.array(
        [v is not None and dim is not None and len(v) == dim for v in qvals],
        dtype=bool,
    )
    if dim is not None and qgood.any():
        Q64 = np.stack(
            [np.asarray(v, dtype=np.float64) for v, g in zip(qvals, qgood) if g]
        )
        qn2 = np.zeros(Q64.shape[0], dtype=np.float64)
        for i in range(dim):
            qn2 += Q64[:, i] * Q64[:, i]

    src = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    id_type = src.schema["corpus_id"].dataType
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, True),
            StructField("corpus_id", id_type, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            cids = pdf["corpus_id"].reset_index(drop=True)
            cos = np.full((n, nq), np.nan, dtype=np.float64)
            null_mask = np.ones((n, nq), dtype=bool)  # True -> emit NULL
            vals = pdf["cvec"].tolist()
            good = np.array(
                [
                    v is not None and dim is not None and len(v) == dim
                    for v in vals
                ],
                dtype=bool,
            )
            if good.any() and qgood.any():
                V64 = np.stack(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v, g in zip(vals, good)
                        if g
                    ]
                )
                g = V64.shape[0]
                dots = np.zeros((g, Q64.shape[0]), dtype=np.float64)
                cn2 = np.zeros(g, dtype=np.float64)
                for i in range(dim):
                    dots += Q64[None, :, i] * V64[:, i, None]
                    cn2 += V64[:, i] * V64[:, i]
                with np.errstate(divide="ignore", invalid="ignore"):
                    denom = np.sqrt(qn2[None, :] * cn2[:, None])
                    vals_np = dots / denom
                # try_divide: NULL when the divisor is zero; nanvl: NULL
                # for any NaN result (the shared undefined-similarity
                # policy — see _cosine_expr). ±inf results (if a dot overflows
                # while the norms stay finite) pass through as IEEE.
                nm = (denom == 0.0) | np.isnan(vals_np)
                gi = np.flatnonzero(good)
                qi = np.flatnonzero(qgood)
                cos[np.ix_(gi, qi)] = vals_np
                null_mask[np.ix_(gi, qi)] = nm
            # query-major flatten matches the repeat/tile layout below
            cos_obj = cos.T.reshape(-1).astype(object)
            cos_obj[null_mask.T.reshape(-1)] = None
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(np.asarray(qids), n),
                    "corpus_id": np.tile(cids.to_numpy(), nq),
                    "cosine": cos_obj,
                }
            )

    return src.mapInPandas(score, out_schema)


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Top-k by SCALAR-QUANTIZED (int8) cosine — the memory-bound scale
    path: 4x smaller vectors than float32, and because cosine is
    scale-invariant the per-vector quantization scales cancel, leaving
    pure integer arithmetic (exact on both engines, no float folds).
    At 100 TB this is the standard first compression step before IVF/PQ:
    the corpus scan reads a quarter of the bytes. Approximation error is
    the quantization itself — recall vs the float scan is measured by
    ``llm_ann_recall``'s int8 arm.

    Quantization and the integer dots run in one Arrow pass
    (:func:`_int8_scored_np`); int64 dots are exact, and the only float
    ops (the elementwise quantize ladder and the final dot/sqrt(qn*cn)
    division) run the IEEE sequence the DuckDB oracle runs."""
    return _topk_by_cosine(_int8_scored_np(queries, corpus, id_col, vec_col), k)


def _int8_scored_np(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, corpus_id, cosine) for every pair, in the arithmetic
    of the SQL quantize-then-integer-dot the DuckDB oracle spells out:

    - quantize: ``floor(x*127/maxabs + 0.5)`` as an elementwise IEEE
      double sequence (float32 inputs widen exactly); ``max(abs(v))``
      propagates NaN over inf (NaN greatest); ``floor(NaN)`` -> 0 and
      ``floor(±inf)`` -> long saturation reproduce the JVM
      (long)(double) cast. A saturated (>127) code would overflow an
      ANSI BIGINT self-dot, so this pass raises ARITHMETIC_OVERFLOW
      instead of wrapping.
    - dots/norms: int64 matmul is exact integer arithmetic (codes <= 127
      so a dot fits with astronomic headroom; qn*cn fits BIGINT for any
      dim < ~7e5).
    - edge policy: NULL / empty / all-zero / NaN-scaled vectors have qn
      or cn not > 0 -> cosine 0.0; both norms positive but dimensions
      unequal -> NULL cosine (ranked last).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    def codes_of(v):
        # None -> None: qn stays NULL, the norm condition fails,
        # cosine 0.0
        if v is None:
            return None
        a = np.asarray(v, dtype=np.float64)
        if a.size == 0:
            return a.astype(np.int64)
        m = np.abs(a).max()
        if m == 0.0:
            return np.zeros(a.size, dtype=np.int64)
        with np.errstate(invalid="ignore", over="ignore", divide="ignore"):
            f = np.floor(a * 127.0 / m + 0.5)
        f = np.where(np.isnan(f), 0.0, f)
        if np.any(np.abs(f) > 127.0):
            # only an x*127 double overflow saturates past 127; an ANSI
            # BIGINT self-dot of that code overflows — honest error
            # instead of a wrap
            raise ArithmeticError(
                "[ARITHMETIC_OVERFLOW] long overflow in int8 cosine"
            )
        return f.astype(np.int64)

    def norm_of(c):
        return int(c @ c) if c is not None else None

    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect()  # bounded: the small-query-set contract of the broadcast
    qids = [r["query_id"] for r in qrows]
    nq = len(qids)
    qcodes = [codes_of(r["qvec"]) for r in qrows]
    qn = [norm_of(c) for c in qcodes]
    qpos = [i for i in range(nq) if qn[i] is not None and qn[i] > 0]
    qpos_arr = np.array(qpos, dtype=np.int64)
    qbuckets: dict[int, tuple] = {}
    for length in {qcodes[i].size for i in qpos}:
        idx = np.array([i for i in qpos if qcodes[i].size == length])
        qbuckets[length] = (
            idx,
            np.stack([qcodes[i] for i in idx]),
            np.array([qn[i] for i in idx], dtype=np.int64),
        )

    src = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, True),
            StructField("corpus_id", src.schema["corpus_id"].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            cids = pdf["corpus_id"].reset_index(drop=True)
            ccodes = [codes_of(v) for v in pdf["cvec"].tolist()]
            cn = [norm_of(c) for c in ccodes]
            cos = np.zeros((n, nq), dtype=np.float64)  # otherwise-0.0
            null_mask = np.zeros((n, nq), dtype=bool)
            cpos = [j for j in range(n) if cn[j] is not None and cn[j] > 0]
            if cpos and qpos:
                # both norms positive: NULL unless the dimensions
                # match, in which case the exact dot fills in
                null_mask[np.ix_(cpos, qpos_arr)] = True
                by_len: dict[int, list[int]] = {}
                for j in cpos:
                    by_len.setdefault(ccodes[j].size, []).append(j)
                for length, js in by_len.items():
                    if length not in qbuckets:
                        continue
                    qidx, qmat, qn_arr = qbuckets[length]
                    cmat = np.stack([ccodes[j] for j in js])
                    cn_arr = np.array([cn[j] for j in js], dtype=np.int64)
                    dots = (cmat @ qmat.T).astype(np.float64)
                    denom = np.sqrt(
                        (cn_arr[:, None] * qn_arr[None, :]).astype(np.float64)
                    )
                    ji = np.array(js)
                    cos[np.ix_(ji, qidx)] = dots / denom
                    null_mask[np.ix_(ji, qidx)] = False
            # query-major flatten matches the repeat/tile layout below
            cos_obj = cos.T.reshape(-1).astype(object)
            cos_obj[null_mask.T.reshape(-1)] = None
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(np.asarray(qids), n),
                    "corpus_id": np.tile(cids.to_numpy(), nq),
                    "cosine": cos_obj,
                }
            )

    return src.mapInPandas(score, out_schema)


def _with_buckets_np(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    bands: list[list[list[float]]],
) -> DataFrame:
    """Per-band LSH buckets in one mapInArrow pass emitting (out_id,
    {out_id}_vec, {out_id}_norm2, band, bucket), one row per band.

    Each bucket bit is ``fold(vec . plane) >= 0`` with the
    left-to-right float64 fold of ``_double_dot``, so signs are
    engine-exact (the DuckDB oracle inlines the same plane literals).
    Edge rules: a NULL vector, NULL element, or length mismatch vs the
    plane has no dot -> bit "0"; a NaN fold compares ``>= 0`` as TRUE
    under Spark's and DuckDB's NaN-greatest ordering -> bit "1" (numpy
    needs an explicit isnan OR); +inf -> "1". norm2 is the row's
    own-length self-fold: NULL for NULL vec/element, 0.0 for empty,
    NaN/inf kept. Requires uniform band width (``lsh_topk`` uses one
    planes_per_band)."""
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    widths = {len(b) for b in bands}
    if len(widths) != 1:
        raise ValueError("LSH bucketing requires uniform band width")
    w = widths.pop()
    nbands = len(bands)
    P = np.asarray([p for band in bands for p in band], dtype=np.float64)
    nplanes, pdim = P.shape

    src = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vid_vec"))
    out_schema = StructType(
        [
            StructField("vid", src.schema["vid"].dataType, True),
            StructField("vid_vec", src.schema["vid_vec"].dataType, True),
            StructField("vid_norm2", DoubleType(), True),
            StructField("band", IntegerType(), False),
            StructField("bucket", StringType(), False),
        ]
    )

    def buck(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            vid_arr = batch.column(0)
            vec_arr = batch.column(1)
            row_null = pc.is_null(vec_arr).to_numpy(zero_copy_only=False)
            lens = pc.list_value_length(vec_arr).to_numpy(zero_copy_only=False)
            lens = np.where(row_null, 0, lens).astype(np.int64)
            flat = vec_arr.flatten()
            flat64 = flat.cast(pa.float64()).to_numpy(zero_copy_only=False)
            flat_null = pc.is_null(flat).to_numpy(zero_copy_only=False)
            offs = np.concatenate([[0], np.cumsum(lens)])
            cs = np.concatenate([[0], np.cumsum(flat_null)])
            has_null_elem = (cs[offs[1:]] - cs[offs[:-1]]) > 0
            bad_row = row_null | has_null_elem
            norm2 = np.zeros(n, dtype=np.float64)
            bits = np.zeros((n, nplanes), dtype=bool)  # default bit "0"
            for ln in np.unique(lens[~bad_row]):
                ridx = np.flatnonzero(~bad_row & (lens == ln))
                idx_mat = offs[ridx][:, None] + np.arange(ln)[None, :]
                V = (
                    flat64[idx_mat]
                    if ln
                    else np.zeros((len(ridx), 0), dtype=np.float64)
                )
                norm2[ridx] = _fold_norm2_np(V)
                if ln == pdim and len(ridx):
                    dots = _fold_dot_np(V, P)
                    with np.errstate(invalid="ignore"):
                        # Spark's >= ranks NaN ABOVE every numeric
                        # (java.lang.Double.compare semantics), so a NaN
                        # fold takes the "1" branch — numpy's IEEE >= is
                        # False for NaN and needs the explicit OR.
                        bits[ridx] = (dots >= 0.0) | np.isnan(dots)
            # (n, nbands, w) '0'/'1' bytes, row-major -> one zero-copy
            # StringArray of n*nbands w-char buckets (row0 band0, row0
            # band1, ...).
            chars = np.where(bits, np.uint8(49), np.uint8(48)).reshape(-1)
            total = n * nbands
            offsets = np.arange(0, (total + 1) * w, w, dtype=np.int32)
            bucket_col = pa.StringArray.from_buffers(
                total,
                pa.py_buffer(offsets.tobytes()),
                pa.py_buffer(chars.tobytes()),
            )
            idx_rep = pa.array(np.repeat(np.arange(n, dtype=np.int64), nbands))
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(vid_arr, idx_rep),
                    pc.take(vec_arr, idx_rep),
                    pa.array(
                        np.repeat(norm2, nbands),
                        type=pa.float64(),
                        mask=np.repeat(bad_row, nbands),
                    ),
                    pa.array(
                        np.tile(np.arange(nbands, dtype=np.int32), n),
                        type=pa.int32(),
                    ),
                    bucket_col,
                ],
                names=["vid", "vid_vec", "vid_norm2", "band", "bucket"],
            )

    return src.mapInArrow(buck, out_schema).select(
        F.col("vid").alias(out_id),
        F.col("vid_vec").alias(f"{out_id}_vec"),
        F.col("vid_norm2").alias(f"{out_id}_norm2"),
        "band",
        "bucket",
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    bands: int = 2,
    planes_per_band: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane-sign bucket in at
    least one band; only candidates are scored. Bucket signatures and
    norm2 run in one :func:`_with_buckets_np` Arrow pass per side;
    candidate scoring stays in the JVM — it is bucket-sized, not
    corpus x planes."""
    all_planes = hyperplanes(dim, bands * planes_per_band, seed)
    band_planes = [
        all_planes[i * planes_per_band : (i + 1) * planes_per_band]
        for i in range(bands)
    ]
    q = _with_buckets_np(queries, id_col, vec_col, "query_id", band_planes)
    c = _with_buckets_np(corpus, id_col, vec_col, "corpus_id", band_planes)
    cands = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .dropDuplicates(["query_id", "corpus_id"])
        .select(
            "query_id",
            "corpus_id",
            _cosine_expr(
                "query_id_vec", "corpus_id_vec",
                "query_id_norm2", "corpus_id_norm2",
            ).alias("cosine"),
        )
    )
    return _topk_by_cosine(cands, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
    cent_rows: list | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: inverted-file cells from sampled
    centroids, queries probe the ``nprobe`` nearest cells.

    The coarse quantizer is a FIXED-SIZE deterministic pseudo-random
    sample: the ``n_centroids`` corpus rows with the smallest
    ``md5(id)`` (a takeOrdered — per-partition top-K then a driver merge
    of K-row heaps, one corpus scan, no shuffle). |centroids| is constant
    w.r.t. corpus size, so the centroid broadcast stays
    ``n_centroids × dim`` at any scale and cell assignment is
    O(n_centroids · |corpus|) distance evaluations — the linear-growth
    trap of a density-coupled sample (``id % every == 0``) cannot occur.
    FAISS-style k-means training would tighten the cells but its
    distributed mean updates are not bit-reproducible; a hash-ordered
    sample keeps the whole operator oracle-checkable. Every distance is a
    per-row double fold, so assignments are engine-exact.

    An empty corpus yields an empty centroid set and an empty result —
    the correct answer (no corpus, no neighbors); a non-empty corpus
    always yields min(n_centroids, |corpus|) centroids regardless of the
    id space (dense, sparse, offset), so the empty-join failure mode of a
    modulus-based sample cannot occur either.

    ``cent_rows`` (round 15): a pre-collected [(cent_id, cent_vec)]
    quantizer, the exact list :func:`_collect_cent_rows` returns — lets
    a caller that builds several IVF arms over the same corpus
    (llm_ann_recall: nprobe=3 and nprobe=12) pay the takeOrdered sample
    job ONCE instead of once per arm. Results are identical by
    construction (same sample definition). Without it the sample is
    collected at DataFrame-construction time, once per call.

    Scale shape: the collected centroids ride the assignment pass of
    the corpus scan and of the query set; the only shuffle of
    corpus-sized data is the equi-join on cell id — candidates per query
    are |probed cells| * cell size, never |corpus|. Exactly the FAISS IVF
    contract, expressed as DataFrame ops.
    """
    if cent_rows is None:
        cent_rows = _collect_cent_rows(
            _hash_sample(corpus, id_col, vec_col, n_centroids, "cent_id", "cent_vec")
        )
    return _ivf_with_cent_rows(
        queries, corpus, cent_rows, id_col, vec_col, k, nprobe,
        cent_id_type=corpus.schema[id_col].dataType,
    )


def _hash_sample(
    df: DataFrame, id_col: str, vec_col: str, n: int, out_id: str, out_vec: str
) -> DataFrame:
    """The ``n`` rows with the smallest md5(id): the repo's one
    deterministic fixed-size sample, shared by the exact IVF quantizer
    and the k-means trainer. The definition is load-bearing for oracle
    parity (the DuckDB oracle mirrors it literally) — change it HERE or
    the two paths and the oracle desynchronize. Compiles to takeOrdered:
    per-partition top-n + a driver merge of n-row heaps."""
    return (
        df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", out_id)
        .limit(n)
        .drop("_h")
    )


def _cent_norm_frame(cents: DataFrame) -> DataFrame:
    """(cent_id, cent_vec, cent_norm2) — centroid-count-sized, built for
    broadcast."""
    return _with_norm2(cents, "cent_id", "cent_vec", "cent_id").select(
        "cent_id", F.col("cent_id_vec").alias("cent_vec"),
        F.col("cent_id_norm2").alias("cent_norm2"),
    )


def _collect_cent_rows(cents: DataFrame) -> list:
    """Centroid frame -> driver-side [(cent_id, cent_vec)] for the Arrow
    assignment pass. Bounded by construction: every caller's ``cents``
    is centroid-count-sized (a takeOrdered sample or trained means)."""
    return [(r["cent_id"], r["cent_vec"]) for r in cents.collect()]


def _nearest_cells_np(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    n: int,
    cent_rows: list,
    cent_id_type=None,
) -> DataFrame:
    """(out_id, {out_id}_vec, {out_id}_norm2, cent_id) for the ``n``
    nearest cells of every row of ``df``: one mapInArrow pass that
    scores against every centroid and keeps the top ``n`` by (cosine
    DESC, cent_id) under :func:`_cosine_expr`'s NULL-for-undefined rule
    (``policy="cosine_null"``)."""
    assigned = _ivf_assign_np(
        df, id_col, vec_col, cent_rows, n, policy="cosine_null",
        cent_id_type=cent_id_type,
    )
    return assigned.select(
        F.col("vid").alias(out_id),
        F.col("vid_vec").alias(f"{out_id}_vec"),
        F.col("vid_norm2").alias(f"{out_id}_norm2"),
        "cent_id",
    )


def _ivf_with_cent_rows(
    queries: DataFrame,
    corpus: DataFrame,
    cent_rows: list,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    cent_id_type=None,
) -> DataFrame:
    """Shared IVF cell machinery over a collected quantizer list
    [(cent_id, cent_vec)]: assign corpus rows to their nearest
    centroid, probe the ``nprobe`` nearest cells per query, exact-score
    only same-cell candidates. The candidate re-rank stays in the JVM:
    it is |probed cells| x cell-sized, not corpus x centroids."""
    c = _nearest_cells_np(
        corpus, id_col, vec_col, "corpus_id", 1, cent_rows,
        cent_id_type=cent_id_type,
    )
    q = _nearest_cells_np(
        queries, id_col, vec_col, "query_id", nprobe, cent_rows,
        cent_id_type=cent_id_type,
    )
    return _ivf_topk_tail(c, q, k)


def _ivf_topk_tail(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Candidate join on cell id + exact cosine re-rank (the IVF tail
    shared by the static and incremental index shapes)."""
    cands = (
        c.join(F.broadcast(q), "cent_id")
        .select(
            "query_id",
            "corpus_id",
            _cosine_expr(
                "query_id_vec", "corpus_id_vec",
                "query_id_norm2", "corpus_id_norm2",
            ).alias("cosine"),
        )
    )
    # No dedup needed: each corpus vector lives in exactly one cell
    # (rank<=1) and a query probes distinct cells, so a (query, corpus)
    # pair arises at most once — a dropDuplicates here would be a wasted
    # full shuffle of the candidate set.
    return _topk_by_cosine(cands, k)


def ivf_incremental_topk(
    queries: DataFrame,
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
    checkpoint_static: bool = True,
    deletes: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Top-k ANN maintenance under updates (round 9 — VERDICT r8 task 5):
    serve queries over ``corpus ∪ delta`` WITHOUT re-clustering or
    re-assigning the static corpus.

    The index (centroids + static cell assignment) derives from
    ``corpus`` alone; arriving ``delta`` rows are assigned to the
    EXISTING cells — O(|delta| · n_centroids) distance evaluations, the
    incremental contract of every production ANN index (FAISS add(),
    not train()) — and the merged inverted file serves the probe join.
    At 100 TB this is the difference between an hourly delta costing
    minutes and costing a full-corpus rebuild.

    ``checkpoint_static=True`` localCheckpoints the static assignment,
    the materialized-inverted-file stand-in: the query probe and any
    subsequent delta batch reuse the materialization instead of
    replaying the corpus-sized assignment scan (plan-guarded in
    tests/test_plans.py).

    Correctness shape: because centroids come only from the static
    corpus, assign(static) ∪ assign(delta) ≡ assign(static ∪ delta)
    under the same centroid set — the batch-equality test pins it, and
    the DuckDB oracle expresses the union literally.

    ``deletes`` (optional, an id frame) is the other half of index
    maintenance: tombstoned vectors are removed at SERVE time by one
    left-anti join on the inverted file — centroids and surviving
    assignments are untouched, exactly how production ANN stores handle
    deletion (FAISS remove_ids / tombstone lists) without a rebuild.
    The tombstone side is id-only and typically broadcast-sized.

    ``cents`` (optional, a (cent_id, cent_vec) frame) overrides the
    default hash-sampled quantizer — the hook
    :func:`ivf_incremental_kmeans_topk` uses to run THIS maintenance
    machinery under a TRAINED quantizer (production FAISS =
    k-means-trained quantizer + add()/remove_ids). Must derive from the
    static corpus only, or the assign(static) ∪ assign(delta) ≡
    assign(static ∪ delta) equality breaks.

    NOTE: builds eagerly — the centroid frame is collected at
    DataFrame-construction time, once per call, not lazily at action
    time. The collected rows ARE the persisted quantizer.
    """
    if cents is None:
        cents = _hash_sample(
            corpus, id_col, vec_col, n_centroids, "cent_id", "cent_vec"
        )
    cent_rows = _collect_cent_rows(cents)
    ctype = cents.schema["cent_id"].dataType
    static_assign = _nearest_cells_np(
        corpus, id_col, vec_col, "corpus_id", 1, cent_rows, cent_id_type=ctype
    )
    if checkpoint_static:
        static_assign = static_assign.localCheckpoint()
    delta_assign = _nearest_cells_np(
        delta, id_col, vec_col, "corpus_id", 1, cent_rows, cent_id_type=ctype
    )
    merged = static_assign.unionByName(delta_assign)
    if deletes is not None:
        tomb = deletes.select(F.col(id_col).alias("corpus_id")).distinct()
        merged = merged.join(F.broadcast(tomb), "corpus_id", "left_anti")
    q = _nearest_cells_np(
        queries, id_col, vec_col, "query_id", nprobe, cent_rows,
        cent_id_type=ctype,
    )
    return _ivf_topk_tail(merged, q, k)


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 8,
) -> list[list[float]]:
    """Train a bounded-sample k-means coarse quantizer (the production
    IVF path; FAISS trains exactly this way).

    The training sample is the ``sample_size`` corpus rows with the
    smallest md5(id) — the same deterministic hash-order sample the exact
    IVF uses, so training is reproducible across runs and partitionings.
    The driver-side collect is BOUNDED by sample_size (2048 x dim floats,
    ~1 MB), never by corpus size — this is the one place a quantizer
    genuinely wants a driver-side loop, mirroring how warehouse engines
    train sketches on bounded samples. Lloyd iterations run in numpy with
    spherical (cosine) assignment; empty clusters keep their previous
    centroid so the count never collapses.

    FOLD DISCIPLINE (round 15): every accumulation — norms, assignment
    dots, cluster means — runs as a strict LEFT-TO-RIGHT float64 fold
    (dims in index order, members in sample order), NOT BLAS matmul /
    numpy pairwise summation. That makes the whole trained fixpoint the
    same order-fixed IEEE sequence DuckDB's ``list_reduce`` performs, so
    the k-means queries became oracle-checkable (the unrolled Lloyd CTE
    chain in queries/llm_similarity.py re-derives bit-identical
    centroids). Probed before switching: on every fixture SF the fold
    ordering produces assignments AND final centroids bit-identical to
    the previous BLAS/pairwise arithmetic (min argmax decision gap
    >= 1.8e-6, ten orders above ulp noise), so registered outputs are
    unchanged; the sequential fold costs microseconds at the bounded
    sample size.
    """
    import numpy as np

    rows = _hash_sample(corpus, id_col, vec_col, sample_size, "i", "v").collect()
    if not rows:
        return []
    X = np.asarray([list(r.v) for r in rows], dtype=np.float64)
    xnorm = np.sqrt(_fold_norm2_np(X))
    Xn = X / np.maximum(xnorm[:, None], 1e-12)
    k = min(n_centroids, len(X))
    C = X[:k].copy()  # deterministic init: first k in hash order
    for _ in range(iters):
        cnorm = np.sqrt(_fold_norm2_np(C))
        Cn = C / np.maximum(cnorm[:, None], 1e-12)
        assign = np.argmax(_fold_dot_np(Xn, Cn), axis=1)
        for j in range(k):
            idx = np.flatnonzero(assign == j)
            if len(idx):
                # left fold over members in sample order (== the oracle's
                # list(x[d] ORDER BY i) fold), then one division
                acc = np.zeros(X.shape[1], dtype=np.float64)
                for r in idx:
                    acc = acc + X[r]
                C[j] = acc / len(idx)
    return [c.tolist() for c in C]


def ivf_kmeans_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
    sample_size: int = 2048,
    iters: int = 8,
    cents_local: list | None = None,
) -> DataFrame:
    """IVF-flat with a trained k-means quantizer — the production variant
    of :func:`ivf_topk` (tighter cells -> better recall per probe). Same
    cell machinery, same O(n_centroids * |corpus|) assignment bound. The
    trained centroids are order-fixed folds (see
    :func:`kmeans_centroids`), so since round 15 the registered query is
    hash-checked against an unrolled-Lloyd DuckDB oracle on top of the
    standing property tests. NOTE: builds eagerly — the bounded training
    sample is collected at DataFrame-construction time (re-executed per
    call), not lazily at action time. ``cents_local`` (round 15): a
    pre-trained centroid list (exactly :func:`kmeans_centroids`'s
    return) so multi-arm callers (llm_ann_recall_kmeans: nprobe=3 and
    12) train once instead of once per arm — identical results by
    construction."""
    from pyspark.sql.types import LongType

    if cents_local is None:
        cents_local = kmeans_centroids(
            corpus, id_col, vec_col, n_centroids, sample_size, iters
        )
    # trained cent_ids are the list positions: long whatever the corpus
    # id type (the cent_id type of kmeans_cents_frame)
    return _ivf_with_cent_rows(
        queries, corpus, list(enumerate(cents_local)), id_col, vec_col, k,
        nprobe, cent_id_type=LongType(),
    )


def kmeans_cents_frame(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 8,
) -> DataFrame:
    """The trained k-means quantizer as a (cent_id, cent_vec) frame —
    the handoff to the incremental maintenance path and the streaming
    index."""
    cents_local = kmeans_centroids(
        corpus, id_col, vec_col, n_centroids, sample_size, iters
    )
    return local_frame(
        corpus.sparkSession,
        list(enumerate(cents_local)),
        "cent_id long, cent_vec array<double>",
    )


def ivf_incremental_kmeans_topk(
    queries: DataFrame,
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
    sample_size: int = 2048,
    iters: int = 8,
    checkpoint_static: bool = True,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """The production ANN maintenance composition (round 10 — VERDICT r9
    task 1): a TRAINED k-means coarse quantizer (:func:`kmeans_centroids`,
    bounded-sample Lloyd — FAISS train()) serving the INCREMENTAL
    add/delete machinery (:func:`ivf_incremental_topk` — FAISS add() /
    remove_ids). Centroids train on the STATIC corpus only, so the
    incremental equality assign(static) ∪ assign(delta) ≡
    assign(static ∪ delta) holds under the trained cells exactly as it
    does under the sampled ones; delta maintenance stays
    O(|delta| · n_centroids) with no re-train, no re-assignment, no
    rebuild. Trained means are order-fixed folds (see
    :func:`kmeans_centroids`), so since round 15 the registered query is
    hash-checked against an unrolled-Lloyd DuckDB oracle; batch equality
    vs the full trained scan, a recall floor, and the
    static-not-rescanned plan guard pin it in tests (the same evidence
    set as llm_knn_ivf_kmeans)."""
    cents = kmeans_cents_frame(
        corpus, id_col, vec_col, n_centroids, sample_size, iters
    )
    return ivf_incremental_topk(
        queries, corpus, delta, id_col, vec_col,
        k=k, n_centroids=n_centroids, nprobe=nprobe,
        checkpoint_static=checkpoint_static, deletes=deletes, cents=cents,
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    m_subs: int = 8,
    ksub: int = 16,
    dim: int = 64,
    cb_entries: list | None = None,
) -> DataFrame:
    """Product-quantization ADC top-k — the canonical memory-bound ANN
    scan at 100 TB (FAISS IVFPQ's scoring stage, here over a flat index).

    ``cb_entries`` (round 15): a pre-collected codebook entry list (the
    ``cbook`` structs of :func:`_pq_codebook`) — lets a caller sharing
    one corpus across several PQ arms (llm_ann_recall: pq + ivfpq) pay
    the codebook build/collect job once; identical results by
    construction. NOTE: builds eagerly — the bounded codebook collect
    runs at DataFrame-construction time, once per call, not lazily at
    action time.

    The vector space is split into ``m_subs`` subspaces of dim/m_subs
    dims. Each subspace has a ``ksub``-entry codebook; a corpus vector is
    stored as ``m_subs`` small codes (here 8 codes of 4 bits — a 16x
    compression of a 64-dim float32 vector). Queries stay exact: each
    query precomputes a lookup table LUT[m][j] = <q_sub_m, centroid_j
    sub_m>, and scoring a corpus row is m_subs table lookups + adds —
    no float vector is ever touched in the scan. Cosine uses the
    RECONSTRUCTED corpus norm (sum of chosen centroid-subvector norms),
    exactly what an ADC index stores.

    Codebooks: like :func:`ivf_topk`'s coarse quantizer, subspace
    codebooks are the sub-vectors of the ``ksub`` corpus rows with the
    smallest md5(id) (``_hash_sample``) — fixed-size, deterministic, and
    SQL-re-derivable, which keeps the WHOLE operator oracle-checkable
    (k-means-trained codebooks would be rows-only; the sampled ones pin
    the machinery bit-exactly). Every distance/dot is an order-fixed
    fold; the argmin tiebreak is (distance, codebook index).

    Scale shape: the codebook is one broadcast row (ksub x dim doubles);
    encoding is a narrow map over the corpus scan; queries (with LUTs)
    broadcast; the only shuffle is the per-query top-k window over
    scored rows — identical to brute_force_topk's plan but over codes
    instead of vectors.
    """
    # ONE codebook build + ONE bounded collect shared by the encode pass
    # and the LUT pass
    dsub = dim // m_subs
    if cb_entries is None:
        cb_entries = _pq_codebook_entries(
            corpus, id_col, vec_col, ksub, m_subs, dsub
        )
    ccodes = _pq_encode_np(
        corpus, id_col, vec_col, m_subs, ksub, dim, cb_entries=cb_entries
    )
    qlut = _pq_luts_np(queries, id_col, vec_col, cb_entries, m_subs, dsub)
    scored = _adc_scored(ccodes.crossJoin(F.broadcast(qlut)), m_subs)
    return _topk_by_cosine(scored, k)


def _pq_codebook(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    ksub: int,
    m_subs: int | None = None,
    dsub: int | None = None,
) -> DataFrame:
    """One-row broadcastable codebook frame: the ksub md5-smallest corpus
    rows with a dense index j in the same md5 order the sample used.

    When ``m_subs``/``dsub`` are given, each entry also carries ``n2s``
    — the per-subspace centroid self-dots — precomputed HERE, in the
    ksub-row codebook build, instead of inside the per-corpus-row argmin
    transform. The r8 profile showed the encode scan re-deriving every
    entry's self-dot per corpus row (m_subs x ksub redundant dsub-dim
    folds per row); hoisting them into the broadcast is free at build
    time and removes half the expression tree from the 100 TB-side scan
    (measured: llm_knn_pq 4.55s -> see BASELINE round-8 notes).

    NULL vectors are excluded from the sample: a NULL cent_vec inside
    the collect_list struct NPEs Spark's UnsafeProjection during
    array_sort (hit by the bad-row edge tests), and a NULL
    codebook entry could never be a meaningful centroid anyway. Clean
    corpora sample identically."""
    cents = _hash_sample(
        corpus.filter(F.col(vec_col).isNotNull()),
        id_col, vec_col, ksub, "cent_id", "cent_vec",
    )
    wj = Window.orderBy(F.md5(F.col("cent_id").cast("string")), "cent_id")
    cents = cents.select(
        (F.row_number().over(wj) - 1).alias("j"), "cent_vec"
    )
    entry_cols = [F.col("j"), F.col("cent_vec")]
    if m_subs is not None:
        assert dsub is not None
        # one parsed expression for the m_subs self-dot folds (round 15:
        # the DSL build of this array cost ~1300 py4j round-trips)
        subs = ", ".join(
            _dot_sql(
                f"slice(cent_vec, {m * dsub + 1}, {dsub})",
                f"slice(cent_vec, {m * dsub + 1}, {dsub})",
            )
            for m in range(m_subs)
        )
        entry_cols.append(F.expr(f"array({subs})").alias("n2s"))
    return cents.groupBy().agg(
        F.array_sort(F.collect_list(F.struct(*entry_cols))).alias("cbook")
    )


def _pq_codebook_entries(
    corpus: DataFrame, id_col: str, vec_col: str, ksub: int, m_subs: int,
    dsub: int,
) -> list:
    """The ``cbook`` structs of :func:`_pq_codebook` on the driver —
    bounded: one row of <= ksub entries."""
    cb_rows = _pq_codebook(
        corpus, id_col, vec_col, ksub, m_subs=m_subs, dsub=dsub
    ).collect()
    return list(cb_rows[0]["cbook"]) if cb_rows else []


def _pq_encode_np(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m_subs: int,
    ksub: int,
    dim: int,
    cents_arr: DataFrame | None = None,
    cb_entries: list | None = None,
) -> DataFrame:
    """Corpus scan -> (corpus_id, codes, recon_norm2 [, cent_id]): m_subs
    L2 argmins per row over the collected codebook, in one mapInPandas
    pass — including the coarse-cell assignment when ``cents_arr`` is
    given, so ivfpq needs no second corpus scan.

    Arithmetic (hash-checked against the DuckDB oracle's SQL folds):
      * code argmin: per-subspace L2 subtracts/multiplies in the
        column's element type (float32 for array<float>) and
        accumulates left-to-right into a float64 seeded 0.0; ties break
        to the smallest codebook index (np.argmin first-minimum, cbook
        sorted by j).
      * recon_norm2: left-associated sum of the chosen entries' n2s,
        the n2 values taken VERBATIM from the collected codebook (they
        are computed once in Spark, not re-derived here).
      * cell argmax: dots/norms are float64 folds over double-cast
        elements (``_double_dot``), negsim = -(dot/sqrt(vnorm*cnorm2));
        NaN cells (zero norms) rank last (Spark's NaN-greatest struct
        ordering), equal-NaN ties resolving to the smallest cent_id.
    Bad-row policy: a NULL, wrong-length, or non-finite-element CORPUS
    vector gets NULL codes/recon_norm2/cent_id; a malformed SAMPLED
    codebook/centroid entry is dropped (its surviving neighbors keep
    their original j / cent_id). Fixtures contain only clean vectors.

    Scale shape: the codebook (ksub rows) and centroid array are bounded
    driver collects; the corpus streams through one Arrow pass,
    ~n*dim*ksub flops per batch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import FloatType

    dsub = dim // m_subs
    assert dsub * m_subs == dim, "dim must divide evenly into subspaces"
    # (x-y)*(x-y) in the COLUMN'S element type before the float64
    # accumulate: float32 arithmetic for array<float>, float64 otherwise.
    elem_np = (
        np.float32
        if isinstance(corpus.schema[vec_col].dataType.elementType, FloatType)
        else np.float64
    )
    def _valid_vec(v) -> bool:
        return (
            v is not None
            and len(v) == dim
            and bool(np.isfinite(np.asarray(v, dtype=np.float64)).all())
        )

    if cb_entries is None:
        cb_entries = _pq_codebook_entries(
            corpus, id_col, vec_col, ksub, m_subs, dsub
        )
    # malformed sampled entries (NULL / wrong-length / non-finite) are
    # DROPPED here, keeping the surviving entries' original j indices —
    # a NULL distance would otherwise win every argmin.
    entries = [e for e in cb_entries if _valid_vec(e["cent_vec"])]
    n_entries = len(entries)
    J = np.array([e["j"] for e in entries], dtype=np.int64).reshape(n_entries)
    CB32 = np.array(
        [e["cent_vec"] for e in entries], dtype=elem_np
    ).reshape(n_entries, dim)
    N2 = np.array([e["n2s"] for e in entries], dtype=np.float64).reshape(
        n_entries, m_subs
    )

    with_cell = cents_arr is not None
    if with_cell:
        crows = cents_arr.collect()  # bounded: one row of n_centroids structs
        cents = [
            c for c in (list(crows[0]["cents"]) if crows else [])
            if _valid_vec(c["cent_vec"])
        ]
        C64 = np.array(
            [c["cent_vec"] for c in cents], dtype=elem_np
        ).astype(np.float64).reshape(len(cents), dim)
        CN2 = np.array([c["cent_norm2"] for c in cents], dtype=np.float64)
        CIDS = [c["cent_id"] for c in cents]

    # Static schema (codes elements are the IntegerType
    # row_number-derived j; recon_norm2 a double sum) with every field
    # nullable: the bad-row policy emits NULLs, and a None in a
    # non-nullable array field NPEs UnsafeProjection. Pinned by a
    # literal-schema test.
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_type = corpus.schema[id_col].dataType
    fields = [
        StructField("corpus_id", id_type, True),
        StructField("codes", ArrayType(IntegerType(), True), True),
        StructField("recon_norm2", DoubleType(), True),
    ]
    if with_cell:
        fields.append(StructField("cent_id", id_type, True))
    out_schema = StructType(fields)

    def encode(batches):
        for pdf in batches:
            n = len(pdf)
            out = {
                # positional alignment with the list columns below,
                # whatever index the Arrow bridge handed us
                "corpus_id": pdf["corpus_id"].reset_index(drop=True),
                "codes": [None] * n,
                "recon_norm2": [None] * n,
            }
            if with_cell:
                out["cent_id"] = [None] * n
            vals = pdf["cvec"].tolist()
            good = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            if good.any() and n_entries:
                V32 = np.stack(
                    [np.asarray(v, dtype=elem_np) for v, g in zip(vals, good) if g]
                )
                finite = np.isfinite(V32).all(axis=1)
                good[np.flatnonzero(good)[~finite]] = False
                V32 = V32[finite]
            if good.any() and n_entries:
                g = V32.shape[0]
                pos = np.empty((g, m_subs), dtype=np.int64)
                for m in range(m_subs):
                    off = m * dsub
                    D = np.zeros((g, n_entries), dtype=np.float64)
                    for i in range(dsub):
                        d32 = V32[:, off + i, None] - CB32[None, :, off + i]
                        D += d32 * d32  # elem-dtype product, float64 accumulate
                    pos[:, m] = D.argmin(axis=1)
                recon = N2[pos[:, 0], 0].copy()
                for m in range(1, m_subs):
                    recon += N2[pos[:, m], m]
                codes = J[pos]  # original codebook indices, not positions
                gi = np.flatnonzero(good)
                for row, ci in enumerate(gi):
                    out["codes"][ci] = codes[row].astype(np.int32)
                    out["recon_norm2"][ci] = float(recon[row])
                if with_cell and len(CIDS):
                    V64 = V32.astype(np.float64)
                    dots = np.zeros((g, len(CIDS)), dtype=np.float64)
                    vn = np.zeros(g, dtype=np.float64)
                    for i in range(dim):
                        dots += V64[:, i, None] * C64[None, :, i]
                        vn += V64[:, i] * V64[:, i]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        negsim = -(dots / np.sqrt(vn[:, None] * CN2[None, :]))
                    negsim = np.where(np.isnan(negsim), np.inf, negsim)
                    cidx = negsim.argmin(axis=1)
                    for row, ci in enumerate(gi):
                        out["cent_id"][ci] = CIDS[int(cidx[row])]
            yield pd.DataFrame(out)

    src = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    return src.mapInPandas(encode, out_schema)


def _pq_luts_np(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cb_entries: list,
    m_subs: int,
    dsub: int,
) -> DataFrame:
    """Query side of ADC: (query_id, lut, qnorm2) over a pre-collected
    codebook — LUT[m][j] is the exact dot of the query's m-th subvector
    with codebook entry j. One mapInArrow pass (the LUTs are
    query-count-sized, so building them must cost no py4j work per
    entry).

    ``lut[m][j] = fold(slice(qvec, m*dsub+1, dsub) .
    slice(cbook[j].cent_vec, ...))`` where the fold is the strict
    left-to-right float64 sequence of ``_double_dot``. Slices of
    UNEQUAL length yield NULL; slices of equal length fold over that
    length (two slices past both vectors' ends are empty -> 0.0); a
    NULL vector or NULL element gives NULL; NaN/inf run plain IEEE
    arithmetic. ``qnorm2`` is the query's own-length self-fold. The
    codebook entries are used IN ARRAY ORDER (array_sort by j), so
    malformed entries stay positionally aligned with ADC's element_at.

    Emits via ``mapInArrow``: building the record batches straight in
    pyarrow keeps a NaN lut/qnorm2 distinct from NULL (a mapInPandas
    return would collapse it to NULL and rank a NaN query's candidates
    last instead of first)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    ents = [
        None if e["cent_vec"] is None else list(e["cent_vec"])
        for e in cb_entries
    ]

    def _sl(v, m):
        return None if v is None else v[m * dsub : (m + 1) * dsub]

    def _fold(a, b):
        # zip_with pads to max length with NULL -> NULL product -> NULL
        # fold; equal lengths fold left-to-right in float64.
        if a is None or b is None or len(a) != len(b):
            return None
        acc = 0.0
        for x, y in zip(a, b):
            if x is None or y is None:
                return None
            acc = acc + float(x) * float(y)
        return acc

    out_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, True),
            StructField("lut", ArrayType(ArrayType(DoubleType(), True), True), True),
            StructField("qnorm2", DoubleType(), True),
        ]
    )
    src = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )

    def luts(batches):
        import pyarrow as pa

        for batch in batches:
            lut_col, qn_col = [], []
            for q in batch.column(1).to_pylist():
                lut_col.append(
                    [
                        [_fold(_sl(q, m), _sl(e, m)) for e in ents]
                        for m in range(m_subs)
                    ]
                )
                qn_col.append(_fold(q, q))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(lut_col, type=pa.list_(pa.list_(pa.float64()))),
                    pa.array(qn_col, type=pa.float64()),
                ],
                names=["query_id", "lut", "qnorm2"],
            )

    return src.mapInArrow(luts, out_schema)


def _adc_scored(pairs: DataFrame, m_subs: int) -> DataFrame:
    """(codes, recon_norm2, lut, qnorm2) pairs -> ADC cosine: m_subs table
    lookups + adds, normalized by the reconstructed corpus norm."""
    # one parsed expression for the whole lookup-add chain (round 15):
    # the Column-DSL build cost ~760 py4j round-trips per call
    adc = " + ".join(
        f"element_at(element_at(lut, {m + 1}), "
        f"CAST(element_at(codes, {m + 1}) AS INT) + 1)"
        for m in range(m_subs)
    )
    return pairs.select(
        "query_id",
        "corpus_id",
        F.expr(
            f"CASE WHEN qnorm2 > 0 AND recon_norm2 > 0 "
            f"THEN ({adc}) / sqrt(qnorm2 * recon_norm2) "
            f"ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("cosine"),
    )


def _topk_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """Top-k rows per query_id by (cosine DESC, corpus_id) with their
    1-based rank: the one ranking every top-k search path shares."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def _exact_rerank(
    short: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Rescore a (query_id, corpus_id) shortlist with the exact cosine
    fold and re-rank top-k. The shortlist is broadcast back against the
    corpus scan, so exact vectors are read for a bounded candidate set
    and the corpus never shuffles."""
    c = _with_norm2(corpus, id_col, vec_col, "corpus_id")
    q = _with_norm2(queries, id_col, vec_col, "query_id")
    exact = (
        c.join(F.broadcast(short.select("query_id", "corpus_id")), "corpus_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "corpus_id",
            _cosine_expr(
                "query_id_vec", "corpus_id_vec",
                "query_id_norm2", "corpus_id_norm2",
            ).alias("cosine"),
        )
    )
    return _topk_by_cosine(exact, k)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
    m_subs: int = 8,
    ksub: int = 16,
    dim: int = 64,
    shortlist: int = 50,
    cb_entries: list | None = None,
) -> DataFrame:
    """IVF + PQ + exact rerank — the composed FAISS-IVFPQ(+refine)
    architecture, the standard memory-bound billion-scale ANN index:

    1. COARSE: corpus rows are assigned to their nearest of
       ``n_centroids`` inverted-file cells; queries probe ``nprobe``
       cells. Candidates = same-cell pairs (never the whole corpus).
    2. ADC: candidates are scored from ``m_subs`` PQ codes via the
       query's lookup table — the scan touches codes, not vectors.
       (Codes quantize the raw vector, not the cell residual —
       FAISS's by_residual=False variant — which keeps every quantity
       SQL-re-derivable.)
    3. REFINE: the ADC top-``shortlist`` per query is rescored with the
       exact cosine fold, so the final ordering is exact over the
       shortlist.

    One corpus scan computes BOTH the cell assignment and the PQ codes,
    in one vectorized Arrow pass (:func:`_pq_encode_np`). The only
    corpus-sized shuffle left is the bounded top-k window. Deterministic
    end to end — the whole three-stage index is hash-checked against
    the DuckDB oracle.
    """
    # broadcastable coarse-centroid array (one row, n_centroids structs)
    cents = _hash_sample(
        corpus, id_col, vec_col, n_centroids, "cent_id", "cent_vec"
    ).select(
        "cent_id",
        "cent_vec",
        _double_dot_expr("cent_vec", "cent_vec").alias("cent_norm2"),
    )
    cents_arr = cents.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cent_norm2"))
        ).alias("cents")
    )

    # corpus: codes + recon norm + cell id, all from ONE scan; a
    # caller-supplied cb_entries (llm_ann_recall shares it with the pq
    # arm) skips the codebook job
    if cb_entries is None:
        cb_entries = _pq_codebook_entries(
            corpus, id_col, vec_col, ksub, m_subs, dim // m_subs
        )
    ccodes = _pq_encode_np(
        corpus, id_col, vec_col, m_subs, ksub, dim,
        cents_arr=cents_arr, cb_entries=cb_entries,
    )

    # queries: probe list (nprobe nearest cells) + ADC LUT. The probe
    # tree is ONE parsed SQL expression (round 15): the Column-DSL HOF
    # build cost ~800 py4j round-trips PER CALL (~0.3 s of the arm's
    # build term measured in the llm_ann_recall profile); F.expr parses
    # the identical aggregate/zip_with/array_sort ladder in one trip.
    # Equivalence is pinned by the DuckDB oracle hash.
    qbase = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).crossJoin(F.broadcast(cents_arr))
    qq = _dot_sql("qvec", "qvec")
    qc = _dot_sql("qvec", "ct.cent_vec")
    probes = qbase.select(
        "query_id",
        F.expr(
            f"""explode(transform(slice(array_sort(transform(cents,
            ct -> named_struct(
              'negsim', -({qc}) / sqrt(({qq}) * ct.cent_norm2),
              'cent_id', ct.cent_id))), 1, {int(nprobe)}),
            s -> s.cent_id))"""
        ).alias("cent_id"),
    )
    qlut = _pq_luts_np(
        queries, id_col, vec_col, cb_entries, m_subs, dim // m_subs
    )
    qside = probes.join(F.broadcast(qlut), "query_id")

    # candidates = same-cell pairs, scored by ADC, top-L shortlist
    pairs = ccodes.join(F.broadcast(qside), "cent_id")
    short = _topk_by_cosine(_adc_scored(pairs, m_subs), shortlist)
    return _exact_rerank(short, queries, corpus, id_col, vec_col, k)


def pq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    shortlist: int = 200,
    m_subs: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """PQ-ADC shortlist + exact rerank — the production two-stage scan
    (FAISS's IVFPQR / "refine" pattern). Stage 1 runs :func:`pq_topk`
    over codes only to produce a per-query shortlist of ``shortlist``
    candidates; stage 2 fetches the exact vectors for ONLY those
    candidates and rescores them with the exact cosine fold, so the
    final top-k ordering is exact over the shortlist.

    Why this exists: with tiny untrained codebooks the raw ADC ordering
    is coarse (recall@5 ~0.2-0.5 on near-random synthetic embeddings),
    but the exact top-5 almost always survives inside an ADC top-200 —
    reranking lifts recall@5 to ~0.9 while the full-vector work stays
    O(|Q| * shortlist) instead of O(|Q| * |corpus|).

    Scale shape: stage 1 touches only codes (16x compressed scan); the
    shortlist (|Q| * shortlist rows of ids) is BROADCAST back against
    the corpus scan, so exact vectors are read for a bounded candidate
    set and the corpus never shuffles. Fully hash-checkable: the exact
    rescore uses the same fold as brute_force_topk, so results equal
    "brute force restricted to the ADC shortlist" bit-for-bit.
    """
    short = pq_topk(
        queries, corpus, id_col, vec_col,
        k=shortlist, m_subs=m_subs, ksub=ksub, dim=dim,
    )
    return _exact_rerank(short, queries, corpus, id_col, vec_col, k)


def _fold_dot_np(A, B):
    """Pairwise dot matrix |A| x |B| as a strict left-to-right float64
    accumulation along the dimension axis — per (i, j) the additions run
    d=0,1,2,..., the exact IEEE sequence ``_double_dot`` (and DuckDB's
    ``list_reduce``) performs, so the results are bit-identical to the
    JVM and oracle folds."""
    import numpy as np

    dots = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for d in range(A.shape[1]):
        dots += A[:, d, None] * B[None, :, d]
    return dots


def _fold_norm2_np(A):
    """Row-wise self-dot with the same left-to-right fold as above."""
    import numpy as np

    n2 = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        n2 += A[:, d] * A[:, d]
    return n2


def _vec_class(v):
    """(kind, length): 'null' = no dot is ever defined vs ANY vector
    (NULL vec or a NULL element — zip_with's NULL poisons every fold,
    including the self-dot), 'ok' = stackable floats (NaN/inf allowed:
    they run plain IEEE arithmetic)."""
    if v is None:
        return ("null", -1)
    lst = list(v)
    if any(e is None for e in lst):
        return ("null", -1)
    return ("ok", len(lst))


def _ivf_assign_np(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cent_rows: list,
    nassign: int,
    policy: str = "raw",
    cent_id_type=None,
) -> DataFrame:
    """The flat IVF assignment (corpus x centroids scoring + per-vid
    top-``nassign`` by (csim DESC, cent_id)) in one mapInArrow pass that
    emits (vid, vid_vec, vid_norm2, cent_id). Bit-identical to the JVM
    broadcast-join assignment :func:`_ivf_assign_expr` under
    ``policy="raw"``, including every edge case:

    - ``policy="raw"`` (the near-dup scorer): csim is the RAW
      ``dot/sqrt(norm2_v*norm2_c)`` (no try_divide, no nanvl): a zero
      divisor raises, exactly like ANSI's DIVIDE_BY_ZERO kills the JVM
      plan; NaN csims sort FIRST under the desc window (Double.compare).
    - ``policy="cosine_null"`` (the top-k ladder): csim is
      :func:`_cosine_expr`'s ``nanvl(try_divide(dot, sqrt(...)), NULL)``
      — a zero divisor OR a NaN result yields NULL (one rule for every
      undefined similarity, ranked last); the division runs the same
      IEEE sequence and only its NULL-replacement policy differs from
      "raw".
    - ordering is Spark's ``desc(csim), cent_id``: NaN above +inf above
      finite, NULLs last (a NULL csim = NULL vec / NULL element /
      length-mismatched fold);
    - ties break by ascending cent_id (centroids are pre-sorted so a
      STABLE argsort inherits the tie-break);
    - vid_norm2 is the self-fold over the row's OWN length (a clean
      wrong-length vector has a real norm2 and can still pair with
      same-length rows downstream — only its csim vs the standard-dim
      centroids is NULL).
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    if policy not in ("raw", "cosine_null"):
        raise ValueError(f"unknown policy {policy!r}")
    src = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vid_vec"))
    # cent_id carries the CENTROID frame's id type when the caller knows
    # it: a trained-k-means quantizer has long cent_ids by construction,
    # whatever the corpus id type
    cent_type = cent_id_type or src.schema["vid"].dataType
    out_schema = StructType(
        [
            StructField("vid", src.schema["vid"].dataType, True),
            StructField("vid_vec", src.schema["vid_vec"].dataType, True),
            StructField("vid_norm2", DoubleType(), True),
            StructField("cent_id", cent_type, True),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_type

    cent_arrow_type = to_arrow_type(cent_type)
    cents = sorted(cent_rows, key=lambda r: r[0])  # cent_id asc = tie-break
    cids = [c for c, _ in cents]
    cvvals = [v for _, v in cents]
    C = len(cents)
    ckinds = [_vec_class(v) for v in cvvals]
    # centroid groups by exact length (csim defined only for equal-length
    # folds); each group carries its fold norm2
    cgroups: dict[int, list[int]] = {}
    for j, (kind, ln) in enumerate(ckinds):
        if kind == "ok":
            cgroups.setdefault(ln, []).append(j)
    ktake = min(nassign, C)

    # mapInArrow, not mapInPandas: the output batches are built straight
    # from pyarrow so the vector column is a `take` of the INPUT list
    # array — NaN elements stay NaN and NULL elements stay NULL on the
    # return hop (pandas' from_pandas conversion would collapse a NaN
    # inside an object cell to NULL, erasing the distinction the pair
    # phase's JVM pre-filter depends on).
    def assign(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        cmats = {
            ln: np.stack([np.asarray(cvvals[j], dtype=np.float64) for j in idx])
            for ln, idx in cgroups.items()
        }
        cnorm2 = {ln: _fold_norm2_np(m) for ln, m in cmats.items()}
        for batch in batches:
            n = batch.num_rows
            if not n or not C:
                continue
            vid_arr = batch.column(0)
            vec_arr = batch.column(1)
            row_null = pc.is_null(vec_arr).to_numpy(zero_copy_only=False)
            lens = pc.list_value_length(vec_arr).to_numpy(zero_copy_only=False)
            lens = np.where(row_null, 0, lens).astype(np.int64)
            flat = vec_arr.flatten()  # values of non-null rows only
            flat64 = flat.cast(pa.float64()).to_numpy(zero_copy_only=False)
            flat_null = pc.is_null(flat).to_numpy(zero_copy_only=False)
            offs = np.concatenate([[0], np.cumsum(lens)])
            cs = np.concatenate([[0], np.cumsum(flat_null)])
            has_null_elem = (cs[offs[1:]] - cs[offs[:-1]]) > 0
            bad_row = row_null | has_null_elem  # NULL norm2, NULL csim
            norm2 = np.zeros(n, dtype=np.float64)
            # csim matrix: value + null mask (NULL sorts last; NaN first)
            csim = np.zeros((n, C), dtype=np.float64)
            isnull = np.ones((n, C), dtype=bool)
            rgroups: dict[int, np.ndarray] = {}
            for ln in np.unique(lens[~bad_row]):
                rgroups[int(ln)] = np.flatnonzero(~bad_row & (lens == ln))
            for ln, ridx in rgroups.items():
                idx_mat = offs[ridx][:, None] + np.arange(ln)[None, :]
                V = (
                    flat64[idx_mat]
                    if ln
                    else np.zeros((len(ridx), 0), dtype=np.float64)
                )
                vn2 = _fold_norm2_np(V)
                norm2[ridx] = vn2
                cj = cgroups.get(ln)
                if not cj:
                    continue
                dots = _fold_dot_np(V, cmats[ln])
                denom = np.sqrt(vn2[:, None] * cnorm2[ln][None, :])
                if policy == "raw":
                    if (denom == 0.0).any():
                        raise ArithmeticError(
                            "[DIVIDE_BY_ZERO] zero-norm vector in IVF "
                            "assignment (the JVM assignment raises "
                            "identically under ANSI); clean the corpus or "
                            "drop zero vectors upstream"
                        )
                    block = dots / denom
                    csim[np.ix_(ridx, np.asarray(cj))] = block
                    isnull[np.ix_(ridx, np.asarray(cj))] = False
                else:  # cosine_null: nanvl(try_divide(...), NULL)
                    dz = denom == 0.0
                    with np.errstate(divide="ignore", invalid="ignore"):
                        block = dots / np.where(dz, 1.0, denom)
                    blk_null = dz | np.isnan(block)
                    csim[np.ix_(ridx, np.asarray(cj))] = np.where(
                        blk_null, 0.0, block
                    )
                    isnull[np.ix_(ridx, np.asarray(cj))] = blk_null
            # top-nassign per row under Spark's (csim DESC, cent_id ASC)
            # window order — desc doubles via java.lang.Double.compare:
            # NaN above +inf, -0.0 strictly below +0.0, NULLs last. The
            # IEEE total-order bit trick maps every double to an int64
            # whose ascending order IS Double.compare's (sign-flip the
            # non-sign bits of negatives); ~key then gives descending,
            # and a stable argsort breaks bit-equal ties by centroid
            # position = ascending cent_id. NaN payloads normalize to
            # the canonical quiet NaN first (Double.compare treats every
            # NaN as one value).
            csim = np.where(np.isnan(csim), np.nan, csim)
            b = np.ascontiguousarray(csim).view(np.int64)
            tot = np.where(b >= 0, b, b ^ np.int64(0x7FFFFFFFFFFFFFFF))
            key_asc = np.where(isnull, np.iinfo(np.int64).max, ~tot)
            order = np.argsort(key_asc, axis=1, kind="stable")[:, :ktake]
            idx_rep = pa.array(np.repeat(np.arange(n, dtype=np.int64), ktake))
            cids_pa = pa.array(cids).cast(cent_arrow_type)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(vid_arr, idx_rep),
                    pc.take(vec_arr, idx_rep),
                    pa.array(
                        np.repeat(norm2, ktake),
                        type=pa.float64(),
                        mask=np.repeat(bad_row, ktake),
                    ),
                    pc.take(cids_pa, pa.array(order.reshape(-1))),
                ],
                names=["vid", "vid_vec", "vid_norm2", "cent_id"],
            )

    return src.mapInArrow(assign, out_schema)


def ivf_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    n_centroids: int | None = None,
    nassign: int = 2,
    target_cell: int = 256,
) -> DataFrame:
    """Near-dup pairs via IVF cell blocking — the corpus-scale twin of
    ``embedding_near_dup_pairs``. Label blocks grow with the corpus (the
    exact twin measured 43x on 10x data at sf1); IVF cells need not:
    size ``n_centroids`` proportional to corpus (cell population =
    nassign * corpus / n_centroids stays CONSTANT), and per-cell pair
    work is population^2 * n_centroids — linear in corpus at fixed cell
    size.

    SCALE CEILING (round 14, measured at the sf3 third decade): the
    PAIR phase is linear, but this flat ASSIGNMENT scores every vector
    against every centroid — O(corpus^2 / target_cell), since centroid
    count grows with the corpus. Dominant from ~10^5 vectors up
    (22s -> 123s on the 3x sf1 -> sf3 step). Above that, use
    ``ivf_near_dup_pairs_2level`` (same output schema, stated recall
    tradeoff) whose two-level assignment is O(corpus x sqrt(C)). An SRP-LSH blocking variant was built and REJECTED on
    measurement: pair savings scale as bands/2^planes, and the
    plane counts a low threshold (0.3) needs for recall make the
    buckets corpus/2^planes-sized — measured SLOWER than the exact
    label-blocked twin at sf1. IVF cells have no such coupling.

    Recall: each vector is assigned to its ``nassign`` nearest
    centroids; a pair is generated iff the two share at least one
    assigned cell. Near-dup pairs are close in space, so they share the
    nearest cell unless they straddle a boundary — nassign=2 covers the
    straddle. Every candidate is verified by exact cosine (precision 1
    by construction), and the oracle derives the identical cells, so
    the approximation lives in the pair set identically on both
    engines.

    Scale shape: centroids are a hash-ordered sample (takeOrdered, no
    shuffle), collected once for assignment; the only corpus-sized
    shuffle is the per-cell grouping. When ``n_centroids`` is None it is
    sized ADAPTIVELY as max(8, corpus // target_cell) — the constant-
    cell-population rule the linearity claim depends on. (The first cut
    registered a constant 8 cells; at sf1 that meant 19k-vector cells,
    ~1.4e9 candidate pairs, and a spill that filled the disk — measured
    proof that cell count must scale, now encoded here.) Weak-threshold
    recall decays as cells shrink relative to the similarity radius;
    production near-dup thresholds (>=0.8) co-locate pairs and keep
    recall high at any scale.

    Both corpus-sized phases run as Arrow/numpy passes with
    left-to-right float64 folds: assignment in one ``mapInArrow``
    (:func:`_ivf_assign_np`, no window exchange of vector-carrying
    rows), pair scoring per cell in ``applyInPandas``
    (:func:`_pairs_from_assignment`)."""
    if n_centroids is None:
        n_centroids = max(8, df.count() // target_cell)
    cents = _hash_sample(df, id_col, vec_col, n_centroids, "cent_id", "cent_vec")
    if n_centroids > _ASSIGN_COLLECT_CEILING:
        # Kept JVM path, a driver-memory guard: the Arrow assignment
        # ships the collected centroid list in its task closure, fine at
        # the adaptive-switch knee (<= ~4k centroids = ~2 MB) but a
        # driver/closure ceiling beyond. Above the ceiling, assign via
        # the broadcast-DataFrame ladder (bit-identical to
        # _ivf_assign_np, pinned by a test that lowers the ceiling) and
        # keep the Arrow pair phase, which is cell-sized either way. No
        # registered bench-scale query reaches this arm; it exists so the
        # flat path cannot OOM the driver when called directly at scale.
        assigned = _ivf_assign_expr(df, id_col, vec_col, cents, nassign)
    else:
        assigned = _ivf_assign_np(
            df, id_col, vec_col, _collect_cent_rows(cents), nassign
        )
    return _pairs_from_assignment(assigned, threshold)


# The Arrow assignment ships the collected centroids in its task
# closure; above this count the flat path assigns via the broadcast-
# DataFrame ladder instead (a correctness/robustness guard — the
# adaptive near-dup switch routes to the 2-level assignment well below
# it). 2^16 centroids x 64 dims x 8 B = 32 MB of closure, the most a
# per-task pickle should ever carry.
_ASSIGN_COLLECT_CEILING = 1 << 16


def _ivf_assign_expr(
    df: DataFrame, id_col: str, vec_col: str, cents: DataFrame, nassign: int
) -> DataFrame:
    """The JVM flat assignment (broadcast centroid join + raw-csim
    window) :func:`ivf_near_dup_pairs` uses above
    ``_ASSIGN_COLLECT_CEILING`` centroids. Bit-identical to
    :func:`_ivf_assign_np` with policy="raw"."""
    cent_norm = _cent_norm_frame(cents)
    e = _with_norm2(df, id_col, vec_col, "vid")
    scored = e.join(F.broadcast(cent_norm)).select(
        "vid",
        "vid_vec",
        "vid_norm2",
        "cent_id",
        (
            _double_dot(F.col("vid_vec"), F.col("cent_vec"))
            / F.sqrt(F.col("vid_norm2") * F.col("cent_norm2"))
        ).alias("csim"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("csim"), "cent_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nassign)
        .select("vid", "vid_vec", "vid_norm2", "cent_id")
    )


def ivf_near_dup_pairs_adaptive(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    nassign: int = 2,
    target_cell: int = 256,
    mprobe: int = 2,
    knee: int = 1_000_000,
) -> DataFrame:
    """Scale-adaptive IVF near-dup pairs (round 15 — VERDICT r14 item 4):
    ONE reachable entry point that routes the pair layer by corpus size.

    - ``corpus <= knee``: the flat :func:`ivf_near_dup_pairs` — one
      corpus-x-centroids assignment pass, the cheapest correct plan while
      centroid count (corpus/target_cell) stays collect-/broadcast-sized.
    - ``corpus > knee``: :func:`ivf_near_dup_pairs_2level` — the flat
      assignment is O(corpus^2/target_cell) because centroid count grows
      with the corpus (measured: 22s -> 123s on the 3x sf1 -> sf3 step);
      the two-level coarse quantizer linearizes it to
      O(corpus x sqrt(C)) and never collects a corpus-proportional
      centroid list to the driver.

    The knee sits at ~10^6 vectors — the measured point where the flat
    arm's assignment term starts dominating AND its centroid collect
    (corpus/256 rows) stops being trivially driver-sized. Every fixture
    scale (sf0.001 .. sf3 = 5e2 .. 6e4 vectors) routes flat, so
    registered outputs are unchanged at any verifiable scale; the DuckDB
    oracle of the routed query expresses the same count-guarded switch,
    so the contract stays honest above the knee too. Both arms emit the
    same (id_a, id_b, cosine) schema with every pair exact-cosine
    verified; the corpus count is computed ONCE here and pinned as each
    arm's explicit n_centroids (the same count the arms would otherwise
    derive themselves)."""
    n = df.count()
    n_centroids = max(8, n // target_cell)
    if n <= knee:
        return ivf_near_dup_pairs(
            df, id_col, vec_col,
            threshold=threshold, n_centroids=n_centroids, nassign=nassign,
            target_cell=target_cell,
        )
    return ivf_near_dup_pairs_2level(
        df, id_col, vec_col,
        threshold=threshold, n_centroids=n_centroids, nassign=nassign,
        target_cell=target_cell, mprobe=mprobe,
    )


def ivf_near_dup_pairs_2level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    n_centroids: int | None = None,
    nassign: int = 2,
    target_cell: int = 256,
    mprobe: int = 2,
) -> DataFrame:
    """IVF near-dup pairs with a TWO-LEVEL (coarse-quantizer)
    assignment — the production path above ~10^6 vectors, where flat
    assignment is the hidden quadratic.

    Why this exists (round 14 — the sf3 third-decade measurement):
    the flat ``ivf_near_dup_pairs`` keeps the PAIR phase linear by
    growing centroid count with the corpus (constant cell population),
    but its ASSIGNMENT scores every vector against every centroid —
    O(corpus x centroids) = O(corpus^2 / target_cell). Invisible at
    sf1 (20k x 78), it dominated the sf3 point: 22s -> 123s on 3x data
    (5.6x). The classic IVF fix is hierarchical assignment:

    - meta-centroids: hash-sample ~sqrt(C) of the centroids;
    - each centroid belongs to its ONE nearest meta-cell;
    - each vector scores the metas (corpus x sqrt(C)), probes its
      ``mprobe`` nearest meta-cells, and ranks only the ~mprobe*sqrt(C)
      centroids inside them — total assignment work
      O(corpus x (1 + mprobe) x sqrt(C)), linearithmic in corpus.

    Recall tradeoff, stated: a vector whose true nearest centroid lives
    outside its probed meta-cells is assigned elsewhere, so a near-dup
    pair straddling that miss can drop; mprobe=2 covers the boundary
    the same way nassign=2 covers cell straddle in the flat path, and
    every emitted pair is still exact-cosine verified (precision 1).
    The DuckDB oracle derives the identical meta/centroid/assignment
    ladder, so the approximation lives identically on both engines.

    Scale shape: metas and the centroid->meta map are sqrt(C)- and
    C-sized broadcasts; the only corpus-sized shuffles are the two
    per-vid top-k windows and the (skinny) pair dedup. The assignment
    is a kept JVM path: this operator serves corpora above the 10^6
    knee, where the centroid list is corpus-proportional, so it stays
    in broadcast joins and never collects that list to the driver."""
    import math

    if n_centroids is None:
        n_centroids = max(8, df.count() // target_cell)
    n_meta = max(4, math.isqrt(n_centroids))
    cents = _hash_sample(df, id_col, vec_col, n_centroids, "cent_id", "cent_vec")
    cent_norm = _cent_norm_frame(cents)
    metas = _hash_sample(cents, "cent_id", "cent_vec", n_meta, "meta_id", "meta_vec")
    meta_norm = metas.select(
        "meta_id",
        "meta_vec",
        _double_dot(F.col("meta_vec"), F.col("meta_vec")).alias("meta_norm2"),
    )
    # centroid -> its one nearest meta: C x sqrt(C) rows, broadcast-tiny
    cm = cent_norm.join(F.broadcast(meta_norm)).select(
        "cent_id",
        "cent_vec",
        "cent_norm2",
        "meta_id",
        (
            _double_dot(F.col("cent_vec"), F.col("meta_vec"))
            / F.sqrt(F.col("cent_norm2") * F.col("meta_norm2"))
        ).alias("msim"),
    )
    wc = Window.partitionBy("cent_id").orderBy(F.desc("msim"), "meta_id")
    cent2meta = (
        cm.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") == 1)
        .select("meta_id", "cent_id", "cent_vec", "cent_norm2")
    )
    # vector -> top-mprobe metas: corpus x sqrt(C) — the linearized pass
    e = _with_norm2(df, id_col, vec_col, "vid")
    vm = e.join(F.broadcast(meta_norm)).select(
        "vid",
        "vid_vec",
        "vid_norm2",
        "meta_id",
        (
            _double_dot(F.col("vid_vec"), F.col("meta_vec"))
            / F.sqrt(F.col("vid_norm2") * F.col("meta_norm2"))
        ).alias("msim"),
    )
    wv = Window.partitionBy("vid").orderBy(F.desc("msim"), "meta_id")
    v2meta = (
        vm.withColumn("vrn", F.row_number().over(wv))
        .filter(F.col("vrn") <= mprobe)
        .select("vid", "vid_vec", "vid_norm2", "meta_id")
    )
    # candidate centroids per vector: ~mprobe * sqrt(C) each, ranked by
    # exact cosine — same tie-break as the flat path (csim DESC, cent_id)
    scored = v2meta.join(F.broadcast(cent2meta), "meta_id").select(
        "vid",
        "vid_vec",
        "vid_norm2",
        "cent_id",
        (
            _double_dot(F.col("vid_vec"), F.col("cent_vec"))
            / F.sqrt(F.col("vid_norm2") * F.col("cent_norm2"))
        ).alias("csim"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("csim"), "cent_id")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nassign)
        .select("vid", "vid_vec", "vid_norm2", "cent_id")
    )
    return _pairs_from_assignment(assigned, threshold)


def _pairs_from_assignment(assigned: DataFrame, threshold: float) -> DataFrame:
    """Shared pair phase over a (vid, vid_vec, vid_norm2, cent_id) cell
    assignment — used by both the flat and the two-level IVF near-dup.
    One ``applyInPandas`` per cell scores the cell's full candidate
    triangle with the left-to-right float64 dim-fold
    (:func:`_fold_dot_np`), emits only (id_a, id_b, cosine) survivors,
    and dedups across shared cells. ONE vector-carrying exchange (the
    groupBy); the dedup shuffles skinny rows.

    Edge semantics are the raw ``dot/sqrt(n2a*n2b)`` the DuckDB oracle
    computes:

    - NULL vec / NULL element => NULL dot => pair dropped (excluded from
      the matrices — such a row can never emit);
    - length-mismatched pair => NULL dot => dropped (rows are grouped by
      exact vector length; cross-length pairs are never generated, but
      two clean same-nonstandard-length rows in one cell DO pair);
    - NaN / inf elements run plain IEEE arithmetic; a NaN cosine pair is
      KEPT — Spark and DuckDB both order NaN above every double, so
      ``NaN >= threshold`` is true in BOTH engines. The Arrow return
      path cannot carry a NaN distinct from NULL (repo-wide bridge
      limitation), so the kept pair arrives with cosine NULL — the
      oracle canonicalizer maps both to NULL, so hashes agree; an inf
      cosine passes through as plain IEEE;
    - a zero divisor raises, as ANSI's DIVIDE_BY_ZERO would
      (sqrt(NULL)=NULL never hits the divisor check).

    Memory is bounded: the dot block is computed in row-chunks of
    ~4M elements against the cell, so a pathological hot cell degrades
    to more chunks, never to an O(cell^2) allocation."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = assigned.schema["vid"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type, True),
            StructField("id_b", id_type, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    thr = float(threshold)

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a: list = []
        out_b: list = []
        out_c: list = []
        vals = pdf["vid_vec"].tolist()
        ids = pdf["vid"].tolist()
        n2 = pdf["vid_norm2"].to_numpy(dtype=np.float64, na_value=np.nan)
        groups: dict[int, list[int]] = {}
        for i, v in enumerate(vals):
            if ids[i] is None:
                continue  # id_a < id_b is NULL for a NULL id -> dropped
            kind, ln = _vec_class(v)
            if kind == "ok":
                groups.setdefault(ln, []).append(i)
        for ln, idxs in groups.items():
            if len(idxs) < 2:
                continue
            idxs.sort(key=lambda i: ids[i])  # upper triangle => id_a < id_b
            V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in idxs])
            gn2 = n2[idxs]
            gids = [ids[i] for i in idxs]
            m = len(idxs)
            chunk = max(1, (1 << 22) // m)
            for lo in range(0, m - 1, chunk):
                hi = min(lo + chunk, m - 1)
                # rows lo..hi-1 against columns lo+1..m-1; mask to j > i
                R, Cm = V[lo:hi], V[lo + 1 :]
                dots = _fold_dot_np(R, Cm)
                with np.errstate(divide="ignore", invalid="ignore"):
                    denom = np.sqrt(gn2[lo:hi, None] * gn2[None, lo + 1 :])
                    if (denom == 0.0).any():
                        raise ArithmeticError(
                            "[DIVIDE_BY_ZERO] zero-norm vector in near-dup "
                            "pair scoring"
                        )
                    cosm = dots / denom
                # Spark/DuckDB comparison semantics: NaN is GREATER than
                # any double, so `cosine >= threshold` KEEPS a NaN pair
                # (both engines agree; the raw NaN bits pass through the
                # Arrow return unchanged). inf passes as plain IEEE.
                ri, ci = np.nonzero((cosm >= thr) | np.isnan(cosm))
                keep = ci >= ri  # global j = lo+1+ci > i = lo+ri
                for r, c in zip(ri[keep], ci[keep]):
                    out_a.append(gids[lo + r])
                    out_b.append(gids[lo + 1 + c])
                    out_c.append(float(cosm[r, c]))
        return pd.DataFrame(
            {
                "id_a": pd.Series(out_a, dtype=object),
                "id_b": pd.Series(out_b, dtype=object),
                "cosine": pd.Series(out_c, dtype=object),
            }
        )

    # JVM-side pre-filter: a NULL id, NULL vector or NULL ELEMENT row can
    # never emit a pair (NULL id fails id_a < id_b; a NULL element makes
    # every dot NULL, which the threshold drops) — and the Arrow hop
    # would erase the NULL-element / NaN-element distinction (both
    # arrive as np.nan), so the classification MUST happen before the
    # Python boundary. NaN elements stay in: plain IEEE arithmetic.
    clean = assigned.filter(
        F.col("vid").isNotNull()
        & F.col("vid_vec").isNotNull()
        & ~F.exists(F.col("vid_vec"), lambda e: e.isNull())
    )
    return (
        clean.groupBy("cent_id")
        .applyInPandas(score_cell, out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )
