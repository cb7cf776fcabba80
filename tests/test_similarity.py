"""Property tests for similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sig_etl_spark.llm import similarity as S

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0, 0.0]),
    (10, [1.0, 0.01, 0.0, 0.0]),   # ~ query 0
    (11, [0.0, 0.99, 0.1, 0.0]),   # ~ query 1
    (12, [-1.0, 0.0, 0.0, 0.0]),   # anti of query 0
    (13, [0.5, 0.5, 0.0, 0.0]),
]


def _df(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_brute_force_exact_neighbors(spark):
    emb = _df(spark)
    out = S.brute_force_topk(
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") >= 10),
        "vec_id", "embedding", k=2,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    top0 = sorted(by_q[0], key=lambda r: r.rank)
    assert top0[0].corpus_id == 10 and top0[0].cosine > 0.99
    assert by_q[0][-1].corpus_id != 12 or len(by_q[0]) == 2  # anti-vector never rank 1
    top1 = sorted(by_q[1], key=lambda r: r.rank)
    assert top1[0].corpus_id == 11
    # ranks dense 1..k
    assert [r.rank for r in top0] == [1, 2]


def test_lsh_subset_of_bruteforce_pairs(spark):
    emb = _df(spark)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    brute = {(r.query_id, r.corpus_id): r.cosine
             for r in S.brute_force_topk(q, c, "vec_id", "embedding", k=10).collect()}
    lsh = S.lsh_topk(q, c, "vec_id", "embedding", k=10, dim=4,
                     bands=2, planes_per_band=2).collect()
    # every LSH result's cosine agrees exactly with the brute-force score
    for r in lsh:
        assert abs(brute[(r.query_id, r.corpus_id)] - r.cosine) == 0.0


def test_ivf_topk_subset_of_bruteforce_candidates(spark, sf_dir):
    """IVF results are genuine corpus neighbors: every (query, corpus)
    pair IVF returns must score identically to the brute-force cosine,
    and the rank-1 hit should usually agree (cells are coarse)."""
    from sig_etl_spark.llm.similarity import brute_force_topk, ivf_topk
    from sig_etl_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    ivf = ivf_topk(q, c, "vec_id", "embedding", k=3, n_centroids=8, nprobe=2)
    brute = brute_force_topk(q, c, "vec_id", "embedding", k=200)
    b = {(r.query_id, r.corpus_id): r.cosine for r in brute.collect()}
    rows = ivf.collect()
    assert rows, "IVF returned nothing"
    for r in rows:
        assert (r.query_id, r.corpus_id) in b
        assert r.cosine == b[(r.query_id, r.corpus_id)]
    # per-query results are ranked 1..n without gaps
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

def test_ivf_sparse_offset_ids_still_produce_centroids(spark):
    """Regression: a modulus quantizer (id % N == 0) returns ZERO centroids
    on sparse/offset id spaces and every downstream join silently empties.
    The hash-ordered fixed-size sample must yield min(n_centroids, |corpus|)
    centroids for ANY id space — so results are non-empty here."""
    sparse = [(1_000_003 + 40 * i + 7, v) for i, (_, v) in enumerate(VECS)]
    emb = spark.createDataFrame(sparse, ["vec_id", "embedding"])
    ids = sorted(r[0] for r in sparse)
    q = emb.filter(F.col("vec_id") == ids[0])
    c = emb.filter(F.col("vec_id") != ids[0])
    rows = S.ivf_topk(q, c, "vec_id", "embedding", k=2, n_centroids=3, nprobe=3).collect()
    assert rows, "IVF must not silently empty on sparse id spaces"
    assert all(r.query_id == ids[0] for r in rows)


def test_ivf_empty_corpus_yields_empty_result(spark):
    emb = _df(spark)
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") > 10_000)  # empty
    assert S.ivf_topk(q, c, "vec_id", "embedding", k=2).count() == 0


def test_ivf_kmeans_scores_exact_and_deterministic(spark, sf_dir):
    """Trained-quantizer IVF must return genuine neighbors (cosines match
    brute force exactly) with dense ranks, and be run-to-run identical
    (deterministic sample + deterministic Lloyd)."""
    from sig_etl_spark.llm.similarity import brute_force_topk, ivf_kmeans_topk
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    brute = {(r.query_id, r.corpus_id): r.cosine
             for r in brute_force_topk(q, c, "vec_id", "embedding", k=200).collect()}

    def run():
        return sorted(
            (r.query_id, r.corpus_id, r.cosine, r.rank)
            for r in ivf_kmeans_topk(
                q, c, "vec_id", "embedding", k=3, n_centroids=8, nprobe=2
            ).collect()
        )

    first = run()
    assert first, "kmeans IVF returned nothing"
    for qid, cid, cos, _ in first:
        assert (qid, cid) in brute and cos == brute[(qid, cid)]
    assert first == run(), "kmeans IVF not deterministic across runs"


def test_pq_exact_when_corpus_is_codebook(spark, sf_dir):
    """When |corpus| == ksub every corpus row IS a codebook entry, so PQ
    encoding reconstructs each vector exactly (each subspace argmin hits
    the row's own subvector at distance 0) and the ADC score must equal
    the exact cosine — pq top-k == brute-force top-k. This is the unit
    test that would have caught the F.transform (element, index) lambda
    bug: under that bug every code degenerated to one entry and recon
    norms went to 0."""
    from sig_etl_spark.llm.similarity import brute_force_topk, pq_topk
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 26))  # 16 rows
    brute = {
        (r.query_id, r.corpus_id): (r.cosine, r.rank)
        for r in brute_force_topk(q, c, "vec_id", "embedding", k=5).collect()
    }
    pq = pq_topk(
        q, c, "vec_id", "embedding", k=5, m_subs=8, ksub=16, dim=64
    ).collect()
    assert len(pq) == len(brute) == 50
    for r in pq:
        assert (r.query_id, r.corpus_id) in brute, (
            f"pq returned ({r.query_id},{r.corpus_id}) not in exact top-5"
        )
        cos, rank = brute[(r.query_id, r.corpus_id)]
        # ADC sums associate per-subspace vs brute's flat fold — allow
        # only float-reassociation noise, nothing semantic.
        assert abs(r.cosine - cos) < 1e-9
        assert r.rank == rank


def test_pq_rerank_is_bruteforce_restricted_to_shortlist(spark, sf_dir):
    """Every pq_rerank cosine must equal the exact brute-force cosine
    bit-for-bit (same fold), and with a shortlist covering the whole
    corpus the result must equal brute force exactly."""
    from sig_etl_spark.llm.similarity import brute_force_topk, pq_rerank_topk
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    n_corpus = c.count()
    brute = {
        (r.query_id, r.corpus_id): (r.cosine, r.rank)
        for r in brute_force_topk(q, c, "vec_id", "embedding", k=5).collect()
    }
    rer = pq_rerank_topk(
        q, c, "vec_id", "embedding", k=5, shortlist=n_corpus,
        m_subs=8, ksub=16, dim=64,
    ).collect()
    assert {(r.query_id, r.corpus_id) for r in rer} == set(brute)
    for r in rer:
        cos, rank = brute[(r.query_id, r.corpus_id)]
        assert r.cosine == cos  # identical fold -> bit-exact
        assert r.rank == rank


def test_ivfpq_scores_are_exact_cosines(spark, sf_dir):
    """The refine stage makes every returned cosine the exact fold —
    each (query, corpus) pair ivfpq returns must score bit-identically
    to brute force, with dense per-query ranks."""
    from sig_etl_spark.llm.similarity import brute_force_topk, ivfpq_topk
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    brute = {(r.query_id, r.corpus_id): r.cosine
             for r in brute_force_topk(q, c, "vec_id", "embedding", k=500).collect()}
    rows = ivfpq_topk(
        q, c, "vec_id", "embedding", k=3,
        n_centroids=8, nprobe=2, m_subs=8, ksub=16, dim=64, shortlist=30,
    ).collect()
    assert rows, "ivfpq returned nothing"
    by_q = {}
    for r in rows:
        assert (r.query_id, r.corpus_id) in brute
        assert r.cosine == brute[(r.query_id, r.corpus_id)]
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_recall_floors(spark, sf_dir):
    """The approximate paths must actually be GOOD at their high-recall
    configs: recall@5 vs exact brute force >= 0.8 for LSH (8 bands x 3
    planes), sampled-centroid IVF (nprobe=12/16) and trained-k-means IVF
    (nprobe=12/16). These synthetic embeddings are near-random — the
    worst case for cell/bucket pruning — so a floor that holds here
    holds on clustered real embeddings a fortiori."""
    from sig_etl_spark.llm.similarity import (
        brute_force_topk,
        int8_topk,
        ivf_kmeans_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
        pq_rerank_topk,
    )
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    k = 5
    brute = (
        brute_force_topk(q, c, "vec_id", "embedding", k=k)
        .select("query_id", "corpus_id")
        .localCheckpoint()
    )
    denom = brute.count()
    assert denom == 10 * k

    approx = {
        "lsh_b8p3": lsh_topk(
            q, c, "vec_id", "embedding",
            k=k, dim=64, bands=8, planes_per_band=3, seed=7,
        ),
        "ivf_np12": ivf_topk(
            q, c, "vec_id", "embedding", k=k, n_centroids=16, nprobe=12
        ),
        "ivf_kmeans_np12": ivf_kmeans_topk(
            q, c, "vec_id", "embedding", k=k, n_centroids=16, nprobe=12
        ),
        "int8": int8_topk(q, c, "vec_id", "embedding", k=k),
        "pq_rerank_l200": pq_rerank_topk(
            q, c, "vec_id", "embedding",
            k=k, shortlist=200, m_subs=8, ksub=16, dim=64,
        ),
        "ivfpq_np14_sl300": ivfpq_topk(
            q, c, "vec_id", "embedding",
            k=k, n_centroids=16, nprobe=14,
            m_subs=8, ksub=16, dim=64, shortlist=300,
        ),
    }
    for name, df in approx.items():
        hits = brute.join(
            df.select("query_id", "corpus_id"), ["query_id", "corpus_id"]
        ).count()
        recall = hits / denom
        assert recall >= 0.8, f"{name}: recall@5 {recall:.2f} < 0.8"


def test_ivf2_near_dup_recall_vs_flat(spark, sf_dir):
    """The two-level (coarse-quantizer) IVF near-dup must recover >=85%
    of the flat-assignment pair set (round 14: the linearized-assignment
    production path; measured 0.95 at sf0.01), and every pair it emits
    must carry the exact verified cosine — so precision vs the flat set
    is exact on the intersection by construction."""
    from sig_etl_spark.queries import QUERIES

    flat = {
        (r.id_a, r.id_b): r.cosine
        for r in QUERIES["llm_embedding_near_dup_ivf"].builder(spark, sf_dir).collect()
    }
    two = {
        (r.id_a, r.id_b): r.cosine
        for r in QUERIES["llm_embedding_near_dup_ivf2"].builder(spark, sf_dir).collect()
    }
    assert flat, "flat IVF produced no pairs"
    common = set(flat) & set(two)
    recall = len(common) / len(flat)
    assert recall >= 0.85, f"2level recall vs flat {recall:.3f} < 0.85"
    for k in common:
        assert flat[k] == two[k], k  # same exact-cosine verify


def test_ann_recall_query_shape(spark, sf_dir):
    """Registered recall queries return one row per method with recall in
    [0, 1] and hits consistent with recall * (n_queries * k)."""
    from sig_etl_spark.queries import QUERIES

    for qname, expected in [
        ("llm_ann_recall", {"lsh_b2p4", "lsh_b8p3", "ivf_np3", "ivf_np12", "int8", "pq", "ivfpq"}),
        ("llm_ann_recall_kmeans", {"ivf_kmeans_np3", "ivf_kmeans_np12"}),
    ]:
        rows = QUERIES[qname].builder(spark, sf_dir).collect()
        assert {r.method for r in rows} == expected
        for r in rows:
            assert 0.0 <= r.recall <= 1.0
            assert r.hits == round(r.recall * 50)


def test_cluster_cohesion_bounds_and_centroid_quality(spark, sf_dir):
    import numpy as np

    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    rows = QUERIES["llm_cluster_cohesion"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-12 <= r["cos_centroid"] <= 1.0 + 1e-12
    # numpy cross-check: quantized centroid cosine for one label
    pdf = load_table(spark, sf_dir, "embeddings").toPandas()
    lab = pdf["label"].iloc[0]
    grp = np.array([np.asarray(v, dtype=np.float64) for v in pdf[pdf["label"] == lab]["embedding"]])
    cent = np.round(grp * 256).sum(axis=0) / (len(grp) * 256.0)
    want = {}
    for vid, v in zip(pdf[pdf["label"] == lab]["vec_id"], grp):
        want[vid] = float(v @ cent / np.sqrt((v @ v) * (cent @ cent)))
    got = {r["vec_id"]: r["cos_centroid"] for r in rows if r["label"] == lab}
    assert set(got) == set(want)
    for vid in want:
        assert abs(got[vid] - want[vid]) < 1e-9
    # vectors should on average point toward their own centroid
    assert np.mean([r["cos_centroid"] for r in rows]) > 0.1


def test_ivf_near_dup_recall_and_precision(spark, sf_dir):
    """Precision 1 by construction (exact-cosine verify); recall vs the
    full all-pairs truth — IVF 2-nearest-cell assignment misses only
    boundary-straddling pairs."""
    import numpy as np

    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in QUERIES["llm_embedding_near_dup_ivf"].builder(spark, sf_dir).collect()
    }
    pdf = load_table(spark, sf_dir, "embeddings").toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    iu, ju = np.triu_indices(len(ids), k=1)
    mask = sims[iu, ju] >= 0.3
    truth = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[mask]], ids[ju[mask]])
    }
    assert truth, "fixture has no near-dup pairs"
    idx = {int(v): i for i, v in enumerate(ids)}
    for (a, b) in set(got) - truth:
        assert abs(sims[idx[a], idx[b]] - 0.3) < 1e-9  # threshold float seam only
    recall = len(set(got) & truth) / len(truth)
    assert recall >= 0.9, recall


def test_filtered_knn_respects_predicate_and_k(spark, sf_dir):
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    rows = QUERIES["llm_knn_filtered"].builder(spark, sf_dir).collect()
    assert rows
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    per_q = {}
    for r in rows:
        assert labels[r["corpus_id"]] % 2 == 0, r  # predicate holds
        per_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    for q, cs in per_q.items():
        assert len(cs) == 5  # no k starvation under pre-filtering
        assert len(set(cs)) == 5


def test_hard_negatives_exclude_own_label(spark, sf_dir):
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    rows = QUERIES["llm_hard_negatives"].builder(spark, sf_dir).collect()
    assert rows
    per_q = {}
    for r in rows:
        assert labels[r["corpus_id"]] != labels[r["query_id"]], r
        assert r["neg_label"] == labels[r["corpus_id"]]
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        cos = [r["cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)


# ---------------------------------------------------------------------------
# Incremental IVF (round 9).
# ---------------------------------------------------------------------------

def _split_static_delta(spark, sf_dir):
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    static = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 7 != 0))
    delta = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 7 == 0))
    return q, static, delta


def test_incremental_equals_full_scan_with_static_centroids(spark, sf_dir):
    """Batch equality: because centroids derive from the static corpus
    only, assign(static) UNION assign(delta) must equal a full assignment
    of (static UNION delta) under the same centroid set — the incremental
    merge loses and invents nothing."""
    q, static, delta = _split_static_delta(spark, sf_dir)
    inc = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", k=5, n_centroids=8, nprobe=3,
        checkpoint_static=False,
    )
    cents = S._hash_sample(static, "vec_id", "embedding", 8, "cent_id", "cent_vec")
    full = S._ivf_with_cent_rows(
        q, static.unionByName(delta), S._collect_cent_rows(cents),
        "vec_id", "embedding", k=5, nprobe=3,
    )
    a = sorted(map(tuple, inc.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b and a


def test_incremental_checkpoint_variant_identical(spark, sf_dir):
    """checkpoint_static only changes the physical plan (materialized
    inverted file), never the rows."""
    q, static, delta = _split_static_delta(spark, sf_dir)
    kw = dict(k=5, n_centroids=8, nprobe=3)
    on = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", checkpoint_static=True, **kw
    )
    off = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", checkpoint_static=False, **kw
    )
    assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))


def test_incremental_recall_floor(spark, sf_dir):
    """Recall@5 vs brute force over the MERGED corpus >= 0.8 at the
    repo's high-recall config (nprobe=12/16 — same floor the static IVF
    holds on these near-random embeddings) — the delta rows must be
    findable, not just present."""
    q, static, delta = _split_static_delta(spark, sf_dir)
    inc = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", k=5, n_centroids=16, nprobe=12,
        checkpoint_static=False,
    )
    brute = S.brute_force_topk(
        q, static.unionByName(delta), "vec_id", "embedding", k=5
    )
    truth = {(r.query_id, r.corpus_id) for r in brute.collect()}
    got = {(r.query_id, r.corpus_id) for r in inc.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, recall


def test_incremental_surfaces_delta_neighbor(spark):
    """A delta vector nearly identical to a query must surface at rank 1
    even though it never participated in centroid training."""
    static = spark.createDataFrame(
        [(i + 10, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 0.0])
         for i in range(12)],
        ["vec_id", "embedding"],
    )
    q = spark.createDataFrame([(0, [0.6, 0.8, 0.0, 0.0])], ["vec_id", "embedding"])
    delta = spark.createDataFrame(
        [(99, [0.6, 0.8, 0.001, 0.0])], ["vec_id", "embedding"]
    )
    out = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", k=3, n_centroids=4, nprobe=4,
        checkpoint_static=False,
    ).collect()
    top = min(out, key=lambda r: r.rank)
    assert top.corpus_id == 99 and top.cosine > 0.999


def test_incremental_deletes_exclude_and_replace(spark, sf_dir):
    """Tombstoned ids never appear in results, and each query still gets
    a FULL dense top-k (an evicted neighbor is replaced by next-best in
    the same probe pass, not left as a hole)."""
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    static = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 7 != 0))
    delta = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 7 == 0))
    tomb = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 13 == 0)).select("vec_id")
    tomb_ids = {r.vec_id for r in tomb.collect()}
    assert tomb_ids

    kw = dict(k=5, n_centroids=16, nprobe=12, checkpoint_static=False)
    with_del = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", deletes=tomb, **kw
    ).collect()
    without = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", **kw
    ).collect()

    assert not {r.corpus_id for r in with_del} & tomb_ids
    # dense ranks 1..5 per query on both sides
    for rows in (with_del, without):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    # replacement property: where the no-deletes result had a tombstoned
    # neighbor, the deletes result holds the next-best SURVIVOR — i.e.
    # the surviving subset of `without` is a prefix of `with_del`.
    wo_by_q, wd_by_q = {}, {}
    for r in without:
        wo_by_q.setdefault(r.query_id, []).append((r.rank, r.corpus_id))
    for r in with_del:
        wd_by_q.setdefault(r.query_id, []).append((r.rank, r.corpus_id))
    replaced = 0
    for qid, wo in wo_by_q.items():
        survivors = [c for _, c in sorted(wo) if c not in tomb_ids]
        wd = [c for _, c in sorted(wd_by_q[qid])]
        assert wd[: len(survivors)] == survivors, (qid, survivors, wd)
        replaced += 5 - len(survivors)
    assert replaced > 0, "fixture produced no evictions — tombstones untested"


# ---------------------------------------------------------------------------
# Trained quantizer + incremental maintenance (round 10): the FAISS
# composition — k-means train() on the static corpus, add() for the
# delta, remove_ids for the tombstones.
# ---------------------------------------------------------------------------

def test_incremental_kmeans_equals_full_trained_scan(spark, sf_dir):
    """Batch equality under the TRAINED quantizer: because centroids
    train on the static corpus only (deterministic sample + init, so two
    trainings agree bit-for-bit), the incremental merge must equal a
    full assignment of (static UNION delta) under the same trained
    centroid set."""
    q, static, delta = _split_static_delta(spark, sf_dir)
    inc = S.ivf_incremental_kmeans_topk(
        q, static, delta, "vec_id", "embedding", k=5, n_centroids=8, nprobe=3,
        checkpoint_static=False,
    )
    cents = S.kmeans_cents_frame(static, "vec_id", "embedding", n_centroids=8)
    full = S._ivf_with_cent_rows(
        q, static.unionByName(delta), S._collect_cent_rows(cents),
        "vec_id", "embedding", k=5, nprobe=3,
    )
    a = sorted(map(tuple, inc.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b and a


def test_incremental_kmeans_recall_floor(spark, sf_dir):
    """Recall@5 vs brute force over the merged corpus >= 0.8 at the
    high-recall config — the trained cells must serve the delta rows as
    well as the sampled cells do."""
    q, static, delta = _split_static_delta(spark, sf_dir)
    inc = S.ivf_incremental_kmeans_topk(
        q, static, delta, "vec_id", "embedding", k=5, n_centroids=16, nprobe=12,
        checkpoint_static=False,
    )
    brute = S.brute_force_topk(
        q, static.unionByName(delta), "vec_id", "embedding", k=5
    )
    truth = {(r.query_id, r.corpus_id) for r in brute.collect()}
    got = {(r.query_id, r.corpus_id) for r in inc.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, recall


def test_incremental_kmeans_deletes_and_determinism(spark, sf_dir):
    """The registered composition (with tombstones): deleted ids never
    surface, ranks stay dense, and two independent builds (two separate
    trainings) return identical rows — the quantizer's determinism is
    what makes the rows-only registration reproducible for the driver."""
    from sig_etl_spark.queries import QUERIES

    a = QUERIES["llm_knn_incremental_kmeans"].builder(spark, sf_dir).collect()
    b = QUERIES["llm_knn_incremental_kmeans"].builder(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and a
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    tomb_ids = {
        r.vec_id
        for r in emb.filter(
            (F.col("vec_id") >= 10) & (F.col("vec_id") % 13 == 0)
        ).collect()
    }
    assert not {r.corpus_id for r in a} & tomb_ids
    by_q = {}
    for r in a:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())




# ---------------------------------------------------------------------------
# References for the single implementation of each ANN operator: the
# DuckDB oracle for every registered configuration, and golden rows or
# value hashes for the configurations and edge frames no oracle runs.
# Goldens were captured at commit 2766b98, where each was also checked
# equal between two independent implementations of the operator.
# ---------------------------------------------------------------------------

_ANN_ORACLE_NAMES = [
    "llm_knn_bruteforce",
    "llm_knn_lsh",
    "llm_knn_ivf",
    "llm_knn_incremental",
    "llm_knn_incremental_deletes",
    "llm_knn_incremental_kmeans",
    "llm_knn_int8",
    "llm_knn_pq",
    "llm_knn_pq_rerank",
    "llm_knn_ivfpq",
    "llm_knn_ivf_kmeans",
    "llm_embedding_near_dup_ivf",
    "llm_embedding_near_dup_ivf2",
    "llm_cdc_chunk_dedup",
    "llm_ann_recall",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    from tools.verify_local import oracle_connection

    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _ANN_ORACLE_NAMES)
def test_ann_family_matches_oracle(spark, sf_dir, oracle_con, name):
    """Every registered ANN, near-dup and CDC query matches its DuckDB
    oracle: row count, column names and the order-insensitive value
    hash (the same comparison tools/verify_local.py runs)."""
    from sig_etl_spark.queries import QUERIES
    from tools.verify_local import check

    assert QUERIES[name].oracle is not None, name
    assert check(spark, oracle_con, sf_dir, name) == []


def test_no_implementation_tier_option_in_library():
    """Each operator has one implementation: no function under
    sig_etl_spark/ takes an ``impl`` parameter, and no string literal
    "expr" names a second tier."""
    import ast
    import pathlib

    root = pathlib.Path(S.__file__).resolve().parents[1]
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "impl" in names:
                    found.append(f"{path.name}:{node.lineno} def {node.name}(impl=...)")
            elif isinstance(node, ast.Constant) and node.value == "expr":
                found.append(f'{path.name}:{node.lineno} "expr"')
    assert not found, found


# Value hashes (tools/verify_local.frame_hash) of fixture configurations
# no registered query runs, per fixture set.
_FIXTURE_HASHES = {
    "sf0.001": {
        "near_dup_flat_cell64": "8c9565c6a2e127c473d7a21bf8ad9981",
        "near_dup_2level_cell64": "500672268bae278b58244582d2e4afbb",
        "ivf_nprobe12": "2ba0a5b9daa279b18fc519937ec203ee",
        "incremental_deletes11_c8": "4acdf5b5bc89db0e0f5890af489da33e",
        "ivf_kmeans_c8": "bf09d3f0208289a946534187a075557d",
        "lsh_b8p3": "c1d43c0da8f49cd35e1c3cde959c0610",
        "pq_encode_cell8": "e3192ccf18d97dce173c7113af38def9",
        # str() rows, md5 of the sorted lines: keeps NaN apart from NULL
        "pq_luts": "bff546df2768f01a13f82f89e97d0ffd",
    },
}


def _fixture_hash(sf_dir, key):
    import os

    pinned = _FIXTURE_HASHES.get(os.path.basename(os.path.normpath(sf_dir)))
    if pinned is None:
        pytest.skip(f"no pinned hash for fixture set {sf_dir}")
    return pinned[key]


def _frame_hash(df):
    """tools.verify_local.frame_hash of a Spark frame (array cells as
    lists)."""
    import pandas as pd

    from tools.verify_local import frame_hash

    return frame_hash(
        pd.DataFrame(
            [r.asDict(recursive=True) for r in df.collect()], columns=df.columns
        )
    )


def _repr_hash(df):
    """md5 of the sorted str() rows — unlike frame_hash it tells a NaN
    cell from a NULL one."""
    import hashlib

    return hashlib.md5(
        "\n".join(sorted(str(tuple(r)) for r in df.collect())).encode()
    ).hexdigest()


def _fixture_split(spark, sf_dir):
    from sig_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return emb, emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10)


def _cents_arr(corpus, n):
    """(cents) one-row array of the n hash-sampled centroids with their
    norms — the coarse quantizer ivfpq_topk hands the encoder."""
    cents = S._hash_sample(
        corpus, "vec_id", "embedding", n, "cent_id", "cent_vec"
    ).select(
        "cent_id", "cent_vec",
        S._double_dot(F.col("cent_vec"), F.col("cent_vec")).alias("cent_norm2"),
    )
    return cents, cents.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_vec", "cent_norm2"))
        ).alias("cents")
    )


def test_pq_encode_fixture_codes_pinned(spark, sf_dir):
    """Codes, reconstructed norms and the coarse cell of every fixture
    corpus row under an 8-cell quantizer (llm_knn_ivfpq runs 16 cells)."""
    _, _, corpus = _fixture_split(spark, sf_dir)
    _, cents_arr = _cents_arr(corpus, 8)
    df = S._pq_encode_np(
        corpus, "vec_id", "embedding", 8, 16, 64, cents_arr=cents_arr
    )
    assert _frame_hash(df) == _fixture_hash(sf_dir, "pq_encode_cell8")


def test_pq_encode_numpy_tier_zero_vector_and_bad_rows(spark):
    """Encoder policy on edge rows: a ZERO vector (all-NaN negsims)
    picks the min cent_id (Spark's equal-NaN ordering; the NaN->inf
    mapping reproduces it). A NULL, wrong-length, or non-finite vector
    gets NULL codes/recon/cent_id by documented policy. Clean rows keep
    their pinned codes."""
    import math

    dim = 64
    base = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(dim)]) for i in range(20)
    ]
    rows = base + [
        (100, [0.0] * dim),                       # zero vector: NaN negsims
        (101, None),                              # NULL vector
        (102, [1.0] * 8),                         # wrong length
        (103, [math.nan] + [1.0] * (dim - 1)),    # non-finite element
        (104, [math.inf] + [1.0] * (dim - 1)),    # non-finite element
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    corpus = df.filter(F.col("vec_id").isNotNull())
    cents, cents_arr = _cents_arr(corpus.filter(F.col("vec_id") < 100), 4)
    enc = S._pq_encode_np(
        corpus, "vec_id", "embedding", 8, 4, dim, cents_arr=cents_arr
    )
    out = {r.corpus_id: r for r in enc.collect()}
    # bad rows: NULL everything
    for bad in (101, 102, 103, 104):
        assert out[bad].codes is None
        assert out[bad].recon_norm2 is None
        assert out[bad].cent_id is None
    # zero vector: valid codes, cell == min cent_id (all-NaN tie rule)
    min_cent = min(r.cent_id for r in cents.collect())
    assert out[100].codes is not None
    assert out[100].cent_id == min_cent
    # clean rows: row i's vector depends only on i % 5
    ones, zeros = [1] * 8, [0] * 8
    want = {
        0: ([0, 1, 0, 0, 1, 0, 1, 0], 119.0),
        1: (zeros, 129.0),
        2: (ones, 130.0),
        3: (zeros, 129.0),
        4: (ones, 130.0),
    }
    for i in range(20):
        assert (list(out[i].codes), out[i].recon_norm2) == want[i % 5], i
    assert _frame_hash(enc) == "3ba9ef5a3b14a087f494a08962d1f9be"


def test_brute_force_tiers_identical_and_nan_policy(spark):
    """brute_force_topk's undefined-similarity policy on a pathological
    frame (zero vectors, NULL vectors, wrong lengths, NaN/inf elements):
    zero-norm OR NaN cosine => NULL, ranked last. A mixed-dimension
    query set takes the broadcast-join path and follows the same
    policy. Full row sets pinned; the fixture is oracle-checked
    (llm_knn_bruteforce)."""
    import math

    dim = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0] * dim),                       # zero query: NULL cosines
        (2, None),                              # NULL query
        (3, [math.nan, 1.0, 1.0, 1.0]),         # NaN query
        (10, [1.0, 0.1, 0.0, 0.0]),
        (11, [0.0] * dim),                      # zero corpus: NULL cosine
        (12, None),                             # NULL corpus
        (13, [1.0] * 8),                        # wrong length
        (14, [math.inf, 1.0, 1.0, 1.0]),        # inf corpus: NaN -> NULL
        (15, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qq = df.filter(F.col("vec_id") < 10)
    cc = df.filter(F.col("vec_id") >= 10)
    ra = sorted(map(tuple, S.brute_force_topk(qq, cc, "vec_id", "embedding", k=10).collect()))
    null_ranked = [
        (q, c, None, r) for q in (1, 2, 3) for r, c in enumerate(range(10, 16), 1)
    ]
    assert ra == sorted(
        [(0, 10, 0.9950371902099893, 1), (0, 15, -1.0, 2)]
        + [(0, c, None, r) for r, c in enumerate(range(11, 15), 3)]
        + null_ranked
    )
    by_pair = {(r[0], r[1]): r[2] for r in ra}
    # undefined-similarity policy: every pathological pair is NULL...
    for qid in (0, 1, 2, 3):
        for cid in (11, 12, 13, 14):
            assert by_pair[(qid, cid)] is None, (qid, cid)
    # ...and real pairs score, with NULLs ranked last
    assert by_pair[(0, 10)] is not None
    ranks = {(r[0], r[1]): r[3] for r in ra}
    assert ranks[(0, 10)] < ranks[(0, 11)]

    qm = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    fm = sorted(map(tuple, S.brute_force_topk(qm, cc, "vec_id", "embedding", k=3).collect()))
    assert fm == [
        (0, 10, None, 1), (0, 11, None, 2), (0, 12, None, 3),
        (1, 10, 0.9950371902099893, 1), (1, 11, None, 3), (1, 15, -1.0, 2),
    ]


def test_int8_tiers_identical_and_edge_policy(spark):
    """int8_topk's edge policy on a pathological frame: NULL / empty /
    all-zero / NaN-scaled vectors have a non-positive norm -> cosine 0.0
    for every partner; dimension-mismatched pairs with BOTH norms
    positive -> NULL cosine, ranked last. A vector containing -inf
    quantizes to all-zero codes (x*127/inf -> 0 or NaN, floor(NaN) -> 0)
    -> 0.0. Full row set pinned; the fixture is oracle-checked
    (llm_knn_int8)."""
    import math

    rows = [
        (1, [1.0, 2.0, -3.0, 0.5]),
        (2, None),                          # NULL query: 0.0 everywhere
        (3, []),                            # empty: qn=0 -> 0.0
        (5, [1.0, 2.0]),                    # 2-dim query
        (6, [math.nan, 1.0, 1.0, 1.0]),     # NaN scale -> zero codes
        (4, [0.0, 0.0, 0.0, 0.0]),          # zero corpus: 0.0
        (7, [-math.inf, 1.0, 1.0, 1.0]),    # -inf -> zero codes -> 0.0
        (9, [2.0, -1.0, 0.25, 4.0]),
        (10, [-0.5, 3.0]),                  # 2-dim corpus
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qq = df.filter(F.col("vec_id").isin(1, 2, 3, 5, 6))
    cc = df.filter(~F.col("vec_id").isin(1, 2, 3, 5, 6))
    ra = sorted(map(tuple, S.int8_topk(qq, cc, "vec_id", "embedding", k=10).collect()))
    assert ra == sorted(
        [
            (1, 4, 0.0, 2), (1, 7, 0.0, 3), (1, 9, 0.0693669544556868, 1),
            (1, 10, None, 4),
            (5, 4, 0.0, 2), (5, 7, 0.0, 3), (5, 9, None, 4),
            (5, 10, 0.8076362609689222, 1),
        ]
        + [(q, c, 0.0, r) for q in (2, 3, 6) for r, c in enumerate((4, 7, 9, 10), 1)]
    )
    by_pair = {(r[0], r[1]): r[2] for r in ra}
    assert by_pair[(1, 9)] is not None and by_pair[(1, 9)] != 0.0
    assert by_pair[(5, 10)] is not None      # matching 2-dim pair scores
    assert by_pair[(1, 10)] is None          # 4-dim q x 2-dim c: NULL
    assert by_pair[(5, 9)] is None           # 2-dim q x 4-dim c: NULL
    for cid in (4, 7, 9, 10):
        assert by_pair[(2, cid)] == 0.0      # NULL query
        assert by_pair[(3, cid)] == 0.0      # empty query
        assert by_pair[(6, cid)] == 0.0      # NaN-scaled query
    for qid in (1, 5):
        assert by_pair[(qid, 4)] == 0.0      # zero corpus
        assert by_pair[(qid, 7)] == 0.0      # -inf corpus


_ND_EDGE_ROWS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, None),                          # NULL vector: no pairs
    (4, [1.0, None, 0.0, 0.0]),         # NULL element: no pairs
    (5, [1.0] * 8),                     # wrong length vs the rest
    (6, [0.95] * 8),                    # ...but pairs with vec 5
    (7, [float("nan"), 1.0, 1.0, 1.0]), # NaN: cosine NaN, kept
    (8, [float("inf"), 1.0, 0.0, 0.0]), # inf arithmetic
    (9, [-1.0, 0.0, 0.0, 0.0]),
]


def _nd_pairs(df, fn):
    """{(id_a, id_b): cosine bytes} at nassign=3, target_cell=64. NaN
    cosines arrive as NULL (the Arrow return path cannot carry a NaN
    distinct from NULL; the oracle canonicalizer maps both to NULL)."""
    import struct

    out = fn(
        df, "vec_id", "embedding", threshold=0.3, nassign=3, target_cell=64
    ).collect()
    return {
        (r.id_a, r.id_b): None if r.cosine is None else struct.pack("d", r.cosine)
        for r in out
    }


def test_ivf_near_dup_jvm_assignment_bitwise_equals_arrow(spark, sf_dir, monkeypatch):
    """Above _ASSIGN_COLLECT_CEILING centroids ivf_near_dup_pairs
    assigns through the JVM broadcast join (_ivf_assign_expr) instead of
    the Arrow pass: the two must give the same pair set with bitwise
    equal cosines, on the fixture AND on a pathological frame (NULL
    vector, NULL element, wrong length, NaN / inf elements). Also pins
    both near-dup operators at target_cell=64 (the registered queries
    run 256) and the edge frame's full pair set."""
    import struct

    emb, _, _ = _fixture_split(spark, sf_dir)
    edge = spark.createDataFrame(_ND_EDGE_ROWS, ["vec_id", "embedding"])
    arrow = {
        "fixture": _nd_pairs(emb, S.ivf_near_dup_pairs),
        "edge": _nd_pairs(edge, S.ivf_near_dup_pairs),
    }
    monkeypatch.setattr(S, "_ASSIGN_COLLECT_CEILING", 0)
    jvm = {
        "fixture": _nd_pairs(emb, S.ivf_near_dup_pairs),
        "edge": _nd_pairs(edge, S.ivf_near_dup_pairs),
    }
    monkeypatch.undo()
    assert jvm == arrow and arrow["fixture"]

    b = arrow["edge"]
    assert b == {
        (0, 1): struct.pack("d", 0.9938837346736189),
        (5, 6): struct.pack("d", 1.0000000000000002),
        **{p: None for p in ((0, 7), (0, 8), (1, 7), (1, 8), (2, 7), (2, 8), (7, 8))},
    }
    ids_in_pairs = {i for k in b for i in k}
    assert not ids_in_pairs & {3, 4}         # NULL dots never pair
    assert 7 in ids_in_pairs                 # NaN cosine IS kept (NaN >= thr)
    assert b[(5, 6)] is not None             # same-nonstandard-length pair

    for fn, key in (
        (S.ivf_near_dup_pairs, "near_dup_flat_cell64"),
        (S.ivf_near_dup_pairs_2level, "near_dup_2level_cell64"),
    ):
        df = fn(emb, "vec_id", "embedding", threshold=0.3, nassign=3, target_cell=64)
        assert _frame_hash(df) == _fixture_hash(sf_dir, key), key


def test_ivf_near_dup_zero_norm_raises_in_both_tiers(spark, monkeypatch):
    """A zero-norm vector makes the raw cosine division hit a zero
    divisor: both assignment paths — the Arrow pass and the JVM
    broadcast join used above _ASSIGN_COLLECT_CEILING — fail with
    DIVIDE_BY_ZERO instead of silently emitting garbage pairs."""
    rows = [(0, [1.0, 0.0]), (1, [0.5, 0.1]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    for ceiling in (S._ASSIGN_COLLECT_CEILING, 0):
        monkeypatch.setattr(S, "_ASSIGN_COLLECT_CEILING", ceiling)
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            S.ivf_near_dup_pairs(
                df, "vec_id", "embedding",
                threshold=0.3, nassign=2, target_cell=2,
            ).collect()


def test_ivf_topk_tiers_identical_and_null_policy(spark, sf_dir):
    """ivf_topk on a pathological frame (zero / NULL / NaN / inf /
    wrong-length / empty vectors) follows _cosine_expr's
    undefined-similarity policy: zero-norm OR NaN cosine => NULL, ranked
    last — the assignment runs policy='cosine_null', NOT the near-dup
    scorer's raw-raise rule. Full row set pinned; nprobe=3 is
    oracle-checked (llm_knn_ivf), nprobe=12 pinned by value hash."""
    import math

    _, q, c = _fixture_split(spark, sf_dir)
    hi = S.ivf_topk(q, c, "vec_id", "embedding", k=5, n_centroids=16, nprobe=12)
    assert _frame_hash(hi) == _fixture_hash(sf_dir, "ivf_nprobe12")

    dim = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0] * dim),                    # zero query: NULL csim everywhere
        (2, None),                           # NULL query
        (3, [math.nan, 1.0, 1.0, 1.0]),      # NaN query -> NULL csim
        (10, [1.0, 0.1, 0.0, 0.0]),
        (11, [0.0] * dim),                   # zero corpus vector
        (12, None),                          # NULL corpus vector
        (13, [1.0] * 8),                     # wrong length
        (14, [math.inf, 1.0, 1.0, 1.0]),     # inf -> inf/inf = NaN -> NULL
        (15, []),                            # empty vector
        (16, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qq = df.filter(F.col("vec_id") < 10)
    cc = df.filter(F.col("vec_id") >= 10)
    ra = sorted(map(tuple, S.ivf_topk(
        qq, cc, "vec_id", "embedding", k=10, n_centroids=4, nprobe=4).collect()))
    assert ra == sorted(
        [(0, 10, 0.9950371902099893, 1), (0, 16, -1.0, 2)]
        + [(0, c, None, r) for r, c in enumerate(range(11, 16), 3)]
        + [(q, c, None, r) for q in (1, 2, 3) for r, c in enumerate(range(10, 17), 1)]
    )


def test_ivf_incremental_and_kmeans_tiers_identical(spark, sf_dir):
    """The maintenance compositions at configurations no registered
    query runs (8 cells, tombstones vec_id % 11 == 0; k-means with 8
    cells) keep their pinned value hashes."""
    emb, q, c = _fixture_split(spark, sf_dir)
    static = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 7 != 0))
    delta = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 7 == 0))
    deletes = emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    inc = S.ivf_incremental_topk(
        q, static, delta, "vec_id", "embedding", k=5, n_centroids=8,
        nprobe=3, deletes=deletes,
    )
    assert _frame_hash(inc) == _fixture_hash(sf_dir, "incremental_deletes11_c8")
    km = S.ivf_kmeans_topk(
        q, c, "vec_id", "embedding", k=5, n_centroids=8, nprobe=3
    )
    assert _frame_hash(km) == _fixture_hash(sf_dir, "ivf_kmeans_c8")


def test_lsh_tiers_identical_and_edge_rows(spark, sf_dir):
    """LSH bucket bits and results on a pathological frame. Bucket-bit
    rule: NULL vec / NULL element / length mismatch -> bit '0'; NaN
    fold -> '1' (Spark's and DuckDB's >= rank NaN above every numeric);
    +inf fold -> '1' where the sign is positive. The b2p4 fixture config
    is oracle-checked (llm_knn_lsh); b8p3 is pinned by value hash."""
    import math

    _, q, c = _fixture_split(spark, sf_dir)
    hi = S.lsh_topk(
        q, c, "vec_id", "embedding", k=5, dim=64, bands=8, planes_per_band=3
    )
    assert _frame_hash(hi) == _fixture_hash(sf_dir, "lsh_b8p3")

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),           # zero vector: real buckets, NULL cosine
        (2, None),                           # NULL vec -> all-'0' buckets
        (3, [math.nan, 1.0, 1.0, 1.0]),      # NaN fold -> '1' bits (NaN-greatest)
        (10, [1.0, 0.1, 0.0, 0.0]),
        (11, None),
        (12, [1.0] * 8),                     # wrong length -> '0' bits
        (13, [math.inf, 1.0, 1.0, 1.0]),     # inf fold -> '1' where sign(+)
        (14, []),                            # empty -> '0' bits, norm2 0.0
        (15, [-1.0, 0.2, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = S.hyperplanes(4, 6, 7)
    buckets = {
        (r.vid, r.band): r.bucket
        for r in S._with_buckets_np(
            df, "vec_id", "embedding", "vid", [planes[:3], planes[3:]]
        ).collect()
    }
    want = {0: "001", 1: "111", 2: "000", 3: "111", 10: "001", 11: "000",
            12: "000", 13: "001", 14: "000", 15: "110"}
    assert buckets == {(v, b): w for v, w in want.items() for b in (0, 1)}

    qq = df.filter(F.col("vec_id") < 10)
    cc = df.filter(F.col("vec_id") >= 10)
    ra = sorted(map(tuple, S.lsh_topk(
        qq, cc, "vec_id", "embedding", k=10, dim=4, bands=2,
        planes_per_band=3).collect()))
    assert ra == [
        (0, 10, 0.9950371902099893, 1), (0, 13, None, 2),
        (2, 11, None, 1), (2, 12, None, 2), (2, 14, None, 3),
    ]


def test_pq_encode_np_schema_matches_expr_twin(spark, sf_dir):
    """The encoder's statically-constructed output schema: every field
    nullable (the bad-row policy emits NULLs), codes elements the
    IntegerType row_number-derived j."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    _, _, c = _fixture_split(spark, sf_dir)
    got = S._pq_encode_np(c, "vec_id", "embedding", 8, 16, 64).schema
    assert got == StructType(
        [
            StructField("corpus_id", LongType(), True),
            StructField("codes", ArrayType(IntegerType(), True), True),
            StructField("recon_norm2", DoubleType(), True),
        ]
    )


def test_pq_luts_tiers_identical_and_edge_rows(spark, sf_dir):
    """_pq_luts_np on the fixture queries AND on pathological query
    vectors (NULL vec, NULL element, NaN/inf, short/long/empty): the
    slice + fold padding rules — unequal-length slices -> NULL,
    equal-length slices fold over that length, two empty slices -> 0.0;
    NaN stays NaN (not NULL). Rows pinned by a NaN-preserving hash."""
    import math

    from sig_etl_spark.llm.similarity import _pq_codebook_entries, _pq_luts_np

    _, q, c = _fixture_split(spark, sf_dir)
    cb_entries = _pq_codebook_entries(c, "vec_id", "embedding", 16, 8, 8)
    luts = _pq_luts_np(q, "vec_id", "embedding", cb_entries, 8, 8)
    assert _repr_hash(luts) == _fixture_hash(sf_dir, "pq_luts")

    rows = [
        (0, [1.0] * 64),
        (1, None),                               # NULL vec -> NULL luts + qnorm2
        (2, [1.0] * 63 + [None]),                # NULL element
        (3, [math.nan] + [1.0] * 63),            # NaN folds stay NaN
        (4, [math.inf] + [1.0] * 63),            # inf folds survive the bridge
        (5, [1.0] * 8),                          # short: m=0 folds (equal 8-slices), m>=1 NULL
        (6, [1.0] * 70),                         # long: full slices everywhere, real folds
        (7, []),                                 # empty vs 8-long entry slices -> NULL
    ]
    qq = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    edge = _pq_luts_np(qq, "vec_id", "embedding", cb_entries, 8, 8)
    out = {r.query_id: r for r in edge.collect()}

    def null_subspaces(r):
        return [m is None or all(x is None for x in m) for m in r.lut]

    assert out[0].qnorm2 == 64.0 and not any(null_subspaces(out[0]))
    assert out[1].qnorm2 is None and all(null_subspaces(out[1]))
    assert out[2].qnorm2 is None and null_subspaces(out[2]) == [False] * 7 + [True]
    assert math.isnan(out[3].qnorm2) and math.isnan(out[3].lut[0][0])
    assert out[4].qnorm2 == math.inf
    assert out[5].qnorm2 == 8.0 and null_subspaces(out[5]) == [False] + [True] * 7
    assert out[6].qnorm2 == 70.0 and not any(null_subspaces(out[6]))
    assert out[7].qnorm2 == 0.0 and all(null_subspaces(out[7]))
    assert _repr_hash(edge) == "e9d65c534acccdb8a17726d1d8d48ca9"


def test_ivf_kmeans_string_id_corpus_tier_schema_parity(spark):
    """A trained quantizer (cent_id long by construction) over a
    string-id corpus: cent_id carries the centroid frame's own type, so
    the result keeps the string ids and the pinned rows."""
    import random

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    random.seed(1)
    rows = [
        (f"id{i:03d}", [random.gauss(0.0, 1.0) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "sid string, vec array<double>")
    q = df.filter(F.col("sid") < "id010")
    c = df.filter(F.col("sid") >= "id010")
    a = S.ivf_kmeans_topk(
        q, c, "sid", "vec", k=3, n_centroids=4, sample_size=16, iters=2
    )
    assert a.schema == StructType(
        [
            StructField("query_id", StringType(), True),
            StructField("corpus_id", StringType(), True),
            StructField("cosine", DoubleType(), True),
            StructField("rank", IntegerType(), False),
        ]
    )
    assert _frame_hash(a) == "3735008606da8c71bbca72a8065fbd83"


def test_ivfpq_probe_dot_is_double_on_float_arrays(spark):
    """The query's cell probe multiplies in double: an array<float>
    embedding probes the same cells (and so returns the same rows) as the
    same vectors cast to array<double>. The query sits within float32
    rounding of the bisector of the two cells, so a float product
    (x * y on float elements) probes the other cell."""
    c1 = [0.37108397483825684, 0.3009185492992401, 0.37689346075057983,
          -0.22215715050697327]
    c2 = [-0.7298070192337036, 0.4429766833782196, 0.05070864409208298,
          -0.37951624393463135]
    q = [-0.20716731250286102, 0.937956690788269, 0.6359922885894775,
         -0.7485512495040894]
    schema = "vec_id long, embedding array<float>"
    queries = spark.createDataFrame([(0, q)], schema)
    corpus = spark.createDataFrame([(1, c1), (2, c2)], schema)

    def top(vec):
        return S.ivfpq_topk(
            queries.select("vec_id", vec.alias("embedding")),
            corpus.select("vec_id", vec.alias("embedding")),
            "vec_id", "embedding", k=1, n_centroids=2, nprobe=1,
            m_subs=2, ksub=2, dim=4, shortlist=2,
        ).collect()

    as_float = top(F.col("embedding"))
    as_double = top(F.col("embedding").cast("array<double>"))
    assert as_float == as_double and as_double
