"""Property tests for dedup operators (SURVEY §5.4 model: planted dups,
blocking invariants, threshold monotonicity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sig_etl_spark.llm import dedup as D

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
    (4, "completely different content about spark query engines and shuffles here"),
    (5, "another unrelated document discussing window functions and aggregation"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_groups(spark):
    out = D.exact_dedup(_docs(spark), "doc_id", "text").collect()
    by_n = {r.n_copies: r for r in out}
    assert by_n[2].canonical_id == 1  # lowest id survives
    assert sum(r.n_copies for r in out) == 5
    assert len(out) == 4  # 1&2 collapse


def test_minhash_lsh_finds_planted_pair(spark):
    pairs = D.minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert found[(1, 2)] == 1.0  # identical docs: every minhash agrees
    assert (1, 3) in found or (2, 3) in found  # near dup caught
    assert all({a, b} & {4, 5} == set() or est > 0.5 for (a, b), est in found.items())
    # unrelated docs never pair up
    assert (4, 5) not in found


def test_minhash_threshold_monotonic(spark):
    lo = D.minhash_lsh_pairs(_docs(spark), "doc_id", "text", threshold=0.3).collect()
    hi = D.minhash_lsh_pairs(_docs(spark), "doc_id", "text", threshold=0.9).collect()
    lo_pairs = {(r.id_a, r.id_b) for r in lo}
    hi_pairs = {(r.id_a, r.id_b) for r in hi}
    assert hi_pairs <= lo_pairs


def test_simhash_identical_and_near(spark):
    sh = {r.doc_id: r.simhash for r in D.simhash(_docs(spark), "doc_id", "text").collect()}
    assert sh[1] == sh[2]
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             D.simhash_near_pairs(_docs(spark), "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert (4, 5) not in pairs


def test_ngram_jaccard_exact_dup_scores_one(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             D.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.4).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (4, 5) not in pairs


def test_embedding_blocking_invariant(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "x"),
        (2, [0.9, 0.1, 0.0], "x"),
        (3, [1.0, 0.0, 0.0], "y"),  # identical to 1 but different block
        (4, [0.0, 1.0, 0.0], "x"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = D.embedding_near_dup_pairs(df, "vec_id", "embedding", "label", 0.9).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in ids
    assert (1, 3) not in ids  # blocking: no cross-block comparisons
    assert all(r.cosine >= 0.9 for r in pairs)


def test_connected_components_chain_star_singleton(spark):
    from sig_etl_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20]],
                                  "node long")
    got = {
        r.node: r.cluster_id
        for r in connected_components(pairs, "id_a", "id_b", nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_canonical_by_quality_disagrees_with_min_id(spark):
    """Planted case where min-id and best-quality DISAGREE: cluster {1,2,3}
    has its best quality on doc 3 (min-id canonical would be 1); cluster
    {10,11} ties on quality so the min-id tiebreak keeps 10; singleton 20
    is its own canonical."""
    from sig_etl_spark.llm.dedup import canonical_by_quality, connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 30, 31]], "node long"
    )
    # docs 30/31 have NO quality rows; doc 11's quality ties doc 10's
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.5), (3, 0.9), (10, 0.7), (11, 0.7), (20, 0.1)],
        "doc_id long, quality double",
    )
    comp = connected_components(pairs, "id_a", "id_b", nodes=nodes)
    got = {
        r.doc_id: (r.cluster_id, r.canonical_doc_id, r.is_canonical, r.quality)
        for r in canonical_by_quality(comp, quality).collect()
    }
    assert got == {
        1: (1, 3, False, 0.2),
        2: (1, 3, False, 0.5),
        3: (1, 3, True, 0.9),   # best quality wins over min-id 1
        10: (10, 10, True, 0.7),  # quality tie -> min doc_id
        11: (10, 10, False, 0.7),
        20: (20, 20, True, 0.1),
        # unscored docs are KEPT, quality NULL, min-id canonical
        30: (30, 30, True, None),
        31: (30, 30, False, None),
    }


def test_canonical_by_quality_respects_node_col(spark):
    """node_col other than 'node' must resolve (round-14 ADVICE fix: the
    parameter was declared but the body hardcoded 'node')."""
    from sig_etl_spark.llm.dedup import canonical_by_quality

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "member long, cluster_id long"
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5)], "doc_id long, quality double"
    )
    got = {
        r.doc_id: (r.canonical_doc_id, r.is_canonical)
        for r in canonical_by_quality(comp, quality, node_col="member").collect()
    }
    assert got == {1: (2, False), 2: (2, True), 3: (3, True)}


def test_connected_components_long_chain_converges(spark):
    from sig_etl_spark.llm.dedup import connected_components

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = connected_components(pairs, "id_a", "id_b", max_iter=10).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == n + 1


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    from sig_etl_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, "id_a", "id_b", max_iter=1)


def test_connected_components_matches_union_find(spark):
    """Property: distributed CC == classic union-find on random graphs."""
    import numpy as np

    rng = np.random.default_rng(23)
    from sig_etl_spark.llm.dedup import connected_components

    for trial in range(3):
        n, m = 60, 45
        edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2))
                 if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {v: find(v) for v in range(n)}
        # canonical label = min member id per component
        comp_min = {}
        for v, r in expected.items():
            comp_min.setdefault(r, v)
            comp_min[r] = min(comp_min[r], v)
        expected = {v: comp_min[r] for v, r in expected.items()}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
        got = {
            r.node: r.cluster_id
            for r in connected_components(pairs, "id_a", "id_b", nodes=nodes).collect()
        }
        assert got == expected, f"trial {trial}"

def test_simhash_chunk_blocking_completeness_property():
    """Pigeonhole completeness, pure math: for any 64-bit value and any
    <= n_chunks-1 bit flips, the chunked decompositions share a chunk.
    Exercised over many random (value, flip-set) draws for 4/8/16 chunks."""
    import random

    rng = random.Random(20260813)

    def chunks_of(x, n_chunks):
        w = 64 // n_chunks
        m = (1 << w) - 1
        return [(c, (x >> (c * w)) & m) for c in range(n_chunks)]

    for n_chunks in (4, 8, 16):
        for _ in range(500):
            x = rng.getrandbits(64)
            d = rng.randint(0, n_chunks - 1)
            y = x
            for bit in rng.sample(range(64), d):
                y ^= 1 << bit
            assert set(chunks_of(x, n_chunks)) & set(chunks_of(y, n_chunks)), (
                f"n_chunks={n_chunks} x={x:#x} y={y:#x} d={d}"
            )


def test_simhash_n_chunks_equivalent_results(spark):
    """8-chunk blocking must produce the identical verified pair set as the
    default 4-chunk blocking for the same max_hamming (both complete for
    <= 3): the candidate sets differ, the post-verification output cannot."""
    def pairs(n_chunks):
        return {
            (r.id_a, r.id_b, r.hamming)
            for r in D.simhash_near_pairs(
                _docs(spark), "doc_id", "text", max_hamming=3, n_chunks=n_chunks
            ).collect()
        }

    assert pairs(8) == pairs(4)


def test_simhash_rejects_incomplete_blocking(spark):
    import pytest

    with pytest.raises(ValueError, match="complete"):
        D.simhash_near_pairs(_docs(spark), "doc_id", "text",
                             max_hamming=5, n_chunks=4)
    with pytest.raises(ValueError, match="divide"):
        D.simhash(_docs(spark), "doc_id", "text", n_chunks=5)


def test_dup_spans_planted(spark):
    """A verbatim 12-token span shared by two docs must produce, for
    k=8, exactly 12-8+1 = 5 consecutive duplicated windows in each; a
    doc of unique tokens reports zero."""
    from sig_etl_spark.llm.dedup import dup_spans

    span = " ".join(f"s{i}" for i in range(12))
    rows = [
        (0, "u0 u1 u2 " + span + " u3 u4 u5"),
        (1, "v0 v1 " + span + " v2 v3 v4 v5"),
        (2, " ".join(f"w{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dup_spans(df, "doc_id", "text", k=8).collect()}
    assert out[0].n_dup_windows == 5 and out[0].max_dup_run == 5
    assert out[1].n_dup_windows == 5 and out[1].max_dup_run == 5
    assert out[2].n_dup_windows == 0 and out[2].max_dup_run == 0
    assert out[2].dup_fraction == 0.0
    # n_windows = len(tokens) - 7
    assert out[0].n_windows == 18 - 7
    # two separate planted spans -> max_dup_run stays at the longer one
    span2 = " ".join(f"t{i}" for i in range(8))
    rows2 = [
        (0, span + " x0 x1 x2 x3 x4 x5 x6 x7 " + span2),
        (1, span + " y0 y1 y2 y3 y4 y5 y6 y7 " + span2),
    ]
    df2 = spark.createDataFrame(rows2, ["doc_id", "text"])
    out2 = {r.doc_id: r for r in dup_spans(df2, "doc_id", "text", k=8).collect()}
    assert out2[0].max_dup_run == 5
    assert out2[0].n_dup_windows == 6  # 5 from span, 1 from span2


def test_simhash_hot_bucket_cap(spark):
    """With a hot bucket over the cap, its pairs are cut (bounded work);
    pairs whose shared chunks are all under the cap survive."""
    from sig_etl_spark.llm.dedup import simhash_near_pairs

    hot = [(i, "alpha beta gamma delta epsilon") for i in range(30)]
    cold = [
        (100, "zeta eta theta iota kappa lambda mu nu xi"),
        (101, "zeta eta theta iota kappa lambda mu nu xi"),
    ]
    df = spark.createDataFrame(hot + cold, ["doc_id", "text"])
    capped = simhash_near_pairs(
        df, "doc_id", "text", max_hamming=3, max_bucket=10
    ).collect()
    ids = {(r.id_a, r.id_b) for r in capped}
    # the 30-identical-doc cluster is cut entirely (every shared chunk hot)
    assert not any(a < 100 and b < 100 for a, b in ids)
    # the cold near-dup pair survives if within hamming 3
    uncapped = simhash_near_pairs(df, "doc_id", "text", max_hamming=3).collect()
    un_ids = {(r.id_a, r.id_b) for r in uncapped}
    assert (100, 101) in un_ids
    assert (100, 101) in ids
    # uncapped finds the hot cluster's pairs — the cap is the only delta
    assert any(a < 100 and b < 100 for a, b in un_ids)


def test_minhash_clusters_agree_with_pair_graph(spark, sf_dir):
    """Every LSH pair must land in one cluster; every multi-member
    cluster must be connected through LSH pairs (spot: same count of
    non-singleton nodes as nodes appearing in pairs... weaker: pair
    endpoints share cluster_id, and cluster sizes are consistent)."""
    from sig_etl_spark.queries import QUERIES

    comp = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in QUERIES["llm_dedup_clusters_minhash"].builder(spark, sf_dir).collect()
    }
    pairs = QUERIES["llm_minhash_lsh"].builder(spark, sf_dir).collect()
    assert comp
    for p in pairs:
        assert comp[p["id_a"]][0] == comp[p["id_b"]][0], p
    # cluster_size bookkeeping is exact
    from collections import Counter

    sizes = Counter(cid for cid, _ in comp.values())
    for doc, (cid, size) in comp.items():
        assert sizes[cid] == size


def test_dedup_savings_reconciles_with_clusters(spark, sf_dir):
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in QUERIES["llm_dedup_clusters_minhash"].builder(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    want: dict[str, list[int]] = {}
    for d in docs:
        w = want.setdefault(d["source"], [0, 0, 0])
        w[0] += 1
        if comp[d["doc_id"]] != d["doc_id"]:
            w[1] += 1
            w[2] += d["n_chars"]
    got = {r["source"]: r for r in QUERIES["llm_dedup_savings"].builder(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for src, (n, dropped, chars) in want.items():
        assert got[src]["n_docs"] == n
        assert got[src]["n_dropped"] == dropped
        assert got[src]["chars_saved"] == chars


def test_cluster_aware_split_never_straddles(spark, sf_dir):
    """Every near-dup pair's two members must land in the SAME split —
    the leakage property the per-document split cannot give."""
    from sig_etl_spark.queries import QUERIES

    split = {
        r["doc_id"]: r["split"]
        for r in QUERIES["llm_cluster_aware_split"].builder(spark, sf_dir).collect()
    }
    pairs = QUERIES["llm_minhash_lsh"].builder(spark, sf_dir).collect()
    assert split
    for p in pairs:
        assert split[p["id_a"]] == split[p["id_b"]], p
    # and the split is genuinely three-way at fixture scale
    assert {"train"} <= set(split.values())


def test_dedup_cascade_stage_attribution(spark, sf_dir):
    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["llm_dedup_cascade"].builder(spark, sf_dir).collect()
    assert rows
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r)
    # every planted twin (shifted id) is an exact dup of its base
    assert len(by_stage.get("exact_dup", [])) >= len(rows) // 2
    for r in by_stage.get("exact_dup", []):
        assert r["exact_canonical"] < r["doc_id"]
        assert r["near_canonical"] is None  # removed before stage 2
    for r in by_stage.get("near_dup", []):
        assert r["doc_id"] == r["exact_canonical"]  # survived stage 1
        assert r["near_canonical"] < r["doc_id"]
    for r in by_stage.get("kept", []):
        assert r["doc_id"] == r["exact_canonical"] == r["near_canonical"]
    # the kept set matches the standalone minhash clustering canonicals
    kept = {r["doc_id"] for r in by_stage.get("kept", [])}
    standalone = {
        r["doc_id"]
        for r in QUERIES["llm_dedup_clusters_minhash"].builder(spark, sf_dir).collect()
        if r["is_canonical"]
    }
    assert kept == standalone


def test_curation_minhash_same_gate_one_keep_per_cluster(spark, sf_dir):
    """The sketch-bounded curation twin must gate the IDENTICAL document
    set with identical quality scores as the exact twin (the pair layer
    is the only thing re-based), assign min-label cluster ids, and keep
    exactly one canonical doc per cluster."""
    from collections import Counter

    from sig_etl_spark.queries import QUERIES

    exact = {
        r["doc_id"]: r["quality"]
        for r in QUERIES["llm_corpus_curation"].builder(spark, sf_dir).collect()
    }
    sk = QUERIES["llm_corpus_curation_minhash"].builder(spark, sf_dir).collect()
    assert {r["doc_id"] for r in sk} == set(exact)
    for r in sk:
        assert r["quality"] == exact[r["doc_id"]]
        assert r["cluster_id"] <= r["doc_id"]  # min-label propagation
        assert r["keep"] == (r["doc_id"] == r["cluster_id"])
    per_cluster = Counter(r["cluster_id"] for r in sk if r["keep"])
    assert set(per_cluster.values()) == {1}
    # and the cluster layer agrees with the standalone sketch clustering
    # restricted to the gated corpus: pairs endpoints share clusters there
    clusters = Counter(r["cluster_id"] for r in sk)
    assert sum(clusters.values()) == len(sk)


def test_e2e_capstone_thresholds_match_gate_v2():
    """llm_crawl_curation_e2e restates the gate-v2 thresholds and the
    scrub constants locally (module-scope import would reorder query
    registration) — this pins them so they cannot drift."""
    from sig_etl_spark.queries import llm_dedup as LD
    from sig_etl_spark.queries import llm_text as LT

    assert LD._E2E_TTR == LT._GATE_TTR
    assert LD._E2E_DUP == LT._GATE_DUP
    assert LD._E2E_COV == LT._GATE_COV
    assert LD._E2E_SEG_G == LT._SEG_G
    assert LD._E2E_SEG_T == LT._SEG_T


def test_e2e_capstone_composition_consistency(spark, sf_dir):
    """The capstone must agree with its standalone stages: every output
    doc passes the gate-v2 thresholds on its scrubbed signals, clusters
    are min-label with exactly one canonical each, no cluster straddles
    a split boundary, and the survivors' near-dup pairs (recomputed over
    the same scrubbed survivor texts) land in one cluster."""
    from collections import Counter

    from sig_etl_spark.llm import dedup as D
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.queries.llm_dedup import _E2E_COV, _E2E_DUP, _E2E_TTR

    rows = QUERIES["llm_crawl_curation_e2e"].builder(spark, sf_dir).collect()
    assert rows
    by_cluster_split = {}
    for r in rows:
        assert r["ttr"] >= _E2E_TTR
        assert r["dup_gram_ratio"] <= _E2E_DUP
        assert r["coverage"] >= _E2E_COV
        assert r["cluster_id"] <= r["doc_id"]
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])
        assert r["split"] in ("train", "valid", "test")
        by_cluster_split.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster_split.values())
    per_cluster = Counter(r["cluster_id"] for r in rows if r["is_canonical"])
    assert set(per_cluster.values()) == {1}
    # fewer docs than the raw corpus (the gate drops some), but most kept
    from sig_etl_spark.tables import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    assert 0 < len(rows) < n_docs


def test_group_minhash_signature_is_union_signature(spark):
    """The group signature must equal elementwise-min of its members'
    per-doc signatures (min over a union = min of mins) — the property
    that makes the one-groupBy group signature correct."""
    import numpy as np

    from sig_etl_spark.llm.dedup import minhash_group_signatures, minhash_signatures

    rows = [
        (1, "g1", "the quick brown fox jumps over the lazy dog"),
        (2, "g1", "pack my box with five dozen liquor jugs"),
        (3, "g2", "the quick brown fox jumps over the lazy dog"),
        (4, "g2", "sphinx of black quartz judge my vow today now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    per_doc = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(df, "doc_id", "text", k=3, num_hashes=64).collect()
    }
    grp = {
        r["grp"]: [r[f"s{i}"] for i in range(64)]
        for r in minhash_group_signatures(df, "grp", "text", k=3, num_hashes=64).collect()
    }
    want_g1 = np.minimum(per_doc[1], per_doc[2]).tolist()
    want_g2 = np.minimum(per_doc[3], per_doc[4]).tolist()
    assert grp["g1"] == want_g1
    assert grp["g2"] == want_g2
    # identical docs in different groups force signature agreement:
    # est_jaccard(g1, g2) > 0 through the shared member
    agree = sum(1 for a, b in zip(grp["g1"], grp["g2"]) if a == b)
    assert agree > 0


def test_incremental_dedup_decisions_consistent(spark, sf_dir):
    """Every batch doc appears exactly once; decision is 'drop' iff it
    has >= 1 corpus match; best_est is in [0.5, 1] for drops and 0.0
    for ingests (the threshold gate)."""
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    rows = QUERIES["llm_incremental_dedup"].builder(spark, sf_dir).collect()
    batch_ids = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter("doc_id % 10 = 0")
        .select("doc_id")
        .collect()
    }
    assert {r["doc_id"] for r in rows} == batch_ids
    assert len(rows) == len(batch_ids)
    dropped = 0
    for r in rows:
        if r["decision"] == "drop":
            dropped += 1
            assert r["n_corpus_matches"] >= 1
            assert 0.5 <= r["best_est"] <= 1.0
        else:
            assert r["decision"] == "ingest"
            assert r["n_corpus_matches"] == 0
            assert r["best_est"] == 0.0
    # the fixture corpus contains planted near-dups, so some drops exist
    assert dropped > 0


def test_paragraph_dedup_matches_python_recompute(spark, sf_dir):
    """Recompute the C4-style chunk dedup + reassembly in pure Python:
    same 10-word chunks, same global (doc_id, chunk_idx) first-occurrence
    rule, same in-order reassembly."""
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.queries.llm_dedup import _PARA_W
    from sig_etl_spark.tables import load_table

    got = {
        r["doc_id"]: r
        for r in QUERIES["llm_paragraph_dedup"].builder(spark, sf_dir).collect()
    }
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    chunks = []  # (doc_id, idx, chunk) in global keep order
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        ws = r["text"].split(" ")
        for i in range((len(ws) + _PARA_W - 1) // _PARA_W):
            chunks.append((r["doc_id"], i, " ".join(ws[i * _PARA_W:(i + 1) * _PARA_W])))
    seen = set()
    kept = {}
    totals = {}
    for doc_id, idx, chunk in chunks:
        totals[doc_id] = totals.get(doc_id, 0) + 1
        if chunk not in seen:
            seen.add(chunk)
            kept.setdefault(doc_id, []).append((idx, chunk))
    assert set(got) == set(totals)
    dropped_any = False
    for doc_id, row in got.items():
        want_kept = kept.get(doc_id, [])
        assert row["n_chunks"] == totals[doc_id]
        assert row["n_kept"] == len(want_kept)
        assert row["clean_text"] == " ".join(c for _, c in sorted(want_kept))
        if row["n_kept"] < row["n_chunks"]:
            dropped_any = True
    assert dropped_any, "fixture never exercised the dedup path"


def test_split_leakage_reconciles_with_pair_count(spark, sf_dir):
    """Every MinHash LSH pair lands in exactly one (split_lo, split_hi)
    class: class pair-counts must sum to the llm_minhash_lsh pair count,
    and per-side distinct-doc counts can never exceed pair counts."""
    from sig_etl_spark.queries import QUERIES

    pairs = QUERIES["llm_minhash_lsh"].builder(spark, sf_dir).count()
    rows = QUERIES["llm_split_leakage"].builder(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in rows) == pairs
    for r in rows:
        assert r["split_lo"] <= r["split_hi"]
        assert 1 <= r["n_docs_lo"] <= r["n_pairs"]
        assert 1 <= r["n_docs_hi"] <= r["n_pairs"]


def test_geo_neighbor_pairs_exact_vs_bruteforce(spark, sf_dir):
    """Grid-cell blocking must be EXACT (|dx| <= R implies adjacent
    cells): the blocked pair set equals a brute-force O(n^2) sweep over
    the same derived points."""
    import hashlib
    import itertools

    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["geo_neighbor_pairs"].builder(spark, sf_dir).collect()
    got = {(r["id_a"], r["id_b"]): r["dist_sq"] for r in rows}

    keys = [
        r["c_custkey"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    ]

    def coord(prefix: str, k: int) -> int:
        h = hashlib.md5(f"{prefix}:{k}".encode()).hexdigest()[:15]
        return int(h, 16) % 1_000_000

    pts = {k: (coord("gx", k), coord("gy", k)) for k in keys}
    want = {}
    for a, b in itertools.combinations(sorted(keys), 2):
        d = (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
        if d <= 5_000 * 5_000:
            want[(a, b)] = d
    assert got == want, (len(got), len(want))


def test_cdc_chunk_tiers_bit_identical(spark):
    """The mapInArrow/hashlib CDC pass on an edge frame (NULL text,
    empty/whitespace-only text, sub-window docs, exact-window docs,
    unicode whitespace and multi-byte tokens, NULL source): the full
    (source, ch) multiset is pinned — same boundaries, same 60-bit chunk
    hashes as at commit 2766b98, where two independent implementations
    agreed on it. Tokenization stays in the JVM (Java vs Python \\s
    classes differ on unicode whitespace), so the hash input bytes are
    the JVM's tokens. The fixture is oracle-checked
    (llm_cdc_chunk_dedup)."""
    from collections import Counter

    from sig_etl_spark.queries.llm_dedup import _cdc_chunk_rows

    long_doc = " ".join(f"w{i * 7 % 23}x{i}" for i in range(80))
    edge = spark.createDataFrame(
        [
            ("a", None),
            ("b", ""),
            ("c", "   \t\n  "),
            ("d", "one two"),
            ("e", "t1 t2 t3 t4"),
            ("f", long_doc),
            ("g", "café naïve joined\u00a0nbsp 漢字 "
                  "über straße " + long_doc),
            (None, "null source doc " + long_doc),
        ],
        ["source", "text"],
    )
    got = Counter((r["source"], r["ch"]) for r in _cdc_chunk_rows(edge).collect())
    # the long_doc tail chunks every document ending in it shares
    tail = [45424692852907163, 350392750602847454, 561719336212879849]
    assert got == Counter(
        [(None, ch) for ch in tail + [532411096578530874]]
        + [("d", 769601186583391551), ("e", 112179360137539662)]
        + [("f", ch) for ch in tail]
        + [("g", ch) for ch in tail + [1086049962795970317]]
    )
    srcs = {s for s, _ in got}
    assert None in srcs and "f" in srcs and "g" in srcs
    assert not srcs & {"a", "b", "c"}  # no chunks from NULL/empty text
