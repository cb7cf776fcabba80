"""Sketch-family tests: HLL accuracy, CMS soundness, bloom-join equivalence,
gaps-and-islands invariants, weighted-sample determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from sig_etl_spark.queries import QUERIES


def test_hll_estimate_within_error_bound(spark, sf_dir):
    rows = QUERIES["sketch_hll_distinct"].builder(spark, sf_dir).collect()
    assert rows, "no sources"
    for r in rows:
        # m=64 -> relative standard error ~1.04/sqrt(64) = 13%; 3 sigma.
        rel = abs(r["hll_distinct"] - r["exact_distinct"]) / max(r["exact_distinct"], 1)
        assert rel < 0.40, f"{r['source']}: est {r['hll_distinct']} vs {r['exact_distinct']}"
        assert r["reg_sum"] > 0
        assert 0 <= r["n_zero_regs"] <= 64


def test_cms_never_underestimates(spark, sf_dir):
    rows = QUERIES["sketch_cms_heavy_hitters"].builder(spark, sf_dir).collect()
    assert rows, "threshold admitted no tokens at this sf"
    for r in rows:
        assert r["cms_n"] >= r["exact_n"], f"CMS underestimated {r['token']}"


def test_cms_catches_every_true_heavy_hitter(spark, sf_dir):
    from sig_etl_spark.llm import text_analysis as T
    from sig_etl_spark.queries.sketch_demo import _CMS_THRESHOLD
    from sig_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    truth = {
        r["token"]
        for r in docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .count()
        .where(F.col("count") >= _CMS_THRESHOLD)
        .collect()
    }
    reported = {
        r["token"]
        for r in QUERIES["sketch_cms_heavy_hitters"].builder(spark, sf_dir).collect()
    }
    missing = truth - reported
    assert not missing, f"CMS missed true heavy hitters: {sorted(missing)[:5]}"


def test_bloom_join_equals_plain_join(spark, sf_dir):
    from sig_etl_spark.queries.sketch_demo import _ORDERS_PRED
    from sig_etl_spark.tables import load_table

    got = {
        (r["o_orderpriority"], r["order_month"], r["n_items"], r["revenue"])
        for r in QUERIES["j_bloom_pruned"].builder(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").where(_ORDERS_PRED)
    li = load_table(spark, sf_dir, "lineitem")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(38,10)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )
    want = {
        (r["o_orderpriority"], r["order_month"], r["n_items"], r["revenue"])
        for r in plain.collect()
    }
    assert got == want


def test_bloom_prune_is_selective(spark, sf_dir):
    """The pruned scan must pass far fewer rows than the full table (the
    whole point); with a saturated filter this breaks loudly."""
    from sig_etl_spark import sketches as SK
    from sig_etl_spark.queries.sketch_demo import _BLOOM_K, _BLOOM_M, _ORDERS_PRED
    from sig_etl_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").where(_ORDERS_PRED)
    li = load_table(spark, sf_dir, "lineitem")
    words = SK.bloom_words(orders, "o_orderkey", _BLOOM_M, _BLOOM_K)
    kept = SK.with_bloom_prune(li, words, "l_orderkey", _BLOOM_M, _BLOOM_K).count()
    matching = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    total = li.count()
    # kept >= truly-matching (no false negatives), and well under the scan
    assert kept >= matching
    assert kept < total * 0.5, f"bloom passed {kept}/{total} rows — saturated?"


def test_bloom_words_sketch_sized(spark, sf_dir):
    from sig_etl_spark import sketches as SK
    from sig_etl_spark.queries.sketch_demo import _BLOOM_K, _BLOOM_M, _ORDERS_PRED
    from sig_etl_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").where(_ORDERS_PRED)
    words = SK.bloom_words(orders, "o_orderkey", _BLOOM_M, _BLOOM_K)
    assert len(words) == _BLOOM_M // 64
    assert any(w != 0 for w in words)


def _false_negatives(df, words, m_bits, k) -> int:
    from sig_etl_spark import sketches as SK

    return df.where(~SK.bloom_member(words, "key", m_bits, k)).count()


def test_bloom_null_key_gives_null_predicate(spark):
    """NULL in, NULL out (both decontamination NULL policies coalesce on
    it), and a NULL build key sets no bit rather than failing the build."""
    from sig_etl_spark import sketches as SK

    m_bits, k = 1 << 10, 3
    words = SK.bloom_words(
        spark.createDataFrame([("a",), (None,)], "key string"), "key", m_bits, k
    )
    assert words == SK.bloom_words(
        spark.createDataFrame([("a",)], "key string"), "key", m_bits, k
    )
    probe = spark.createDataFrame([("a",), (None,)], "key string")
    got = dict(
        probe.select("key", SK.bloom_member(words, "key", m_bits, k)).collect()
    )
    assert got == {"a": True, None: None}


def test_bloom_int_build_key_finds_bigint_probe_key(spark):
    """Keys are hashed as strings, so an INT build side and a BIGINT probe
    side of the same values hit the same bits; a type-keyed hash would
    drop nearly every match here."""
    from sig_etl_spark import sketches as SK

    m_bits, k = 1 << 16, 3
    build = spark.range(5000).selectExpr("cast(id * 7 - 9000 as int) as key")
    words = SK.bloom_words(build, "key", m_bits, k)
    probe = build.selectExpr("cast(key as bigint) as key")
    assert _false_negatives(probe, words, m_bits, k) == 0
    # and the filter is not trivially all-ones: disjoint keys mostly miss
    others = spark.range(5000).selectExpr("id * 7 + 100000 as key")
    assert _false_negatives(others, words, m_bits, k) > 4500


def test_bloom_no_false_negatives_random_keys(spark):
    import random

    from sig_etl_spark import sketches as SK

    rng = random.Random(11)
    alphabet = "abcXYZ019 _-'\"é字🙂"
    strings = ["".join(rng.choices(alphabet, k=rng.randint(0, 30)))
               for _ in range(3000)]
    longs = [rng.randint(-(1 << 63), (1 << 63) - 1) for _ in range(3000)]
    longs += [-(1 << 63), (1 << 63) - 1, 0, -1]
    m_bits, k = 1 << 14, 4
    for values, dtype in ((strings, "string"), (longs, "bigint")):
        df = spark.createDataFrame([(v,) for v in values], f"key {dtype}")
        words = SK.bloom_words(df, "key", m_bits, k)
        assert any(w < 0 for w in words)  # bit 63 is reachable
        assert _false_negatives(df, words, m_bits, k) == 0, dtype


def test_bloom_word_literal_spans_the_long_range(spark):
    """Words are written into the plan as bigint literals; the two ends
    of the range (bit 63 alone, all bits) must parse and test right."""
    m_bits = 128
    keys = spark.range(200).selectExpr("id as key")
    assert _false_negatives(keys, [-1, -1], m_bits, 2) == 0
    assert _false_negatives(keys, [-(1 << 63), (1 << 63) - 1], m_bits, 1) > 0


def test_bloom_probe_plan_has_no_portable_hash(spark, sf_dir):
    """The hot probe stays on the engine's codegen'd hash: no md5/conv
    chain in the optimized plan of the prune or of j_bloom_pruned."""
    from sig_etl_spark import sketches as SK
    from sig_etl_spark.queries.sketch_demo import _BLOOM_K, _BLOOM_M, _ORDERS_PRED
    from sig_etl_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").where(_ORDERS_PRED)
    li = load_table(spark, sf_dir, "lineitem")
    words = SK.bloom_words(orders, "o_orderkey", _BLOOM_M, _BLOOM_K)
    for df in (
        SK.with_bloom_prune(li, words, "l_orderkey", _BLOOM_M, _BLOOM_K),
        QUERIES["j_bloom_pruned"].builder(spark, sf_dir),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64(" in plan
        assert "md5(" not in plan and "conv(" not in plan


def test_gaps_islands_intervals_are_consistent(spark, sf_dir):
    rows = QUERIES["events_gaps_islands"].builder(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, runs in by_user.items():
        runs.sort(key=lambda r: r["island"])
        # islands are 1..n dense; intervals ordered; adjacent runs differ
        assert [r["island"] for r in runs] == list(range(1, len(runs) + 1))
        for a, b in zip(runs, runs[1:]):
            assert a["valid_to"] <= b["valid_from"]
            assert a["next_valid_from"] == b["valid_from"]
            assert a["event_type"] != b["event_type"], (
                f"user {user}: adjacent islands share event_type"
            )
        assert runs[-1]["next_valid_from"] is None


def test_gaps_islands_covers_every_event(spark, sf_dir):
    from sig_etl_spark.tables import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    total = (
        QUERIES["events_gaps_islands"]
        .builder(spark, sf_dir)
        .agg(F.sum("n_events"))
        .collect()[0][0]
    )
    assert total == n_events


def test_weighted_sample_deterministic_and_biased(spark, sf_dir):
    a = QUERIES["llm_weighted_sample"].builder(spark, sf_dir).collect()
    b = QUERIES["llm_weighted_sample"].builder(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    # weighting by n_chars must pull the sample's mean length above the
    # corpus mean (that's what "weighted" buys)
    from sig_etl_spark.tables import load_table

    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sum(r["n_chars"] for r in a) / len(a)
    assert sample_mean > corpus_mean


def test_hll_plan_partial_aggregates(spark, sf_dir):
    """The register max must partial-aggregate map-side: the shuffle after
    the token explode carries (source, j, partial max), never raw tokens."""
    import contextlib
    import io

    df = QUERIES["sketch_hll_distinct"].builder(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "partial_max" in plan or "partial max" in plan.lower(), plan[:2000]


def test_quantile_hist_brackets_exact_percentile(spark):
    """The upper-edge estimate must bracket the exact rank-ceil(q*n)
    value within one bin: v_exact in (est - bin_width, est]."""
    import math

    from sig_etl_spark import sketches as SK

    vals = [1.0, 5.0, 9.0, 14.0, 22.0, 22.5, 30.0, 47.0, 58.0, 99.0,
            3.0, 8.0, 61.0, 77.0, 78.0]
    rows = [("g1", v) for v in vals] + [("g2", v * 10) for v in vals]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = {
        r.grp: r
        for r in SK.quantile_hist(df, "v", ["grp"], 10.0).collect()
    }
    for grp, scale in [("g1", 1.0), ("g2", 10.0)]:
        data = sorted(v * scale for v in vals)
        n = len(data)
        r = out[grp]
        assert r.total == n
        for name, num, den in [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]:
            exact = data[math.ceil(n * num / den) - 1]
            est = getattr(r, f"{name}_le")
            assert exact <= est, (grp, name, exact, est)
            assert est - 10.0 * 1 < exact or est - 10.0 * scale <= exact + 1e-9, \
                (grp, name)
            # bin identity: the exact value falls in the reported bin
            assert getattr(r, f"{name}_bin") == math.floor(exact / 10.0)


def test_quantile_hist_merges(spark):
    """Histograms are mergeable: the sketch over a union equals the
    sketch over pre-aggregated halves — counts just add."""
    from sig_etl_spark import sketches as SK

    a = [("g", float(i)) for i in range(50)]
    b = [("g", float(i) + 0.5) for i in range(50, 200)]
    whole = spark.createDataFrame(a + b, ["grp", "v"])
    w = {r.grp: r for r in SK.quantile_hist(whole, "v", ["grp"], 25.0).collect()}
    # same result regardless of row order / partitioning
    shuffled = spark.createDataFrame(list(reversed(a + b)), ["grp", "v"]).repartition(7)
    s = {r.grp: r for r in SK.quantile_hist(shuffled, "v", ["grp"], 25.0).collect()}
    assert w == s


def test_quantile_calibration_respects_bin_width_contract(spark, sf_dir):
    """The histogram's upper-edge estimate brackets the RANK-BASED
    (type-1 / inverted-CDF) percentile: 0 <= p_le - v_rank <= bin_width
    (in cents since round 7: the query emits bigint cent edges/elements
    only — driver-environment hardening — and its exact side picks the
    type-1 element by explicit rank arithmetic; this test checks the
    same contract against numpy's inverted_cdf, in cents)."""
    import numpy as np

    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    rows = QUERIES["sketch_quantile_calibration"].builder(spark, sf_dir).collect()
    assert rows
    pdf = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).toPandas()
    for r in rows:
        grp = pdf[
            (pdf["o_orderstatus"] == r["o_orderstatus"])
            & (pdf["o_orderpriority"] == r["o_orderpriority"])
        ]["o_totalprice"].to_numpy()
        cents = np.rint(grp * 100).astype(np.int64)
        for q, frac in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            v_rank = int(np.quantile(cents, frac, method="inverted_cdf"))
            diff = r[f"{q}_le_cents"] - v_rank
            # one bin = 1_000_000 cents; rint vs half-up rounding of the
            # exact element can differ by 1 cent at a .5 tie
            assert -1 <= diff <= 1_000_000, (r["o_orderstatus"], q, diff)
            assert r[f"{q}_err_cents"] == r[f"{q}_le_cents"] - r[f"{q}_exact_cents"]


def test_hll_running_distinct_monotone_and_bounded_error(spark, sf_dir):
    from sig_etl_spark.queries import QUERIES

    rows = sorted(
        QUERIES["sketch_hll_running_distinct"].builder(spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    prev = 0
    for r in rows:
        # exact running distinct is monotone by definition
        assert r["exact_distinct"] >= prev
        prev = r["exact_distinct"]
        # m=64 HLL: relative error sigma ~ 1.04/8 = 13%; allow 4 sigma
        err = abs(r["hll_distinct"] - r["exact_distinct"]) / max(1, r["exact_distinct"])
        assert err < 0.52, (r["day"], r["hll_distinct"], r["exact_distinct"])
    # the last day's estimate must equal the whole-corpus single-shot HLL
    # (merge of all days == one global sketch)
    from sig_etl_spark.tables import load_table
    from sig_etl_spark import sketches as SK
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select("user_id").withColumn("g", F.lit(1))
    glob = SK.hll_estimate(
        SK.hll_registers(ev, "cast(user_id as string)", ["g"]), ["g"]
    ).collect()[0]
    assert rows[-1]["hll_distinct"] == glob["hll_distinct"]
    assert rows[-1]["reg_sum"] == glob["reg_sum"]


def test_hll_sliding_distinct_bounded_error(spark, sf_dir):
    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["sketch_hll_sliding_distinct"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # m=64 HLL: sigma ~ 1.04/8 = 13%; allow 4 sigma
        err = abs(r["hll_distinct"] - r["exact_7d"]) / max(1, r["exact_7d"])
        assert err < 0.52, (r["day"], r["hll_distinct"], r["exact_7d"])
        # a 7-day window can never hold fewer users than its largest day
        assert r["exact_7d"] >= 1


def test_hll_retention_identities_and_error(spark, sf_dir):
    """est_union <= est_cur + est_prev (inclusion-exclusion identity on
    the estimates themselves), and the overlap estimate lands within a
    loose 4-sigma-of-union band of the exact overlap — HLL differencing
    compounds error, so the band is wide but must still hold on the
    fixture."""
    from sig_etl_spark.queries import QUERIES

    rows = QUERIES["sketch_hll_retention"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_union"] <= r["est_cur"] + r["est_prev"]
        assert r["est_overlap"] == r["est_cur"] + r["est_prev"] - r["est_union"]
        band = 0.52 * max(r["est_union"], 1)
        assert abs(r["est_overlap"] - r["exact_overlap"]) <= band, (
            r["day"], r["est_overlap"], r["exact_overlap"], band,
        )


def test_kmv_source_overlap_estimates(spark, sf_dir):
    """KMV estimator sanity on the fixture: structural invariants hold for
    every pair, and the union estimate lands within the bottom-k error
    envelope (sigma ~ union/sqrt(k-2); 4 sigma here to stay flake-free)
    whenever the summary is actually full (kk == k)."""
    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.sketches import KMV_K

    rows = QUERIES["sketch_kmv_source_overlap"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    full = 0
    for r in rows:
        assert 1 <= r.kk <= KMV_K
        assert 0 <= r.kmv_common <= r.kk
        assert r.inter_est <= r.union_est
        assert 0 <= r.jacc_est_permille <= 1000
        assert r.exact_inter <= r.exact_union
        if r.kk == KMV_K:
            full += 1
            tol = 4.0 * r.exact_union / (KMV_K - 2) ** 0.5
            assert abs(r.union_est - r.exact_union) <= tol, (
                r.source_a, r.source_b, r.union_est, r.exact_union, tol)
    # the fixture's sources are large enough that summaries fill up
    assert full > 0


def test_kmv_mergeability_property():
    """The property the KMV family exists for, as a pure-Python check the
    Spark/DuckDB sides both implement: bottom-k of a UNION of sets equals
    bottom-k of the union of each set's bottom-k summaries (as long as
    each summary kept everything below its k-th value — true by
    construction). Randomized over hypothesis-style generated splits."""
    import hashlib
    import random

    from sig_etl_spark.sketches import KMV_K

    rng = random.Random(8)
    universe = [f"item-{i}" for i in range(5000)]

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for trial in range(20):
        n_parts = rng.randint(2, 5)
        parts = [set() for _ in range(n_parts)]
        for item in rng.sample(universe, rng.randint(KMV_K + 1, 3000)):
            # items may land in SEVERAL parts (overlapping sources)
            for p in rng.sample(range(n_parts), rng.randint(1, n_parts)):
                parts[p].add(item)
        full = set().union(*parts)
        truth = sorted(h(x) for x in full)[:KMV_K]
        summaries = [sorted(h(x) for x in p)[:KMV_K] for p in parts]
        merged = sorted(set().union(*map(set, summaries)))[:KMV_K]
        assert merged == truth, f"trial {trial}: merge != recompute"
