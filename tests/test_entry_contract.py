"""Driver-contract smoke tests: entry(), queries(), oracle_sql() wiring."""

from __future__ import annotations

import importlib
import os
import re
from urllib.parse import urlparse

import pytest

from sig_etl_spark.queries import QUERIES, register
from sig_etl_spark.session import scratch_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_returns_rows(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() > 0


def test_query_registry_shape(spark):
    mod = importlib.import_module("__spark_entry__")
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "no queries registered"
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_all_queries_run_at_smoke_sf(spark, sf_dir):
    """Every query runs, and none writes into the checkout: stage files,
    fixtures, the Derby database and the warehouse all live under the
    process's scratch root."""
    mod = importlib.import_module("__spark_entry__")
    before = set(os.listdir(REPO))
    for name, fn in mod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
        assert df.columns, name
    assert set(os.listdir(REPO)) - before == set()
    root = os.path.dirname(scratch_dir("any"))
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    assert warehouse.startswith(root + os.sep)


def test_register_refuses_a_duplicate_name():
    """A second registration under a taken name must fail loudly: silently
    overwriting would drop the first builder from queries(), from
    oracle_sql() and from the oracle gate."""
    before = dict(QUERIES)
    try:
        with pytest.raises(ValueError, match="flagship_latest_order"):
            register("flagship_latest_order", None)(lambda spark, sf_dir: None)
        assert QUERIES == before
    finally:
        QUERIES.clear()
        QUERIES.update(before)


def test_contrast_rows_name_registered_twins():
    """Every deliberately-slow demo row must label itself 'CONTRAST ROW'
    and name a REGISTERED production twin, so a bench reader can't
    mistake it for a production path."""
    expected = {
        "linkage_fuzzy_match_skew",
        "linkage_fuzzy_match_wratio",
        "llm_simhash_pairs",
        "llm_ngram_jaccard",
        "llm_dedup_clusters",
        "llm_corpus_curation",
        # the exact all-pairs-within-label embedding arm, labeled against
        # its IVF twin
        "llm_embedding_near_dup",
    }
    found = {n for n, rq in QUERIES.items() if "CONTRAST ROW" in rq.doc}
    assert found == expected, found ^ expected
    for name in found:
        m = re.search(r"production twin:\s*([a-z0-9_\s]+?)[.,]", QUERIES[name].doc)
        assert m, f"{name}: no 'production twin: <name>' in doc"
        twin = re.sub(r"\s+", "", m.group(1))
        assert twin in QUERIES, f"{name}: twin {twin!r} not registered"
        assert twin != name


def test_no_expected_red_rows_registered():
    """The registry must contain ZERO expected-red rows: the hugeint probe
    pair is a pytest fixture (queries/diag_seam.py PROBE_QUERIES), not a
    registered query, so "every registered query passes the oracle gate"
    holds without a footnote."""
    from tools.dtype_seam_scan import EXPECTED_DIVERGENT

    assert not (EXPECTED_DIVERGENT & set(QUERIES)), (
        "expected-divergent probes must not be registered"
    )
    assert "diag_seam_hugeint_raw" not in QUERIES
    assert "diag_seam_hugeint_cast" not in QUERIES
