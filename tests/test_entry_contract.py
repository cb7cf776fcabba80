"""Driver-contract smoke tests: entry(), queries(), oracle_sql() wiring."""

from __future__ import annotations

import importlib
import os
from urllib.parse import urlparse

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
