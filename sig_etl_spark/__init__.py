"""sig_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of votesmart-research/sig_etl.

The reference is a single-threaded, eager, row-at-a-time Python ETL
(scrape → normalize → fuzzy-match). This engine re-expresses every
operator it supports as idiomatic Spark DataFrame / Spark SQL plans so
that Catalyst + Tungsten + AQE pick the physical strategy, and the same
code scales from local mode to a 1000-executor cluster.

Layout
------
- ``session``    SparkSession builder tuned for the engine
- ``tables``     test-table catalog (TPC-H-ish driver data)
- ``functions``  column-expression library (names, dates, votes, normalize)
- ``operators``  relational operators (dedupe, windows, set ops, explode)
- ``linkage``    blocked fuzzy record-linkage join (the flagship operator)
- ``llm``        large-scale training-data pipeline ops (dedup, ANN, text)
- ``sources``    schema-on-read HTML landing-zone extraction
- ``plans``      VSDB query layer + E→T→M pipeline runner
- ``streaming``  incremental landing-zone extraction (Structured Streaming)
"""

__version__ = "0.1.0"
