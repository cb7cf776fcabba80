"""What the benchmark runs and reports. Standard library only, so the
entry point can validate its arguments before any Spark import.

Each workload names its fixture scale and its operations; each operation
is a registered query or one of the benchmark's own ``stage_*``
operations (workloads.py). Why each workload exists is in README.md.
"""

from __future__ import annotations

WORKLOADS = {
    "sig_match": {
        "sf": "sf0.1",
        "ops": [
            "stage_pipeline",
            "stage_landing_scan",
            "stage_csv_roundtrip",
            "transform_split_candidacies",
            "vsdb_election_candidates",
            "llm_knn_bruteforce",
            "mm_resize",
            "llm_exact_dedup",
            "llm_bpe_train",
        ],
    },
    "sql_analytics": {
        "sf": "sf0.1",
        "ops": [
            "j_bloom_pruned",
            "orders_rfm_segmentation",
            "events_range_join",
        ],
    },
}

# Library layers traced by wrapping their public functions (trace.py):
# module-name prefix -> layer name; the longest prefix wins.
LAYER_PREFIXES = {
    "sig_etl_spark.tables": "tables",
    "sig_etl_spark.extract": "extract",
    "sig_etl_spark.functions": "functions",
    "sig_etl_spark.linkage": "linkage",
    "sig_etl_spark.vsdb": "vsdb",
    "sig_etl_spark.pipeline": "pipeline",
    "sig_etl_spark.sources": "sources",
    "sig_etl_spark.temporal": "temporal",
    "sig_etl_spark.sketches": "sketches",
    "sig_etl_spark.llm.dedup": "llm.dedup",
    "sig_etl_spark.llm.similarity": "llm.similarity",
    "sig_etl_spark.llm.bpe": "llm.bpe",
    "sig_etl_spark.llm.text_analysis": "llm.text_analysis",
    "sig_etl_spark.llm.multimodal": "llm.multimodal",
}
