"""Canonical normalization dictionaries (SURVEY.md F5 — the DATA, not the
mechanism).

Ported verbatim from the reference's ``VALUES_TO_REPLACE`` tables:

- /root/reference/votervoice/transform.py:7-10 (office, party — the
  votervoice scoreboard's 2-entry office and 3-entry party maps)
- /root/reference/national/_1034/transform.py:9-52 (the national
  election-results group's full party + office canonicalization)

Semantics match the reference's ``pandas.Series.replace`` usage: mapped
values are rewritten, unmapped values pass through unchanged. Apply with
``normalize_via_map`` (constant-folded literal MAP + try_element_at —
ANSI-safe pass-through) or, for dictionaries too large to inline, a
broadcast left join via ``normalize_via_join``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sig_etl_spark.functions.text import normalize_via_map
from sig_etl_spark.session import local_frame

# votervoice/transform.py:7-10
VOTERVOICE_VALUES_TO_REPLACE: dict[str, dict[str, str]] = {
    "office": {"US House": "U.S. House", "US Senate": "U.S. Senate"},
    "party": {"R": "Republican", "D": "Democratic", "I": "Independent"},
}

# national/_1034/transform.py:9-52
NATIONAL_1034_VALUES_TO_REPLACE: dict[str, dict[str, str]] = {
    "party": {
        "A": "Alaskan Independent",
        "AI": "American Independent",
        "C": "Conservative",
        "D": "Democratic",
        "DFL": "Democratic/Farmer/Labor",
        "D-NPL": "Democratic-NPL",
        "G": "Green Party",
        "I": "Independent",
        "I/D": "Unaffiliated",
        "IND. R": "Independent Republican",
        "IR": "Independent Republican",
        "L": "Libertarian",
        "N": "No Party Affiliation",
        "NP": "Non-partisan",
        "NPA": "No Party Affiliation",
        "WI": "Write-In",
        "P&F": "Peace and Freedom",
        "PAF": "Peace and Freedom",
        "R": "Republican",
        "SPP": "Seattle People's Party",
        "U": "Undeclared",
        "V": "Veterans",
        "?": "Unknown",
    },
    "office": {
        "Commissioner of Agriculture": "Agriculture Commissioner",
        "Lt. Governor": "Lieutenant Governor",
        "Lt.Governor": "Lieutenant Governor",
        "State Treasurer": "Treasurer",
        "US House": "U.S. House",
        "US Senate": "U.S. Senate",
        "General Assembly": "State Assembly",
        "House": "State House",
        "House of Representative": "State House",
        "House of Delegates": "State House",
        "HOUSE OF REPRESENTATIVES": "State House",
        "State Attorney": "Attorney General",
        "State House of Delegates": "State House",
        "State House of Representatives": "State House",
        "Tax Collector": "Commissioner",
    },
}

# Merged view: national's tables subsume votervoice's (votervoice's three
# party rows and two office rows are all present with identical values).
PARTY_MAP: dict[str, str] = dict(NATIONAL_1034_VALUES_TO_REPLACE["party"])
OFFICE_MAP: dict[str, str] = dict(NATIONAL_1034_VALUES_TO_REPLACE["office"])


def normalize_party(c: Column) -> Column:
    """Canonical party name; unmapped pass through (reference F5)."""
    return normalize_via_map(c, PARTY_MAP)


def normalize_office(c: Column) -> Column:
    """Canonical office name; unmapped pass through (reference F5)."""
    return normalize_via_map(c, OFFICE_MAP)


def normalize_via_join(
    df: DataFrame, col: str, mapping: dict[str, str]
) -> DataFrame:
    """F5 via broadcast left join against the mapping as a driver-side
    local relation — for dictionaries too large to constant-fold into a
    literal MAP expression (the mapping itself still lives on the driver).
    Unmapped values pass through via coalesce, mirroring Series.replace."""
    map_df = local_frame(
        df.sparkSession, list(mapping.items()), "_nv_key string, _nv_canon string"
    )
    return (
        df.join(F.broadcast(map_df), df[col] == map_df["_nv_key"], "left")
        .withColumn(col, F.coalesce(F.col("_nv_canon"), F.col(col)))
        .drop("_nv_key", "_nv_canon")
    )
