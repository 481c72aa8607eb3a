"""Workload definitions: which catalog entries each workload runs, and why.

Every entry is a ``pygr_spark.queries.QUERIES`` name with a DuckDB oracle
in ``ORACLES``. A pass runs each entry once, in a seed-permuted order.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "tpch": {
        "why": (
            "TPC-H-shaped relational plans: the driver gap, Catalyst planning "
            "and per-job floor dominate; operators/, functions/ and "
            "streaming/ stay idle"
        ),
        "entries": [
            "q1_pricing_summary", "q3_shipping_priority", "q4_late_shipment",
            "q6_forecast_revenue", "q10_returned_items",
        ],
    },
    "operators": {
        "why": (
            "one cheap entry per domain layer: graph round loop with size "
            "probes, interval join, alignment filter, near-dup hashing, Arrow "
            "UDF, format source, catalog, SCD over the event stream"
        ),
        "entries": [
            "cheapest_path", "liftover", "conserved_pairs", "hash_sample",
            "cosine_topk", "aln_text_roundtrip", "cdc_compact", "catalog_autojoin",
        ],
    },
}
