"""The benchmark's workloads: which registry queries each one runs.

Every query comes from ``fugue_spark.benchmarks.QUERIES`` and is checked
against its DuckDB oracle. ``TABLES_READ`` names the input tables each
query scans; ``rows_per_s`` divides their row count by the pass time.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # scan, exchange and Catalyst, plus a partitioned write and reload (q9);
    # no Python worker, no driver probe: the control for the other two
    "relational": (
        "q1_pricing_summary",
        "q3_join_revenue_by_nation",
        "q9_io_roundtrip",
        "q10_sql_passthrough_window",
    ),
    # the Arrow grouped transform and cotransform on the Python executor
    # beside the trace-compiled twin of the transform, and the compiled
    # FugueSQL script
    "udf_map": (
        "q20_transform_arrow_per_order",
        "q21_cotransform_arrow",
        "q22_transform_compiled",
        "q24_fuguesql_compiled",
        "q9_io_roundtrip",
    ),
    # the LLM-data pipeline's near-duplicate search: the hot-shingle and
    # candidate driver probes, the candidates' localCheckpoint and the pair
    # exchange. p6 (MinHash LSH) is left out: under host CPU steal it slowed
    # 1.7-2.1x against DuckDB's 1.1-1.4x, so its ratio followed the host
    "llm_dedup": ("p5_ngram_jaccard_pairs",),
}

# Queries run with auto-compile off (FUGUE_SPARK_AUTO_COMPILE=0), so they
# take the grouped Python executor instead of being rewritten to a native
# aggregation: the "Python rows" next to the compiled twin q22.
PYTHON_ROWS = frozenset({"q20_transform_arrow_per_order", "q21_cotransform_arrow"})

TABLES_READ: dict[str, tuple[str, ...]] = {
    "q1_pricing_summary": ("lineitem",),
    "q3_join_revenue_by_nation": ("customer", "nation", "region", "orders"),
    "q9_io_roundtrip": ("lineitem",),
    "q10_sql_passthrough_window": ("events",),
    "q20_transform_arrow_per_order": ("lineitem",),
    "q21_cotransform_arrow": ("orders", "lineitem"),
    "q22_transform_compiled": ("lineitem",),
    "q24_fuguesql_compiled": ("lineitem",),
    "p5_ngram_jaccard_pairs": ("documents",),
}
