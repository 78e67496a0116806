"""Declared query surface. Importing this package populates the registry."""

from s4_spark.queries.registry import REGISTRY, oracle_sql, queries, query  # noqa: F401

# Each import registers its family's queries (SURVEY.md §2-B sections).
from s4_spark.queries import (  # noqa: F401,E402
    scans,
    filters,
    joins,
    aggregates,
    windows,
    setops,
    functions,
    udfs,
    llm,
    streaming,
    training,
)

# The round driver oracle-checks the FIRST 50 registry entries only, so
# DRIVER_WINDOW pins which 50 those are and _reorder() puts them first.
# Rotation rule: lead with entries whose result-producing code changed
# since their last driver row, then the stalest entries by family spread.
# tests/test_driver_window.py enforces that the window is the first 50
# entries, every one oracle-backed with hashable scalar outputs (the
# driver's pandas hash cannot sort array/map/binary/struct cells), that
# every §2-B family is in it, and that it spends no slot on an already
# verified entry while a never-verified one waits. NEXT_WINDOW_QUEUE
# pins the never-verified entries that do not fit into this window;
# empty while every entry has a driver row.
NEXT_WINDOW_QUEUE: tuple = ()

DRIVER_WINDOW = (
    # ---- implementation restructured in round 14 (13) ----
    "q145_funnel",
    "q144_time_rollup",
    "q111_minhash_lsh_neardup",
    "q121_ngram_jaccard_exact",
    "q130_corpus_prep",
    "q148_dedup_cluster_cc",
    "q190_fuzzy_decontamination",
    "q203_snapshot_index_dedup",
    "q216_contrastive_pair_mining",
    "q094_watermark_late_drop",
    "q165_stream_stream_outer_join",
    "q273_multi_watermark_policy",
    "q246_offset_managed_stream_source",
    # ---- the FULL remaining r8-vintage cohort (27) ----
    "q002_csv_roundtrip",
    "q003_jsonl_roundtrip",
    "q004_text_scan",
    "q006_gzip_text_sink",
    "q007_streaming_file_source",
    "q009_orc_roundtrip",
    "q014_like_regex",
    "q016_distinct",
    "q019_xml_roundtrip",
    "q023_full_outer_join",
    "q024_left_semi_join",
    "q025_left_anti_join",
    "q029_cross_join",
    "q032_approx_count_distinct",
    "q034_rollup",
    "q035_cube",
    "q039_stats_agg",
    "q043_scalar_subquery",
    "q044_correlated_subquery",
    "q047_lateral_join",
    "q152_zorder_layout",
    "q153_small_file_compaction",
    "q154_schema_evolution",
    "q161_fuzzy_join_blocked",
    "q164_permissive_corrupt_records",
    "q242_python_datasource_sink",
    "q243_python_datasource_stream_sink",
    # ---- r9 cohort by family spread (8), sweep-converted first ----
    "q015_case_when",
    "q037_collect_set_sorted",
    "q051_ntile_percent_rank",
    "q081_datetime_functions",
    "q087_hash_functions",
    "q096_output_modes",
    "q102_grouped_agg_pandas_udf",
    "q104_udtf_split_to_rows",
    # ---- canaries (B6/B7 have no r8/r9-stale entries; both r12) ----
    "q060_global_sort",
    "q071_intersect",
)


def _reorder() -> None:
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()
