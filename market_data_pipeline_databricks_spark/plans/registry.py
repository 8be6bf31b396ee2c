"""Single registry of named queries + oracle twins.

``__spark_entry__`` and ``bench.py`` both read from here; extension
modules (text_ops, vector_ops, analyst) register by being imported.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from market_data_pipeline_databricks_spark.plans import relational

QueryFn = Callable[[SparkSession, str], DataFrame]

# The correctness driver hash-checks only the FIRST 50 registry entries
# against their DuckDB oracles, so dict order is load-bearing. The window
# below pins exactly 50 oracle-backed names; families that had no driver
# correctness row through round 2 (stream/analyst/funcs/scale/skew, the
# RANGE-window and binned range-join forms, z-score DQ, vector near-dup,
# multimodal frame-sample) lead the list so they are inside the window
# even if it ever shrinks. Remaining oracle-backed queries follow the
# window (they stay verifiable via tools/check_oracle.py and hold green
# rows in CORRECTNESS_r01/r02); rows-only entries (seeded-hash / sketch
# ops with no SQL twin) always sort last so they never spend a window
# slot on a weaker rows-only check.
DRIVER_WINDOW: tuple[str, ...] = (
    # -- round-15 window. Rotation rule amended per the r14 verdict
    # (task 2): queries whose OPERATOR CODE CHANGED THIS ROUND take
    # window slots FIRST (the r14 rotation moved every then-modified
    # query out of the window, so the driver's oracle never re-checked
    # the modified paths — touched-this-round now beats
    # never-hash-checked beats stalest-green). The 18 r15-touched
    # queries lead: the keyed-upsert staged-write rewrite
    # (sources/writers.py) and the streaming sink job cuts cover the
    # six maintenance/incremental drives; the lazy local-checkpoint
    # conversions cover the components family, pagerank/bfs, the
    # two-pass rank pair and the BPE pair. The erase and compaction
    # drives joined the lead when the hive writers moved to one
    # partition rule (a value is its directory name), displacing the
    # last two stalest-green names.
    "stream_rank_maintenance",
    "stream_rank_repair",
    "stream_agg_maintenance",
    "stream_gold_incremental",
    "stream_cdc_incremental",
    "stream_image_dedup_incremental",
    "warehouse_erase_rtbf",
    "warehouse_compact_small_files",
    "er_resolved_entities",
    "graph_part_pagerank",
    "graph_part_bfs_hops",
    "scale_global_rank_twopass",
    "scale_salted_window_rank",
    "dedup_components",
    "dedup_components_lsh",
    "dedup_component_survivors",
    "dedup_representative_survivors",
    "text_bpe_train_merges",
    "text_bpe_encode_stats",
    "dedup_component_size_histogram",
    # -- remaining 32 slots: stalest-green cohort over
    #    CORRECTNESS_r01..r14 (all last hash-checked in r09),
    #    alphabetical within the cohort.
    "agg_grouping_sets_revenue",
    "analyst_completeness",
    "analyst_liquidity_screen",
    "analyst_point_in_time",
    "analyst_single_key_recent",
    "analyst_threshold_alerts",
    "analyst_volatility_regime",
    "curate_chunk_corpus",
    "curate_multimodal_corpus",
    "dedup_edit_distance_qgram",
    "dedup_exact_survivors",
    "dedup_incremental_batch",
    "events_funnel",
    "events_retention_cohorts",
    "filter_case_classification",
    "filter_scalar_subquery_latest",
    "funcs_ewma_close",
    "funcs_log_return_stats",
    "funcs_market_beta",
    "join_full_outer_reconcile",
    "multimodal_wav_roundtrip",
    "pack_training_sequences",
    "quality_constraint_suite",
    "quality_pii_pseudonymize",
    "quality_zscore_outliers",
    "sample_train_test_split",
    "skew_salted_join_orders",
    "stream_session_window_stats",
    "stream_sliding_window_counts",
    "stream_stream_click_attribution",

    # -- displaced: the r14 window (all driver-proven r14); all remain
    # verifiable via tools/check_oracle.py.
)


def _ordered(names, oracle_names):
    """Window names first (in pinned order), then the remaining
    oracle-backed queries, then rows-only queries."""
    window = [n for n in DRIVER_WINDOW if n in names]
    rest = [n for n in names if n not in DRIVER_WINDOW]
    rest_oracle = [n for n in rest if n in oracle_names]
    rest_rows_only = [n for n in rest if n not in oracle_names]
    return window + rest_oracle + rest_rows_only


def _merged():
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    queries.update(relational.QUERIES)
    oracle.update(relational.ORACLE_SQL)
    for mod in _extension_modules():
        queries.update(mod.QUERIES)
        oracle.update(mod.ORACLE_SQL)
    return queries, oracle


def all_queries() -> dict[str, QueryFn]:
    queries, oracle = _merged()
    return {n: queries[n] for n in _ordered(queries, oracle)}


def all_oracle_sql() -> dict[str, str]:
    queries, oracle = _merged()
    return {n: oracle[n] for n in _ordered(queries, oracle) if n in oracle}


def _extension_modules():
    mods = []
    for name in (
        "relational_ext",
        "breadth_ops",
        "asof_ops",
        "text_ops",
        "vector_ops",
        "analyst",
        "stream_ops",
        "feature_ops",
        "scale_ops",
        "graph_ops",
        "er_ops",
        "warehouse_ops",
    ):
        try:
            mods.append(
                __import__(
                    f"market_data_pipeline_databricks_spark.plans.{name}",
                    fromlist=[name],
                )
            )
        except ImportError:
            continue
    return mods
