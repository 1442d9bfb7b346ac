import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from couch_to_postgres_spark.session import get_spark

SF = "/root/testdata/sf0.001"

# Test tiering (r14): the full suite's wall time (746 tests, ~57 min on
# this box) outgrew the driver's verification window — r13 shipped with
# unverifiable test status because the run was cut off mid-suite. The
# default run is now the FAST tier (pyproject addopts `-m "not slow"`);
# the tests below — every function whose summed call time was >= 10 s
# in the r14 full-suite durations profile (multi-fold lifecycle, daemon
# end-to-end, randomized-equivalence and example-script tests) — carry
# the `slow` marker and run with `-m slow` (or everything at once with
# `-m "slow or not slow"`). Nothing is deleted: fast + slow tiers
# together are the same 746 tests, and the slow tier stays green (run
# in full this round). The oracle-parity mirror (test_oracle_parity)
# sits in the slow tier because the driver independently re-runs every
# declared query against the DuckDB oracle each round; the full
# 239-query parity was also run green this session via
# tools/parity_check.py. Keyed by "<file basename>::<function name>" so
# parametrized cases follow their function and the mapping survives
# rootdir differences.
SLOW_TESTS = {
    "test_cdc_properties.py::test_merge_matches_model",
    "test_cdc_properties.py::test_replay_is_fixpoint",
    "test_compact_incremental.py::test_id_subbuckets_auto_size",
    "test_compact_incremental.py::test_incremental_attrs_carry_through",
    "test_compact_incremental.py::test_incremental_equals_full_and_untouched_buckets_bit_identical",
    "test_compact_incremental.py::test_incremental_falls_back_to_full_without_base",
    "test_compact_incremental.py::test_incremental_string_ids_delete_all_churn",
    "test_examples.py::test_example_runs_clean",
    "test_extensions.py::test_cap_per_group_distributed_equals_window_plan",
    "test_extensions.py::test_cross_near_dedup_drops_cross_dups_keeps_unique",
    "test_extensions.py::test_km_family_detects_planted_dups_property",
    "test_extensions.py::test_near_dedup_keep_best_representative",
    "test_extensions.py::test_quality_classifier_deterministic_and_sane",
    "test_extensions.py::test_stratified_split_exact_proportions",
    "test_extensions.py::test_stratified_split_guards_strata_cardinality",
    "test_extensions.py::test_weighted_sample_proportional_and_deterministic",
    "test_hybrid.py::test_underfill_signal_and_deterministic_escalation",
    "test_oracle_parity.py::test_parity",
    "test_partitioned_mirror.py::test_mor_random_sequences_equal_sequential_apply",
    "test_phrase.py::test_phrase_hits_indexed_equals_full_scan",
    "test_search_stream.py::test_compacted_index_same_results",
    "test_search_stream.py::test_impactless_mode_for_fingerprint_indexes",
    "test_search_stream.py::test_index_status_live_docs_exact_without_corpus_aggregate",
    "test_search_stream.py::test_inplace_compaction_swap_retires_to_trash",
    "test_search_stream.py::test_maxscore_batch_splits_per_query",
    "test_search_stream.py::test_maxscore_exact_after_avgdl_drift_folds",
    "test_search_stream.py::test_maxscore_gates_fall_back_exactly",
    "test_search_stream.py::test_maxscore_keeps_boundary_ties",
    "test_search_stream.py::test_maxscore_pruned_read_exact_and_engaged",
    "test_search_stream.py::test_maxscore_randomized_equivalence",
    "test_search_stream.py::test_randomized_lifecycle_equivalence",
    "test_search_stream.py::test_search_index_fsck",
    "test_search_stream.py::test_string_doc_ids_no_tombstones",
    "test_search_stream.py::test_tail_appends_after_compaction",
    "test_stats_stream.py::test_contamination_from_shingle_index_equals_batch",
    "test_stats_stream.py::test_decontaminate_from_index_equals_batch",
    "test_stats_stream.py::test_decontaminate_from_index_replay_safe",
    "test_stats_stream.py::test_novelty_from_index_equals_batch",
    "test_stats_stream.py::test_replay_is_idempotent",
    "test_stats_stream.py::test_reports_survive_compaction",
    "test_stats_stream.py::test_update_delete_and_source_move",
    "test_streaming.py::test_daemon_feed_shingle_index",
    "test_streaming.py::test_daemon_hybrid_on_couch_style_string_ids",
    "test_streaming.py::test_daemon_hybrid_retrieval",
    "test_streaming.py::test_daemon_maintains_vector_index",
    "test_streaming.py::test_flush_pending_http_force_flag",
    "test_streaming.py::test_watchdog_compacts_search_index_on_debt",
    "test_streaming.py::test_watchdog_pending_aging_and_operator_force_flush",
    "test_vector_stream.py::test_compaction_preserves_results_and_restores_fast_path",
    "test_vector_stream.py::test_fold_refuses_and_never_masks_torn_epoch",
    "test_vector_stream.py::test_fsck_clean_and_corrupted",
    "test_vector_stream.py::test_fsck_detects_torn_rebuild_epoch",
    "test_vector_stream.py::test_fsck_flags_pre_epoch_quantizer_behind_epoch_base",
    "test_vector_stream.py::test_incremental_compact_equals_full_and_restores_fast_path",
    "test_vector_stream.py::test_never_indexed_tombstones_rewrite_nothing",
    "test_vector_stream.py::test_rebuild_quantizer_with_explicit_anchors",
    "test_vector_stream.py::test_rebuild_repairs_torn_state",
    "test_vector_stream.py::test_stale_staging_dirs_are_harmless",
    "test_vector_stream.py::test_string_id_full_lifecycle",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = getattr(item, "originalname", None) or item.name.split("[")[0]
        if f"{item.path.name}::{base}" in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus="8", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF
