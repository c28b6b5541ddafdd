"""Shared fixtures: one SparkSession per test session (JVM spin-up is the
dominant cost), plus sf-dir paths."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_framework_for_mergesort_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="msfs-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


# ---------------------------------------------------------------------------
# Fast driver-visible tier (round 13, VERDICT item 2): the full suite is
# ~38 min, which overruns the external driver's verify window — every
# round since the suite crossed ~600 tests, `tests_ok` has been
# unattestable (the run is killed at ~88% with zero failures).  The
# long-haul batteries below (measured >=7 s each on this host,
# `--durations=0` log, 2026-08-18) are SKIPPED by default and run under
# MSFS_FULL_TESTS=1 — nothing is deleted, the default tier still covers
# every operator family (six deliberate keep-despite-cost exceptions:
# the all-50-keys vanilla-session smoke, the q_dedup_minhash_pairs
# oracle-parity + dtype rows that complete the per-key coverage, one
# fault-tolerance test, one cluster property test, and the
# exactly-once ingest-retry test).  Keyed on the test file's path
# relative to tests/ plus the test name, so the set survives rootdir
# differences and a same-named test elsewhere is never skipped; a
# renamed test silently moves INTO the fast tier (fail-safe: more
# coverage, never less).
SLOW_TESTS = frozenset({
    "test_bpe.py::test_bpe_shards_tokenizer_true_budgets",
    "test_bpe.py::test_train_bpe_textbook_merge_sequence",
    "test_classifier.py::test_curate_documents_with_quality_model",
    "test_classifier.py::test_quality_filter_generalizes",
    "test_classifier.py::test_scoring_separates_and_stays_jvm",
    "test_encodings.py::test_learn_transforms_regenerates_shipped_table",
    "test_fault_tolerance.py::test_task_retry_recovers_injected_faults",
    "test_html.py::test_crawl_feed_composes_with_continuous_ingestion",
    "test_html.py::test_domain_link_graph_and_pagerank",
    "test_llm_ops.py::test_cluster_pairs_long_chain_converges",
    "test_llm_ops.py::test_contamination_report_parity_and_consistency",
    "test_llm_ops.py::test_curation_leakage_safe_split_composed",
    "test_llm_ops.py::test_curation_pipeline_cluster_cap",
    "test_llm_ops.py::test_curation_pipeline_decontaminates_before_dedup",
    "test_llm_ops.py::test_curation_pipeline_end_to_end",
    "test_llm_ops.py::test_curation_span_frac_filter",
    "test_llm_ops.py::test_curation_strip_spans_rewrites",
    "test_llm_ops.py::test_leakage_safe_split_clusters_never_straddle",
    "test_llm_ops.py::test_lsh_index_bucketed_delete_lifecycle",
    "test_llm_ops.py::test_lsh_index_delete_lifecycle",
    "test_llm_ops.py::test_near_dedup_collapse_exact_identical_kept_set",
    "test_llm_ops.py::test_prepare_training_shards_end_to_end",
    "test_llm_ops.py::test_prepare_training_shards_leakage_safe",
    "test_llm_ops.py::test_prepare_training_shards_quarantines_straddlers",
    "test_llm_ops.py::test_prepare_training_shards_with_mixture",
    "test_llm_ops.py::test_text_keys_null_bearing_corpus",
    "test_pq.py::test_ivfadc_append_empty_batch_does_not_poison_the_index",
    "test_pq.py::test_ivfadc_delete_lifecycle",
    "test_pq.py::test_ivfadc_incremental_append_lifecycle",
    "test_pq.py::test_ivfadc_persisted_probe_matches_inline_and_prunes",
    "test_property_cluster.py::test_cluster_pairs_matches_union_find",
    "test_property_cluster.py::test_hash_min_raises_loudly_but_auto_falls_back",
    "test_property_cluster.py::test_star_contraction_matches_union_find",
    "test_property_pack.py::test_pack_matches_python_cumsum",
    "test_property_sort.py::test_cdc_upsert_matches_dict_semantics",
    "test_property_sort.py::test_merge_sorted_runs_matches_sorted",
    "test_property_sort.py::test_rank_is_dense_and_multiset_preserved",
    "test_robots.py::test_disallowed_set_feeds_takedown",
    "test_sketches.py::test_dyadic_cms_parity_rank_bounds_and_merge",
    "test_sketches.py::test_dyadic_sketch_stream_equals_batch_and_is_idempotent",
    "test_streaming.py::test_near_dup_pairs_stream_equals_batch",
    "test_streaming.py::test_near_dup_stream_band_cap_bounds_fanout",
    "test_streaming.py::test_near_dup_stream_ttl_evicts_and_bounds_state",
    "test_streaming_ingest.py::test_assign_splits_stable_bridging_near_dup",
    "test_streaming_ingest.py::test_assign_splits_stable_epoch_replay",
    "test_streaming_ingest.py::test_assign_splits_stable_null_text_edges",
    "test_streaming_ingest.py::test_compact_epochs_converges_from_every_crash_point",
    "test_streaming_ingest.py::test_compact_epochs_converges_from_every_swap_step",
    "test_streaming_ingest.py::test_compact_epochs_crash_recovery",
    "test_streaming_ingest.py::test_compact_epochs_preserves_content_and_replay",
    "test_streaming_ingest.py::test_compact_epochs_recovers_success_but_no_folded_temp",
    "test_streaming_ingest.py::test_compact_epochs_recovery_is_listing_order_safe",
    "test_streaming_ingest.py::test_compact_epochs_recovery_restore_crash_and_occupied_target",
    "test_streaming_ingest.py::test_frequency_sketch_stream_equals_batch_and_is_idempotent",
    "test_streaming_ingest.py::test_ingest_rejected_doc_cannot_evict_earlier_representative",
    "test_streaming_ingest.py::test_ingest_rejects_transitive_chain_to_history",
    "test_streaming_ingest.py::test_ingest_stale_epoch_replay_refused",
    "test_streaming_ingest.py::test_ingest_stream_equals_batch_backfill",
    "test_streaming_ingest.py::test_ingest_stream_first_arrival_wins",
    "test_streaming_ingest.py::test_ingest_stream_is_epoch_keyed",
    "test_streaming_ingest.py::test_replay_quiesce_mismatch_fails_loudly",
    "test_streaming_ingest.py::test_retract_documents_lifecycle",
    "test_streaming_ingest.py::test_retract_fold_fires_with_single_closed_epoch",
    "test_streaming_ingest.py::test_retracted_doc_id_is_dead_on_reingest",
    "test_streaming_ingest.py::test_retraction_fold_retires_and_stops_rewriting",
    "test_streaming_watermark.py::test_interval_join_hot_key_state_is_horizon_bounded",
    "test_streaming_watermark.py::test_watermarked_drain_equals_batch_algebra_below_watermark",
    "test_streaming_watermark.py::test_watermarked_sessionize_merges_admissible_late_event",
    "test_urls.py::test_property_arrow_kernel_matches_codegen",
    "test_urls.py::test_property_normalize_invariants",
    "test_urls.py::test_psl_full_list_strategies_match_reference",
    "test_warc.py::test_republish_after_takedown_excludes_retracted",
})


TESTS_DIR = Path(__file__).resolve().parent
_slow_skipped = 0


def _slow_key(item) -> str | None:
    """``<path relative to tests/>::<test>`` — None outside tests/."""
    try:
        rel = Path(item.path).resolve().relative_to(TESTS_DIR).as_posix()
    except ValueError:
        return None
    return f"{rel}::{item.nodeid.split('::', 1)[-1]}"


def pytest_collection_modifyitems(config, items):
    global _slow_skipped
    if os.environ.get("MSFS_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier (>=7s): set MSFS_FULL_TESTS=1 for the full run"
    )
    for item in items:
        if _slow_key(item) in SLOW_TESTS:
            item.add_marker(skip)
            _slow_skipped += 1


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    if _slow_skipped:
        terminalreporter.write_line(
            f"slow tier: {_slow_skipped} tests skipped; "
            "set MSFS_FULL_TESTS=1 to run them"
        )
