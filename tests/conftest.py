import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scikit_learn_imputer_spark.session import get_spark


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run tests marked 'slow' (the heavy property/e2e tier, "
        "skipped by default so the default suite fits CI windows)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy property/e2e tests, skipped by default; run with "
        "--runslow or SPARK_GRAFT_SLOW_TESTS=1 (full CI-style mode)",
    )


# The slow tier (VERDICT r14 #1): every test whose measured call time was
# >= ~4 s in the full-suite duration census (r15, --durations=0, commit
# e753014 tree), EXCEPT one canonical representative per family that stays
# in the default tier as smoke coverage:
#   - test_fit_transform_no_nulls_invariant[random_forest] (the
#     reference's core invariant, canonical estimator),
#   - test_query_matches_oracle[corpus_tokenized_capstone] (the headline
#     end-to-end composition parity),
#   - test_bm25_takedown_crash_at_every_write_then_replay[after-dfs]
#     (one crash-point of the atomicity replay property),
#   - test_unguarded_sentinel_equals_guarded_path (guards the r14
#     guard-skip semantic line).
# Keys are "<file basename>::<test name incl. params>" so the list is
# rootdir-independent. Nothing is deleted: --runslow /
# SPARK_GRAFT_SLOW_TESTS=1 runs the full CI-style suite.
SLOW_NODES = {
    "test_oracle_parity.py::test_all_queries_return_rows",
    "test_oracle_parity.py::test_query_matches_oracle[tokenized_sequences_learned]",
    "test_imputer.py::test_multiple_impute_rubins_variance",
    "test_oracle_parity.py::test_query_matches_oracle[vocab_drift]",
    "test_properties.py::test_incremental_dedup_equals_global_dedup",
    "test_imputer.py::test_select_model_separate_timing",
    "test_imputer.py::test_fit_save_then_transform_and_validate",
    "test_imputer.py::test_select_model_ranks",
    "test_dedup_similarity.py::test_phash_near_pairs_banding_and_skew_guard",
    "test_estimator_map.py::test_imputer_save_load_transform_with_knn_pair",
    "test_imputer.py::test_fit_transform_no_nulls_invariant[extra_trees_gbt]",
    "test_properties.py::test_dedup_paragraphs_matches_sequential_reference",
    "test_dedup_similarity.py::test_store_compaction_preserves_probe_results",
    "test_imputer.py::test_fit_transform_no_nulls_invariant[mlp]",
    "test_oracle_parity.py::test_query_matches_oracle[near_dup_pagerank_snapped]",
    "test_estimator_map.py::test_fit_with_per_column_regressor_map",
    "test_asof_multimodal.py::test_asof_join_backward_inclusive",
    "test_imputer.py::test_fit_transform_no_nulls_invariant[logistic_linear]",
    "test_streaming.py::test_stream_corpus_ingest_restart_from_checkpoint",
    "test_dedup_similarity.py::test_incremental_near_dedup_history_filter",
    "test_imputer.py::test_readme_mixed_numeric_categoricals",
    "test_properties.py::test_exact_substrings_spans_account_for_removed_tokens",
    "test_streaming.py::test_stream_corpus_ingest_full_pipeline",
    "test_imputer.py::test_find_imputation_variance",
    "test_imputer.py::test_fit_transform_no_nulls_invariant[decision_tree]",
    "test_imputer.py::test_fit_transform_no_nulls_invariant[dummy_most_frequent]",
    "test_oracle_parity.py::test_query_matches_oracle[bpe_token_counts_learned]",
    "test_estimator_map.py::test_imputer_e2e_with_knn_pair",
    "test_imputer.py::test_round_column_integrality",
    "test_imputer.py::test_nan_cells_are_imputed",
    "test_retrieval_privacy.py::test_bm25_takedown_crash_at_every_write_then_replay[after-stats]",
    "test_dedup_similarity.py::test_pagerank_triangle_and_star",
    "test_chunking.py::test_incremental_pack_sequential_equals_global",
    "test_properties.py::test_ffill_bfill_property_matches_pandas",
    "test_dedup_similarity.py::test_minhash_simhash_max_bucket_skew_guard",
    "test_dedup_similarity.py::test_pagerank_snapped_matches_reference_recurrence",
    "test_imputer.py::test_fit_transform_no_nulls_invariant[dummy_stratified]",
    "test_tokenized.py::test_stream_tokenized_ingest_matches_batch",
    "test_retrieval_privacy.py::test_bm25_takedown_replay_after_compaction_is_noop",
    "test_streaming.py::test_stream_dedup_ingest_restart_from_checkpoint",
    "test_tokenized.py::test_incremental_rewrite_append_only_touches_tail",
    "test_retrieval_privacy.py::test_bm25_compaction_purges_physically_and_is_idempotent",
    "test_dedup_similarity.py::test_stream_near_dedup_ingest_across_batches",
    "test_imputer.py::test_readme_simple_all_continuous",
    "test_tokenized.py::test_incremental_rewrite_hive_escaped_shard_key",
    "test_chunking.py::test_stream_pack_ingest_restart_from_checkpoint",
    "test_retrieval_privacy.py::test_bm25_takedown_partial_crash_replay_does_not_double_subtract",
    "test_retrieval_privacy.py::test_bm25_takedown_crash_at_every_write_then_replay[after-marker]",
    "test_oracle_parity.py::test_query_matches_oracle[bm25_compacted_topk]",
    "test_retrieval_privacy.py::test_bm25_takedown_then_append_folds_commutatively",
    "test_tokenized.py::test_incremental_rewrite_truncates_stale_shards",
    "test_properties.py::test_pack_shuffled_sequences_property_matches_python",
    "test_dedup_similarity.py::test_embedding_near_pairs_cells_subset_and_recall",
    "test_properties.py::test_learn_bpe_merges_property_matches_reference",
    "test_oracle_parity.py::test_query_matches_oracle[ann_ivf_balance]",
    "test_retrieval_privacy.py::test_bm25_takedown_crash_at_every_write_then_replay[after-tombstones]",
    "test_oracle_parity.py::test_query_matches_oracle[bpe_learn_merges]",
    "test_chunking.py::test_repack_after_delete_equals_full_repack",
    "test_oracle_parity.py::test_rerun_is_deterministic[ann_ivf_persisted_topk]",
    "test_dedup_similarity.py::test_cosine_topk_lsh_multiprobe_recall_monotone",
    "test_pipeline_reports.py::test_learn_bpe_merges_matches_reference_learner",
    "test_retrieval_privacy.py::test_bm25_takedown_is_idempotent",
    "test_tokenized.py::test_shuffled_sequences_agree_with_spans",
    "test_chunking.py::test_adjust_offsets_preserves_last_batch_id",
    "test_retrieval_privacy.py::test_bm25_append_with_append_id_is_idempotent",
    "test_streaming.py::test_stream_quality_gate_matches_batch",
    "test_round10_shuffle_pack.py::test_pack_shuffled_sequences_matches_brute_force",
    "test_dedup_similarity.py::test_image_dedup_manifest_counts_constructed_dups",
}


def _stale_slow_nodes(config, keys) -> list[str]:
    """SLOW_NODES keys naming a file that was collected whole but no test
    collected from it — a renamed or deleted test whose slow mark would
    otherwise vanish silently. Files picked test-by-test (``file::test``
    arguments) are not checked."""
    partial = {
        os.path.basename(a.split("::")[0]) for a in config.args if "::" in a
    }
    files = {k.split("::")[0] for k in keys} - partial
    return sorted(
        k for k in SLOW_NODES if k.split("::")[0] in files and k not in keys
    )


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    # Two-tier suite (VERDICT r14 #1): the default run must finish well
    # inside the driver's capture window; the slow tier is never deleted,
    # only skipped, and runs in full with --runslow / SPARK_GRAFT_SLOW_TESTS=1.
    # tryfirst: the check sees every collected test, before -k/-m/--deselect
    # drop any.
    keys = set()
    for item in items:
        key = f"{os.path.basename(str(item.fspath))}::{item.name}"
        keys.add(key)
        if key in SLOW_NODES:
            item.add_marker(pytest.mark.slow)
    stale = _stale_slow_nodes(config, keys)
    if stale:
        raise pytest.UsageError(
            f"SLOW_NODES keys match no collected test: {stale}"
        )
    if config.getoption("--runslow") or os.environ.get(
        "SPARK_GRAFT_SLOW_TESTS"
    ) == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier: run with --runslow or SPARK_GRAFT_SLOW_TESTS=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sli-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT
