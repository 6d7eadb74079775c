from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_ingestor_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

#: The slow lane (round-9 verdict #3): every test that measured >= 10 s
#: in the round-10 full-suite run (`--durations=0`, 718 passed,
#: 36m22s), plus a second band measured >= 7 s on a degraded box
#: (~5-8 s clean; see the note above that band). pytest.ini
#: deselects these by default so the driver's `pytest tests/ -x -q`
#: finishes inside its budget; run them with `-m slow` (or
#: everything with `-m ""`). Durations are stamped in
#: the comment so the next re-tiering has a baseline. A central list
#: (not per-test decorators) keeps the tiering reviewable in one
#: place and lets parametrized cases be tagged individually.
_SLOW_IDS = {
    "test_differential.py::test_query_matches_oracle[media_phash_neardup]",  # 363 s
    "test_corpus.py::test_star_cc_equivalent_to_hashmin",  # 67 s
    "test_corpus.py::test_reliable_checkpoint_paths",  # 67 s
    "test_property.py::test_asof_join_tiebreak_deterministic",  # 64 s
    "test_streaming.py::test_stream_scd2_matches_batch_and_replays",  # 45 s
    "test_property.py::test_hist_quantiles_match_definition_and_shard_invariance",  # 43 s
    "test_corpus.py::test_kmeans_fit_objective_monotone_and_deterministic",  # 41 s
    "test_operators_quality.py::test_sem_dedup_vectorized_equals_expression",  # 38 s
    "test_corpus.py::test_bpe_oracles_total_on_degenerate_corpus",  # 35 s
    "test_operators_quality.py::test_scd2_apply_lifecycle",  # 34 s
    "test_property.py::test_asof_nearest_matches_bruteforce",  # 34 s
    "test_property.py::test_unicode_clean_idempotent",  # 33 s
    "test_differential.py::test_query_matches_oracle[text_bpe_encode]",  # 32 s
    "test_property.py::test_asof_forward_matches_bruteforce",  # 31 s
    "test_lines_incremental.py::test_incremental_equals_batch_with_cross_batch_merge",  # 31 s
    "test_property.py::test_asof_join_matches_bruteforce",  # 31 s
    "test_lines_incremental.py::test_stream_dedup_clusters_foreachbatch",  # 31 s
    "test_property.py::test_salted_agg_equals_plain_agg",  # 30 s
    "test_property.py::test_repetition_signal_bounds",  # 27 s
    "test_examples.py::test_queries_demo_example_runs",  # 25 s
    "test_streaming.py::test_stream_bloom_screen_flags_and_replays",  # 25 s
    "test_bucketing.py::test_bucketed_join_has_no_exchange",  # 24 s
    "test_examples.py::test_ann_serving_example_runs",  # 24 s
    "test_property.py::test_pack_bins_conserves_tokens",  # 23 s
    "test_operators_quality.py::test_degenerate_corpus_mass_dups",  # 20 s
    "test_operators_quality.py::test_sem_dedup_trained_removes_planted_dups",  # 17 s
    "test_corpus.py::test_connected_components_long_chain_converges",  # 17 s
    "test_differential.py::test_query_matches_oracle[emb_label_pca1]",  # 16 s
    "test_corpus.py::test_connected_components_sliver_fallback_path",  # 15 s
    "test_lines_incremental.py::test_apply_dedup_batch_absorbs_redelivered_docs",  # 15 s
    "test_corpus.py::test_connected_components_nonconvergence_falls_back",  # 13 s
    "test_differential.py::test_query_matches_oracle[emb_pca_project]",  # 13 s
    "test_corpus.py::test_connected_components_sliver_equals_attached",  # 13 s
    "test_examples.py::test_corpus_curation_example_runs",  # 13 s
    "test_differential.py::test_query_matches_oracle[sim_recall_eval]",  # 12 s
    "test_differential.py::test_query_matches_oracle[emb_pca1_power]",  # 12 s
    "test_property.py::test_symspell_equals_quadratic_on_random_strings",  # 11 s
    "test_differential.py::test_query_matches_oracle[q07_roundtrip_conservation]",  # 11 s
    "test_corpus.py::test_pq_encode_matches_numpy",  # 11 s
    "test_operators_quality.py::test_power_iterate_survives_degenerate_covariance",  # 11 s
    "test_corpus.py::test_connected_components_transitive_chain",  # 10 s
    "test_operators_quality.py::test_scd2_apply_null_transitions",  # 10 s
    # Second tiering band (round-10 close): the driver's pytest budget
    # is ~15 min and these sandboxes drift up to ~1.8x under host
    # contention, so an 11-12 min clean default lane can still time
    # out on a degraded box (the 18m27s verification run that sourced
    # these numbers did exactly that arithmetic). Everything that
    # measured >= 7 s on that degraded-box run (~5-8 s clean) moves to
    # the slow lane too, targeting a ~8 min clean default lane with
    # 1.8x headroom. Durations below are from the degraded run.
    "test_examples.py::test_warehouse_maintenance_example_runs",  # 28 s
    "test_streaming.py::test_stream_dsir_converges_to_batch_pool_and_replays",  # 24 s
    "test_operators_quality.py::test_sketch_path_routing_and_equivalence",  # 22 s
    "test_streaming.py::test_stream_pricing_summary_matches_batch_and_replays",  # 20 s
    "test_streaming_joins.py::test_stream_stream_attribution_matches_batch",  # 16 s
    "test_bucketing.py::test_bucket_pruning_on_key_filter",  # 16 s module setup (shares the bucketed warehouse with the already-slow join test, so the whole module leaves the default lane)
    "test_streaming.py::test_stream_cm_counts_matches_batch_and_replays",  # 15 s
    "test_operators_quality.py::test_label_pca_matches_numpy",  # 14 s
    "test_plan_lint.py::test_iterative_oracle_backed_schemas[dedup_clusters_incremental]",  # 13 s
    "test_driver_canon.py::test_rounding_battery_engines_agree",  # 13 s
    "test_operators_quality.py::test_vectorized_topk_matches_exact",  # 12 s
    "test_pipeline.py::test_batch_ingest_partition_pruning",  # 12 s
    "test_operators_quality.py::test_recall_eval_invariants",  # 11 s
    "test_stateful.py::test_stateful_tracker_matches_batch_twin",  # 11 s
    "test_plan_lint.py::test_no_cartesian_no_row_udf[q07_roundtrip_conservation]",  # 11 s
    "test_plan_lint.py::test_no_cartesian_no_row_udf[sim_recall_eval]",  # 10 s
    "test_graph.py::test_determinism_across_partitionings",  # 10 s
    "test_operators_quality.py::test_ivf_recall_vs_bruteforce",  # 9 s
    "test_operators_quality.py::test_dedup_recall_eval_guarantees",  # 9 s
    "test_streaming.py::test_det_overlap_entry_tracks_exact",  # 8 s
    "test_operators_quality.py::test_pca_project_matches_numpy",  # 8 s
    "test_mixture.py::test_stream_heavy_hitters_foreachbatch",  # 8 s
    "test_corpus.py::test_unigram_lm_train_stable_across_partitionings",  # 8 s
    "test_differential.py::test_query_matches_oracle[emb_kmeans_fit]",  # 8 s
    "test_differential.py::test_query_matches_oracle[dedup_clusters_incremental]",  # 7 s
    "test_corpus.py::test_contamination_finds_planted_overlap",  # 7 s
    # its own JVM in a subprocess (the shell-command spies must be on its PATH)
    "test_localfs.py::test_stream_ingest_forks_no_shell",  # 19 s (11 s in a faster sitting)
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # nodeid is like "tests/test_x.py::test_y[param]" — match on
        # the file::test form so the list works from any rootdir
        nid = item.nodeid.split("/")[-1]
        if nid in _SLOW_IDS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    # Small local session for tests; fewer shuffle partitions keep the
    # tiny-SF suites fast (AQE handles the real sizing at scale).
    s = get_spark(
        app_name="pqing-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.driver.memory": "4g",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
