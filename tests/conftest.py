from __future__ import annotations

import pytest

from mapreduce_rs_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Modest local parallelism: JVM startup dominates at sf0.001, and 8
    # threads keep task-scheduling overhead below the tiny task runtimes.
    spark = get_spark("tests", **{"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# ---------------------------------------------------------------------------
# Tier split (r12 verdict #1). The default invocation excludes `slow`
# (pytest.ini addopts); `-m ""` runs everything. All marking happens
# HERE so the tier membership is reviewable in one place.
#
# Fast tier keeps: every oracle-parity / plan-guard param in the
# driver's 50-query check window or the bench member set, one
# representative param per randomized-probe family, and every
# functional test not listed below. Slow tier = exhaustive sweeps of
# the same machinery plus heavyweight one-off infra behavior tests.
# ---------------------------------------------------------------------------

# Whole functions whose every instance is exhaustive-tier (their
# behavior keeps faster siblings in the default tier — noted inline).
_SLOW_FUNCS = {
    # property sweep over every filter size; default tier still builds
    # and probes blooms via bloom_prefilter_stats parity + unit tests
    "test_no_false_negatives_at_any_size",
    # AQE runtime-behavior one-offs; plan-shape guards stay fast
    "test_aqe_splits_the_hot_key",
    "test_big_sort_spills_and_completes",
    "test_speculation_single_host_behavior",
    # randomized repeats beyond the seeded single-run siblings
    "test_bpe_batched_identical_on_random_corpora",
    "test_png_roundtrip_random",
    "test_bmp_roundtrip_random",
    "test_components_match_union_find_on_random_graphs",
    # heaviest fusion pair (3-node resize chain); the other 9 fusion
    # parity tests + image_resize oracle parity stay fast
    "test_image_resize_stats_fusion",
    # sf0.1 byte-identity sweep; the sf0.001 twins stay fast
    "test_durable_path_byte_identical_at_sf01",
    # ---- r13 additions (r12 verdict #1: the 19:49 default tier was
    # still too close to the driver window; every entry below keeps a
    # faster sibling in the default tier) ----
    # task-retry injection INSIDE the codec stage (25 s): the
    # fault-tolerance family's other retry tests + the codec parity
    # tests stay fast
    "test_codec_stage_failure_recovers_byte_identical",
    # full-corpus exact-vs-neardup yield invariant (23 s): the planted-
    # cluster collapse test + both curation_yield oracle parities fast
    "test_neardup_yield_never_exceeds_exact_yield",
    # multi-run arrival-order permutation sweep (16 s):
    # quantile_sketch_matches_batch + recovers_across_runs stay fast
    "test_stateful_quantile_sketch_arrival_order_invariant",
    # saturation property probe (7 s): words_bounded + prefilter
    # parity stay fast
    "test_saturated_filter_passes_everything",
    # long-chain convergence probe (9 s): hand-graph + oracle parity
    # + the random-graph union-find probe (slow tier) cover components
    "test_components_converge_on_long_chain",
    # multi-op partition-invariance sweeps (17 s combined): the
    # mechanism keeps money_aggregates + repartitioned_input_same_bits
    # + pagerank_partition_invariant as fast representatives
    "test_session_new_ops_partition_invariant",
    "test_sixth_session_ops_partition_invariant",
    "test_round4_ratio_signals_partition_invariant",
    # per-operator materialize byte-identity (one mechanism, many
    # operators; ~17 s combined): minhash_lsh_pairs + dedup_components
    # stay fast as the two-path representatives
    "test_semdedup_parquet_path_byte_identical",
    "test_bfs_hops_parquet_path_byte_identical",
    "test_cms_parquet_path_byte_identical",
    "test_theta_daily_overlap_parquet_path_byte_identical",
    "test_bigram_surprisal_parquet_path_byte_identical",
    "test_join_size_estimate_parquet_path_byte_identical",
}

# Per-param slow marking for the big parametrizations: params NOT in
# the fast set are exhaustive-tier.
_RANDOM_PROBE_REPRESENTATIVES = {
    "test_relational_query_matches_oracle_on_random_star": {
        "join_revenue_by_nation",
        "weighted_shortest_paths",
    },
    "test_doc_query_matches_oracle_on_random_corpus": {
        "rdd_wordcount",
        "curation_yield_neardup",
    },
    "test_event_query_matches_oracle_on_random_events": {
        "sessionize",
        "session_window_stats",
    },
    # the integer micro-unit family rides with the exact + graph reps:
    # semdedup_derived_k (derived-k tie-break and quantization path) and
    # semdedup_ingest_audit (the oracle the ingest store is checked
    # against) took 7.8 s and 8.6 s in a tier-1 run on a 4-core box
    "test_emb_query_matches_oracle_on_random_vectors": {
        "knn_bruteforce",
        "knn_graph_ingest",
        "semdedup_derived_k",
        "semdedup_ingest_audit",
    },
}

# Streaming twins: keep the 6-param core hash-parity sweep and ONE
# late-data twin fast; the other late-data variants and the heavy
# one-off drain/loop scenarios are exhaustive-tier.
_SLOW_STREAMING = {
    "test_streaming_late_data_hash_matches_nonlate_batch_twin": {
        "keep": {"tumbling_late"}
    },
    # one store-backed ingest loop drain stays fast; the other four
    # run the same skeleton with a different step
    "test_store_loop_drain_matches_batch_twin": {"keep": {"decon"}},
}
_SLOW_STREAMING_FUNCS = {
    "test_semdedup_admit_batch_degenerate_corpus_matches_oneshot",
    "test_streaming_neardup_ingest_loop",
    "test_ingest_updates_dedup_vec_id_delivered_twice_in_one_epoch",
}


def _fast_query_names() -> set[str]:
    from mapreduce_rs_spark.plans.registry import _CHECK_FIRST

    import bench

    return set(_CHECK_FIRST) | set(bench.HEADLINE)


def pytest_collection_modifyitems(config, items):
    fast_queries = _fast_query_names()
    slow = pytest.mark.slow
    for item in items:
        func = item.originalname or item.name
        param = None
        if "[" in item.name:
            param = item.name.split("[", 1)[1].rstrip("]")

        if func in _SLOW_FUNCS or func in _SLOW_STREAMING_FUNCS:
            item.add_marker(slow)
        elif func in ("test_query_matches_oracle", "test_scale_guard"):
            if param is not None and param not in fast_queries:
                item.add_marker(slow)
        elif func in _RANDOM_PROBE_REPRESENTATIVES:
            if param not in _RANDOM_PROBE_REPRESENTATIVES[func]:
                item.add_marker(slow)
        elif func in _SLOW_STREAMING:
            if param not in _SLOW_STREAMING[func]["keep"]:
                item.add_marker(slow)
