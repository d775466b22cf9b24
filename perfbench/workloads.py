"""Pinned workload definitions.

Everything a run depends on besides the seed lives here, copied rather
than imported from the repository's other scripts, so editing those does
not change the benchmark.
"""

from __future__ import annotations

import os

# One local executor slot per available core (``local[nproc]``).
CORES = len(os.sched_getaffinity(0))
MASTER = f"local[{CORES}]"
# Driver heap for every run; the largest workload peaks well under it.
DRIVER_MEMORY = "4g"
# Set-ups per run: the first launches the JVM, the rest restart the
# session in it; setup_s is their median.
SETUP_REPEATS = 6

# The 68 headline queries of the repository's bench script, in its order.
HEADLINERS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_volume",
    "q_top_customers", "q_events_windowed", "q_events_sessionize",
    "dedup_exact", "dedup_minhash_lsh", "sim_search_bruteforce", "text_quality",
    "text_vocabulary", "ingest_parser_input", "ingest_pipeline_e2e",
    "ingest_download_fetch", "mm_decode_stub", "stream_ingest",
    "q18_large_orders", "q13_order_distribution", "emb_centroids",
    "mm_frame_sample", "text_gopher_rules", "mm_phash_neardup", "emb_pq",
    "sample_temperature", "q_events_sliding", "q9_profit_shape",
    "q_events_funnel", "stats_ks_drift", "dedup_incremental",
    "split_train_holdout", "q_events_cohort_retention", "q_basket_pairs",
    "stats_correlation_matrix", "dedup_bloom", "dedup_semantic",
    "corpus_token_budget", "text_hash_classifier", "text_boilerplate",
    "q_map_in_arrow", "q_apply_in_arrow", "mm_image_tiles",
    "corpus_perplexity_filter", "text_zipf_fit", "emb_pca_power",
    "stats_kruskal_wallis", "text_burstiness", "emb_hubness",
    "mm_audio_vad_segments", "q_events_inter_arrival", "q_orders_abc_class",
    "stats_auc_classifier", "emb_isotropy", "stats_wilcoxon_signed_rank",
    "emb_triplet_mining", "emb_silhouette", "text_heaps_law",
    "text_ngram_novelty", "graph_harmonic_centrality", "q_customer_migration",
    "text_simpson_diversity", "stats_hodges_lehmann", "stats_brunner_munzel",
    "mm_shard_manifest", "emb_cka_similarity", "split_dedup_aware",
    "stats_permutation_test", "sink_hll_sketch_union", "q_sql_recursive_cte",
)

# The headliners a timed headline run cycles through. All 68 do not fit
# a run; these cover the layers the 68 stress: relational joins and
# aggregates (q1, q5), windows (sessionize), string maps (text_quality),
# one of the largest plan builds (graph_harmonic_centrality) and the
# largest data-dependent times (q_basket_pairs, stats_correlation_matrix).
HEADLINE_CORE = (
    "q1_pricing_summary", "q5_local_volume", "q_events_sessionize",
    "text_quality", "q_basket_pairs", "stats_correlation_matrix",
    "graph_harmonic_centrality",
)
# Untimed noop passes after the oracle pass: the driver JVM keeps
# compiling the planner's hot paths over the first passes.
HEADLINE_WARM_PASSES = 1

# Headline workload name -> its tables: the repository's sf0.001 test
# data, copied byte for byte into perfbench/data so a run reads only its
# checkout. sf0.1 (17 MB) is not copied; that workload takes --data.
HEADLINE_DATA = {
    "headline_sf0.001": os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                     "data", "sf0.001"),
    "headline_sf0.1": None,
}

# ingest_batch: one PipelineUpdates file per batch, each with distinct ids.
INGEST = {
    "new_documents": 5_000,
    "updated_documents": 5_000,
    "null_url_share": 0.02,
    "invalid_url_share": 0.05,
    # untimed full-size batches before the window: the JIT keeps
    # improving over the first several
    "warm_batches": 5,
    # files written while the JVM starts; later ones are written between
    # batches, outside the timing
    "prepared_batches": 8,
}
