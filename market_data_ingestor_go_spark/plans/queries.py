"""The declared query corpus — one entry per operator from SURVEY.md §2.

Each function takes (spark, sf_dir) and returns a DataFrame whose
column names/types match the DuckDB oracle twin in ``oracles.py``
(driver compares row-count + schema + order-insensitive value-hash).

Cross-engine determinism rules used throughout:
- SUM over doubles goes through ``CAST(expr AS DECIMAL(p,s))`` — the
  row-level double expression is bit-identical in both engines, the
  cast is exact, and decimal summation is order-independent. The final
  result casts back to DOUBLE.
- Averages are exact-decimal sums divided by counts in double.
- Timestamps are emitted as epoch milliseconds (BIGINT) to dodge
  timezone/precision mapping differences.
- Orderings that feed LIMIT/row_number always carry a unique tiebreak
  key.

Scale notes are attached per query; dimension joins broadcast
explicitly and every scan-side predicate is expressed so Catalyst can
push it into the parquet reader.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Shared helpers re-exported for tests and downstream modules.
from .common import (  # noqa: F401
    _PQ_ENC_ROOT, _davg, _dstr, _dsum, _events, _pearson_from_moments,
    _pq_enc_root, _slope_from_moments, _t)
from .queries_warehouse import (  # noqa: F401
    agg_cube_year_status, approx_distinct_sketch, bloom_semi_join_agg,
    customer_reorder_rate, customer_revenue_pareto,
    customer_revenue_pareto_approx, customer_sorted_neighborhood_pairs,
    customer_yoy_sign_test, distinct_rollup_hll, fk_orphan_audit,
    fuzzy_name_block_join, interval_overlap_shipments,
    lineitem_qty_price_spearman, nation_supplier_hhi, orders_benford_test,
    orders_by_year, orders_cohort_matrix, orders_daily_autocorr,
    orders_dq_profile, orders_dq_profile_approx, orders_fulfillment_lag,
    orders_fulfillment_lag_approx, orders_open_backlog_days,
    orders_price_skew_kurtosis, orders_revenue_runs_test,
    orders_theilsen_trend, part_brand_price_anova, part_brand_return_rates,
    q10_returned_items, q11_important_stock, q14_promo_revenue_share,
    q15_top_supplier, q16_supplier_part_counts, q18_large_orders,
    q1_pricing_summary, q20_part_promotion, q21_sole_late_supplier,
    q22_idle_customers, q3_top_revenue_orders, q4_order_priority,
    q5_region_nation_revenue, q7_nation_volume, q9_product_profit,
    set_ops_all_variants, set_ops_status_migration, skew_salted_agg,
    sql_api_pricing_summary, string_functions, unpivot_event_matrix,
    window_rank_stats)
from .queries_pipeline import (  # noqa: F401
    a1_latest_per_key, a1_latest_with_ttl, j2_anti_join_unmatched,
    p10_api_key_hash, p11_wire_json, p5p6p7_config_pipeline,
    p9_exchange_enrichment)
from .queries_events import (  # noqa: F401
    asof_join_purchase_click, event_gaps, events_cohort_retention,
    events_conversion_latency, events_conversion_latency_approx,
    events_cusum_bucketed, events_cusum_changepoint, events_drawdown,
    events_ewma_chunked, events_ewma_smooth, events_gapfill_interpolate,
    events_gapfill_locf, events_hourly_seasonality,
    events_kruskal_value_test, events_mad_outliers,
    events_mannwhitney_value_test, events_markov_attribution,
    events_markov_transitions, events_motif_search, events_moving_stats,
    events_ohlc_bars, events_pair_correlation, events_purchase_rate_ztest,
    events_rfm_segments, events_rolling_active_users,
    events_session_funnel_paths, events_sessionization, events_trend_slope,
    events_tumbling_window, events_twap, events_type_cooccurrence_lift,
    events_user_growth, events_user_growth_accounting,
    events_variant_extract, events_vwap, events_zscore_outliers,
    range_join_click_context, value_percentiles, value_quantiles_kll)
from .queries_docs import (  # noqa: F401
    _BM25_IDX, _bm25_index_path, _source_shingles, contamination_check,
    corpus_datacard, corpus_mix, corpus_snapshot_diff,
    corpus_upsample_stats, corpus_vocab_growth, crawl_delta_apply,
    curation_pipeline_summary, dedup_cluster_keepers, dedup_exact,
    dedup_fingerprint, doc_bm25_from_index, doc_bm25_topk,
    doc_bpe_token_real, doc_containment_pairs, doc_length_buckets,
    doc_lm_quality, doc_ngram_novelty, doc_pmi_collocations,
    doc_quality_signals, doc_repetition_signals, doc_sparse_cosine_neardup,
    doc_top_terms, docs_lang_source_independence,
    docs_source_lang_diversity, docs_stratified_kfold,
    docs_weighted_sample, dsir_importance_weights, dup_span_extents,
    dup_span_scrub, eval_leak_scrub, eval_leak_spans, hybrid_rrf_ann,
    hybrid_rrf_retrieval, lm_quality_bands, minhash_neardup,
    neardup_pagerank, neardup_triangle_stats, ngram_jaccard_neardup,
    pack_greedy_packing, pack_sequences_chunked, passage_dedup_scrub,
    pii_scrub_stats, rolling_fingerprint_neardup, shard_manifest,
    simhash_neardup, snapshot_change_magnitude, source_cap_sample,
    source_chi2_drift, source_gini_concentration, source_ks_drift,
    source_mix_weights, source_overlap_exact, source_overlap_theta,
    source_quality_floor, source_quality_floor_approx, source_tv_drift,
    stratified_resample_stats, text_bpe_token_estimate, text_langid,
    text_repetition, token_frequencies, token_heavy_hitters_sketch,
    train_test_split_hash, winnow_fingerprint_neardup)
from .queries_vectors import (  # noqa: F401
    _COV_MEMO, _PQ_BOOKS, _SEM_CENTS, _cov_once, _pq_codebooks,
    _sem_centroids, audio_afp_neardup, embedding_correlation_matrix,
    embedding_cosine_neardup, embedding_covariance_arrow_q,
    embedding_covariance_matrix, embedding_lsh_neardup,
    embedding_norm_stats, embedding_outlier_docs, embedding_pca_spectrum,
    embedding_quantize_stats, image_dedup_keepers, image_dhash_neardup,
    jl_projection_distortion, knn_ann_hyperplane, knn_ann_pq,
    knn_bruteforce, multimodal_binary_meta, semantic_dedup_clusters,
    semdedup_keepers, source_embedding_drift, video_frame_neardup)


# The driver checks the FIRST 50 entries of queries() against their
# DuckDB oracles, so QUERIES is the declared window: at most 50
# entries, each one oracle-backed (test_driver_window_is_at_most_50).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_cluster_keepers": dedup_cluster_keepers,
    "contamination_check": contamination_check,
    "knn_bruteforce": knn_bruteforce,
    "p5p6p7_config_pipeline": p5p6p7_config_pipeline,
    "a1_latest_per_key": a1_latest_per_key,
    "events_gapfill_interpolate": events_gapfill_interpolate,
    "skew_salted_agg": skew_salted_agg,
    "events_moving_stats": events_moving_stats,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q20_part_promotion": q20_part_promotion,
    "doc_bm25_from_index": doc_bm25_from_index,
    "eval_leak_scrub": eval_leak_scrub,
    "crawl_delta_apply": crawl_delta_apply,
    "winnow_fingerprint_neardup": winnow_fingerprint_neardup,
    "dup_span_scrub": dup_span_scrub,
    "source_chi2_drift": source_chi2_drift,
    "doc_repetition_signals": doc_repetition_signals,
    "events_cohort_retention": events_cohort_retention,
    "events_markov_transitions": events_markov_transitions,
    "events_cusum_changepoint": events_cusum_changepoint,
    "doc_quality_signals": doc_quality_signals,
    "embedding_covariance_matrix": embedding_covariance_matrix,
    "embedding_correlation_matrix": embedding_correlation_matrix,
    "image_dhash_neardup": image_dhash_neardup,
    "image_dedup_keepers": image_dedup_keepers,
    "events_cusum_bucketed": events_cusum_bucketed,
    "events_rfm_segments": events_rfm_segments,
    "video_frame_neardup": video_frame_neardup,
    "neardup_triangle_stats": neardup_triangle_stats,
    "interval_overlap_shipments": interval_overlap_shipments,
    "source_quality_floor": source_quality_floor,
    "orders_dq_profile": orders_dq_profile,
    "orders_benford_test": orders_benford_test,
    "events_session_funnel_paths": events_session_funnel_paths,
    "source_gini_concentration": source_gini_concentration,
    "events_type_cooccurrence_lift": events_type_cooccurrence_lift,
    "docs_lang_source_independence": docs_lang_source_independence,
    "embedding_outlier_docs": embedding_outlier_docs,
    "events_rolling_active_users": events_rolling_active_users,
    "part_brand_price_anova": part_brand_price_anova,
    "fk_orphan_audit": fk_orphan_audit,
    "orders_fulfillment_lag": orders_fulfillment_lag,
    "part_brand_return_rates": part_brand_return_rates,
    "docs_weighted_sample": docs_weighted_sample,
    "orders_price_skew_kurtosis": orders_price_skew_kurtosis,
    "events_user_growth_accounting": events_user_growth_accounting,
    "customer_revenue_pareto": customer_revenue_pareto,
    "events_conversion_latency": events_conversion_latency,
    "events_mannwhitney_value_test": events_mannwhitney_value_test,
    "docs_source_lang_diversity": docs_source_lang_diversity,
}

assert len(QUERIES) <= 50, "driver correctness window is 50 queries"

# Registered operators outside the driver window. Oracle-backed entries
# are parity-tested against DuckDB in tests/test_parity.py; rows-only
# entries carry their reason inline and are smoke-run there.
EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "source_overlap_theta": source_overlap_theta,  # rows-only (theta ∩/∪)
    "doc_bpe_token_real": doc_bpe_token_real,  # rows-only (trained)
    "value_quantiles_kll": value_quantiles_kll,  # rows-only (KLL, randomized)
    "pack_greedy_packing": pack_greedy_packing,  # rows-only (applyInPandas)
    "p11_wire_json": p11_wire_json,
    "q3_top_revenue_orders": q3_top_revenue_orders,
    "q18_large_orders": q18_large_orders,
    "q21_sole_late_supplier": q21_sole_late_supplier,
    "approx_distinct_sketch": approx_distinct_sketch,  # rows-only (HLL)
    "a1_latest_with_ttl": a1_latest_with_ttl,
    "events_tumbling_window": events_tumbling_window,
    "events_ewma_chunked": events_ewma_chunked,  # rows-only (chunked path)
    "dedup_exact": dedup_exact,
    "ngram_jaccard_neardup": ngram_jaccard_neardup,
    "simhash_neardup": simhash_neardup,  # rows-only (LSH buckets)
    "text_langid": text_langid,
    "embedding_lsh_neardup": embedding_lsh_neardup,  # rows-only (LSH buckets)
    "embedding_norm_stats": embedding_norm_stats,
    "knn_ann_hyperplane": knn_ann_hyperplane,  # rows-only (ANN)
    "knn_ann_pq": knn_ann_pq,  # rows-only (trained codebook)
    "p10_api_key_hash": p10_api_key_hash,
    "q5_region_nation_revenue": q5_region_nation_revenue,
    "set_ops_status_migration": set_ops_status_migration,
    "events_ohlc_bars": events_ohlc_bars,
    "pack_sequences_chunked": pack_sequences_chunked,
    "events_sessionization": events_sessionization,
    "asof_join_purchase_click": asof_join_purchase_click,
    "value_percentiles": value_percentiles,
    # rows-only by design (engine-trained centroids); the exact
    # semantic_dedup_clusters is oracle-backed
    "semdedup_keepers": semdedup_keepers,
    "dedup_fingerprint": dedup_fingerprint,
    "minhash_neardup": minhash_neardup,
    "semantic_dedup_clusters": semantic_dedup_clusters,
    "text_repetition": text_repetition,
    "text_bpe_token_estimate": text_bpe_token_estimate,
    "doc_top_terms": doc_top_terms,
    "doc_length_buckets": doc_length_buckets,
    "pii_scrub_stats": pii_scrub_stats,
    "train_test_split_hash": train_test_split_hash,
    "corpus_upsample_stats": corpus_upsample_stats,
    "source_cap_sample": source_cap_sample,
    "shard_manifest": shard_manifest,
    "curation_pipeline_summary": curation_pipeline_summary,
    "embedding_cosine_neardup": embedding_cosine_neardup,
    "embedding_quantize_stats": embedding_quantize_stats,
    "source_overlap_exact": source_overlap_exact,
    "bloom_semi_join_agg": bloom_semi_join_agg,
    # rows-only (CMS)
    "token_heavy_hitters_sketch": token_heavy_hitters_sketch,
    "distinct_rollup_hll": distinct_rollup_hll,  # rows-only (HLL)
    "p9_exchange_enrichment": p9_exchange_enrichment,
    "j2_anti_join_unmatched": j2_anti_join_unmatched,
    "q1_pricing_summary": q1_pricing_summary,
    "q15_top_supplier": q15_top_supplier,
    "events_variant_extract": events_variant_extract,
    "events_gapfill_locf": events_gapfill_locf,
    "events_twap": events_twap,
    "events_ewma_smooth": events_ewma_smooth,
    "events_zscore_outliers": events_zscore_outliers,
    "events_trend_slope": events_trend_slope,
    "orders_cohort_matrix": orders_cohort_matrix,
    # rows-only: IVF cell assignment is engine-side; overlap floor
    # vs the exact hybrid tested in tests/test_retrieval.py
    "hybrid_rrf_ann": hybrid_rrf_ann,
    "orders_by_year": orders_by_year,
    "q4_order_priority": q4_order_priority,
    "q7_nation_volume": q7_nation_volume,
    "q14_promo_revenue_share": q14_promo_revenue_share,
    "q22_idle_customers": q22_idle_customers,
    "event_gaps": event_gaps,
    "window_rank_stats": window_rank_stats,
    "source_tv_drift": source_tv_drift,
    "dsir_importance_weights": dsir_importance_weights,
    "q10_returned_items": q10_returned_items,
    "events_drawdown": events_drawdown,
    "doc_containment_pairs": doc_containment_pairs,
    "jl_projection_distortion": jl_projection_distortion,
    # rows-only by design: PCA eigen-decomposition is driver-side
    # eigh over the d×d matrix; the Arrow/BLAS covariance twin is
    # float64, equality-tested against the exact
    # embedding_covariance_matrix
    "embedding_pca_spectrum": embedding_pca_spectrum,
    "embedding_covariance_arrow": embedding_covariance_arrow_q,
    "passage_dedup_scrub": passage_dedup_scrub,
    "rolling_fingerprint_neardup": rolling_fingerprint_neardup,
    "dup_span_extents": dup_span_extents,
    "source_ks_drift": source_ks_drift,
    "events_user_growth": events_user_growth,
    "events_pair_correlation": events_pair_correlation,
    "corpus_mix": corpus_mix,
    "doc_lm_quality": doc_lm_quality,
    "doc_bm25_topk": doc_bm25_topk,
    "events_mad_outliers": events_mad_outliers,
    "events_motif_search": events_motif_search,
    "token_frequencies": token_frequencies,
    "events_vwap": events_vwap,
    "corpus_datacard": corpus_datacard,
    "neardup_pagerank": neardup_pagerank,
    "doc_sparse_cosine_neardup": doc_sparse_cosine_neardup,
    "lm_quality_bands": lm_quality_bands,
    "hybrid_rrf_retrieval": hybrid_rrf_retrieval,
    "q9_product_profit": q9_product_profit,
    "agg_cube_year_status": agg_cube_year_status,
    # rows-only by design (FFT not SQL-expressible; invariance +
    # recall tests pin correctness)
    "audio_afp_neardup": audio_afp_neardup,
    # HLL swap of the exact DQ profile — rows-only by design
    # (Datasketches HLL ≠ DuckDB's sketch); accuracy pinned
    # against the exact profile (≤5% relative-error contract test)
    "orders_dq_profile_approx": orders_dq_profile_approx,
    # GK-percentile swap of the exact quality floor — rows-only
    # by design (engine-internal sketch); accuracy pinned against
    # the exact floor (rank-error contract test)
    "source_quality_floor_approx": source_quality_floor_approx,
    "doc_pmi_collocations": doc_pmi_collocations,
    "doc_ngram_novelty": doc_ngram_novelty,
    "source_mix_weights": source_mix_weights,
    "corpus_vocab_growth": corpus_vocab_growth,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "source_embedding_drift": source_embedding_drift,
    "snapshot_change_magnitude": snapshot_change_magnitude,
    "eval_leak_spans": eval_leak_spans,
    # GK scale twins of two rank-window queries — rows-only by
    # design (engine-internal sketch; the exact forms are the
    # oracle-checkable ground truth), accuracy-contract-tested
    "events_conversion_latency_approx": events_conversion_latency_approx,
    "customer_revenue_pareto_approx": customer_revenue_pareto_approx,
    "stratified_resample_stats": stratified_resample_stats,
    "multimodal_binary_meta": multimodal_binary_meta,
    "fuzzy_name_block_join": fuzzy_name_block_join,
    "range_join_click_context": range_join_click_context,
    "sql_api_pricing_summary": sql_api_pricing_summary,
    "set_ops_all_variants": set_ops_all_variants,
    "unpivot_event_matrix": unpivot_event_matrix,
    "string_functions": string_functions,
    "q11_important_stock": q11_important_stock,
    "nation_supplier_hhi": nation_supplier_hhi,
    "lineitem_qty_price_spearman": lineitem_qty_price_spearman,
    "orders_daily_autocorr": orders_daily_autocorr,
    "customer_sorted_neighborhood_pairs": customer_sorted_neighborhood_pairs,
    "orders_open_backlog_days": orders_open_backlog_days,
    "events_hourly_seasonality": events_hourly_seasonality,
    "events_kruskal_value_test": events_kruskal_value_test,
    "orders_theilsen_trend": orders_theilsen_trend,
    "orders_revenue_runs_test": orders_revenue_runs_test,
    "docs_stratified_kfold": docs_stratified_kfold,
    "customer_reorder_rate": customer_reorder_rate,
    "events_purchase_rate_ztest": events_purchase_rate_ztest,
    "customer_yoy_sign_test": customer_yoy_sign_test,
    # GK scale twin of the per-priority rank-window exact form —
    # rows-only by design (engine-internal sketch; the exact
    # orders_fulfillment_lag is the oracle-checkable ground
    # truth), accuracy-contract-tested
    "orders_fulfillment_lag_approx": orders_fulfillment_lag_approx,
    # Markov removal-effect attribution — rows-only by design
    # (driver-side absorbing-chain solve over the bounded count
    # artifact), reference-tested
    "events_markov_attribution": events_markov_attribution,
}

ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **QUERIES, **EXTRA_QUERIES}
