"""Operator registry — the contract surface for ``__spark_entry__.py``.

Every operator module registers its queries with the :func:`op` decorator:

    @op("ts_rate", oracle=\"\"\"SELECT ... FROM events ...\"\"\")
    def ts_rate(spark, sf_dir):
        ...

``QUERIES`` maps op key → ``(spark, sf_dir) -> DataFrame``; ``ORACLE`` maps
op key → the equivalent DuckDB SQL (omitted for non-SQL-expressible ops —
the driver then records a weaker rows-only check, per the driver contract in
``__spark_entry__.py``).

Column-name discipline (driver hashes values after sorting columns BY NAME):
every computed column must be aliased identically in the Spark query and the
oracle SQL.  Float discipline: round aggregates on BOTH sides (SURVEY.md §7
hard parts) so cross-engine summation order cannot flip the hash.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
_REG_INDEX: dict[str, int] = {}

# The driver's per-round correctness file attests the first 50 entries of
# ``queries()`` in dict order.  To get every op a driver-attested row across
# rounds, ``queries()``/``oracle_sql()`` order ops NOT yet attested first;
# already-attested keys go last.  Within each group, registration order is
# preserved.  The set below is the union of keys across all CORRECTNESS_r*
# files folded in so far — REGENERATE IT AT THE START OF EVERY ROUND with
# ``python scripts/update_attested.py --write`` (skipping this wastes the
# round's 50-key attestation window on keys already attested).
_ATTESTED = frozenset(
    {
        'ann_recall_eval', 'ann_recall_eval_ivfpq', 'anti_join', 'api_bulk_timerange',
        'api_freshness_report', 'api_timerange_json', 'approx_distinct', 'approx_distinct_check',
        'approx_distinct_hll_merge', 'approx_percentiles', 'approx_percentiles_check', 'array_agg_sorted',
        'asof_join', 'asof_join_nearest', 'attribution_last_touch', 'attribution_linear',
        'attribution_time_decay', 'bigram_lm_perplexity', 'blocklist_filter', 'bm25_topdocs',
        'bpe_merge_pair_step', 'broadcast_join', 'chunk_dedup_cdc', 'corpus_mix_report',
        'cross_join_topk', 'cross_source_dedup_priority', 'cumulative_distinct_users', 'customer_rfm',
        'data_quality_contract', 'dataset_mixture_epochs', 'dau_wau_mau', 'decontaminate_ngram',
        'decontamination_overlap', 'dedup_cluster_size_stats', 'dedup_connected_components', 'dedup_cross_source_matrix',
        'dedup_embedding_cosine', 'dedup_exact', 'dedup_minhash_indexed', 'dedup_minhash_indexed_smallbatch',
        'dedup_near_minhash', 'dedup_ngram_jaccard', 'dedup_semantic_cells', 'dedup_semantic_indexed',
        'dedup_semantic_indexed_sqrtn', 'dedup_simhash', 'dedup_threshold_sweep', 'distinct_agg',
        'doc_fingerprint', 'doc_length_histogram', 'doc_pagerank', 'doc_semantic_outliers',
        'doc_sliding_context_chunks', 'doc_winnowing_overlap', 'domain_quota_sample', 'embedding_centroid_per_label',
        'embedding_dim_stats', 'embedding_norm_outliers', 'embedding_pca_power_iteration', 'embedding_quantize',
        'event_bigrams', 'event_funnel', 'event_lift_matrix', 'event_markov_transition',
        'exact_substring_dedup', 'format_roundtrip_csv', 'format_roundtrip_json', 'format_roundtrip_orc',
        'funnel_time_to_convert', 'grouped_mode', 'grouping_sets', 'hash_aggregate',
        'hash_join_inner', 'ingest_batch_append', 'ingest_cdc_merge', 'ingest_dlq_quarantine',
        'ingest_late_data_report', 'ingest_replay_idempotent', 'inter_event_gap_histogram', 'kmeans_one_step',
        'knn_pairs', 'lang_distribution', 'lang_id_confusion', 'lang_id_ngram',
        'market_basket_pairs', 'mine_hard_negatives', 'minhash_band_sensitivity', 'minhash_jaccard_estimate',
        'multimodal_decode', 'multimodal_embed', 'multimodal_frame_sample', 'multimodal_join',
        'multimodal_phash_dedup', 'multimodal_tile_plan', 'ngram_topk', 'outer_join_full',
        'outer_join_left', 'percentiles', 'pii_scrub_stats', 'pipeline_corpus_curate',
        'pipeline_pretraining_mix', 'pivot_unpivot', 'privacy_k_anonymity', 'projection_filter',
        'quality_filter_funnel', 'quality_gopher_rules', 'rag_hybrid_retrieval', 'range_interval_join',
        'retention_cohort', 'rollup_cube', 'salted_aggregate', 'salted_skew_join',
        'sample_importance_weighted', 'sample_stratified', 'sample_token_budget', 'scalar_array_funcs',
        'scalar_bitwise_funcs', 'scalar_date_funcs', 'scalar_json_funcs', 'scalar_math_funcs',
        'scalar_string_funcs', 'scan_parquet', 'scd2_history_build', 'scd2_point_in_time_join',
        'semi_join', 'seq_packing', 'session_duration_stats', 'set_except',
        'set_intersect', 'set_union', 'sim_search_ann_lsh', 'sim_search_batch',
        'sim_search_ivf', 'sim_search_ivf_pq', 'sim_search_ivf_pq_indexed', 'sim_search_lsh_indexed',
        'sim_search_lsh_multiprobe', 'sim_search_range', 'sim_search_topk', 'skew_key_report',
        'sort_limit_topk', 'sort_merge_join', 'source_divergence_kl', 'split_train_test',
        'storage_bucketed_join', 'storage_compaction_integrity', 'storage_day_partitioned_scan', 'storage_file_skipping_manifest',
        'storage_gdpr_erasure', 'storage_retention_expire', 'storage_schema_evolution', 'storage_snapshot_gc',
        'storage_snapshot_time_travel', 'storage_zorder_scan', 'stream_anomaly_zscore', 'stream_cdc_apply',
        'stream_cdc_apply_bucketed', 'stream_dedup', 'stream_dedup_indexed', 'stream_distinct_hll',
        'stream_first_touch', 'stream_histogram_ladder', 'stream_ingest', 'stream_ladder_full_pipeline',
        'stream_ladder_maintenance', 'stream_ladder_retention', 'stream_replay_exactly_once', 'stream_session',
        'stream_sliding', 'stream_stateful_rate', 'stream_static_join', 'stream_stream_join',
        'stream_topk_talkers', 'stream_tumbling', 'stream_utilization_alert', 'stream_watermark_late',
        'stream_watermark_late_check', 'subquery_scalar', 'term_zipf_slope', 'text_ngram_novelty',
        'text_quality_score', 'text_repetition_filter', 'text_repetition_stats', 'text_stopword_stats',
        'text_tokenize_stats', 'text_unigram_logprob', 'text_word_entropy', 'tfidf_topterms',
        'token_count_bpe', 'tokenizer_fertility_by_lang', 'tokenizer_vocab_coverage', 'topk_docs_per_source',
        'tpch_q1', 'tpch_q10', 'tpch_q11', 'tpch_q12',
        'tpch_q13', 'tpch_q14', 'tpch_q15', 'tpch_q16',
        'tpch_q17', 'tpch_q18', 'tpch_q19', 'tpch_q2',
        'tpch_q20', 'tpch_q21', 'tpch_q22', 'tpch_q3',
        'tpch_q4', 'tpch_q5', 'tpch_q6', 'tpch_q7',
        'tpch_q8', 'tpch_q9', 'ts_agg_cascade', 'ts_aggregate_row',
        'ts_alert_flap_detect', 'ts_alert_rules_eval', 'ts_anomaly_mad', 'ts_anomaly_zscore',
        'ts_autocorr_lag', 'ts_availability_report', 'ts_billing_p95', 'ts_bin_split',
        'ts_bin_split_bucketed', 'ts_burst_detect', 'ts_calendar_heatmap', 'ts_capacity_forecast',
        'ts_compare_window', 'ts_counter_reset_detect', 'ts_counter_wrap', 'ts_counter_wrap64',
        'ts_delta', 'ts_downsample_avg', 'ts_downsample_delta', 'ts_downsample_delta64',
        'ts_downsample_last', 'ts_downsample_minmax', 'ts_downsample_ohlc', 'ts_downsample_percentile',
        'ts_error_budget_burn', 'ts_ewma', 'ts_flag_filter', 'ts_flag_visibility',
        'ts_fleet_zscore', 'ts_forecast_seasonal_naive', 'ts_gap_fill_locf', 'ts_gap_report',
        'ts_heartbeat_invalidate', 'ts_hierarchy_rollup', 'ts_histogram_ladder', 'ts_incident_merge_windows',
        'ts_interpolate', 'ts_ladder_backfill', 'ts_ladder_full_pipeline', 'ts_ladder_route',
        'ts_ladder_route_sql', 'ts_last_known', 'ts_lead_lag_correlation', 'ts_linear_trend',
        'ts_merge_upsert', 'ts_metadata_get', 'ts_missing_islands', 'ts_mtbf_mttr',
        'ts_percent_change_movers', 'ts_percentile_bands', 'ts_period_detect', 'ts_point_lookup',
        'ts_poll_interval_drift', 'ts_range_scan', 'ts_rate', 'ts_rate64',
        'ts_rate_downsample', 'ts_rate_invalid_reasons', 'ts_rolling_1h', 'ts_rolling_median',
        'ts_rollup_multi_granularity', 'ts_seasonal_anomaly', 'ts_seasonal_baseline', 'ts_series_catalog',
        'ts_series_correlation', 'ts_sessionize', 'ts_sla_maintenance_window', 'ts_sla_report',
        'ts_slot_dedup', 'ts_step_change', 'ts_stl_decompose', 'ts_stl_residual_anomaly',
        'ts_time_spine', 'ts_top_talkers', 'ts_topk_change_contributors', 'ts_utilization_report',
        'ts_valid_ratio', 'ts_value_histogram', 'ts_wma', 'ts_wrap_eta',
        'user_activity_concentration', 'user_journey_top_paths', 'vector_pq_adc', 'vocab_growth_heaps',
        'window_distribution', 'window_lag_lead', 'window_ntile', 'window_rank',
        'window_running',
    }
)


# Oldest-debt-first within the unattested group: keys implemented in
# earlier rounds that no driver CORRECTNESS file has reached yet.  Ordering
# them ahead of newer additions makes the driver's 50-key window retire the
# oldest attestation debt first.  Pruned each round after
# ``update_attested.py --write`` (once attested, the first sort key wins
# regardless of this tier).  Empty as of round 6: every backlog key carries
# a driver CORRECTNESS row, and the remaining 48 unattested keys plus at
# most 2 round-6 additions fit one 50-key window whole.
_PRIORITY_BACKLOG = frozenset()


# RE-attestation queue: ops whose implementations changed in the CURRENT
# round, after any earlier driver hash.  These sort first WITHIN the
# attested group so the driver's 50-key CORRECTNESS window re-hashes
# drifted code before spending slots on untouched ops.  Remaining window
# slots fall through to the STALEST attestations (lowest ``_HASH_ROUND``,
# then registration index) — the flywheel that rotates every op back under
# the driver's hash every few rounds.  Unattested keys (if any are ever
# added) still outrank everything here.  Append keys as the round touches
# them; the queue is cleared each round after ``update_attested.py --write``
# folds the fresh hashes into ``_HASH_ROUND``.
_REATTEST_QUEUE = (
    # modified in / carried into round 13 (append as the round touches ops)
    # Carried drift debt (VERDICT r12 item 2): four §2.2-family ops were
    # rerouted through the shared `_obs` helper in r12's late self-review
    # (they previously inlined the obs load and bypassed the bucketed
    # routing seam).  Values are proven — 40/40 flat-vs-routed exact-equal
    # at sf0.01, 4/4 judge-verified, byte-exact SHUFFLE_r12 diff — but by
    # repo discipline the drifted call path needs a post-r12 driver hash.
    # All four are r7-hash keys, so queueing them merely promotes them
    # within the fallthrough their staleness already earns; the remaining
    # 46 slots retire the 27-key r6 floor whole plus the 19 oldest r7
    # keys — which are exactly the rest of the load_obs-routed family
    # (VERDICT item 2's "two birds, one window").
    'ts_downsample_percentile',
    'ts_rate_invalid_reasons',
    'ts_aggregate_row',
    'ts_wrap_eta',
    # r13 code drift: _stage_ordered_slices gained
    # sortWithinPartitions(*columns) after repartition(1) (ADVICE r12 —
    # pins staged-file byte determinism; consumers re-sort in-batch so
    # values are unchanged).  Both stager consumers re-queue for a
    # post-change driver hash, same discipline as the r12 stager change.
    'stream_ladder_full_pipeline',
    'stream_dedup_indexed',
    # r13 code drift: min_label_components' convergence action now
    # tallies NULL `old` alongside the changed count (ADVICE r12
    # fail-fast on directed-only input; identical values and round
    # counts for valid input) and both CC ops share one cached converged
    # (doc_id, component) frame per (session, sf_dir) (VERDICT r12
    # item 3).
    'dedup_connected_components',
    'dedup_cluster_size_stats',
)

_REATTEST_RANK = {k: i for i, k in enumerate(_REATTEST_QUEUE)}


# round -> keys whose LATEST driver hash is from that round, regenerated by
# ``scripts/update_attested.py --write`` from the CORRECTNESS_r*.json files.
# Drives the fallthrough order above: without it, the window would re-hash
# the same oldest-registered cohort every round (the r7 window and an
# unchanged r8 window would have been identical 37 keys).
_HASH_ROUND: dict[int, tuple[str, ...]] = {
    6: (
        'ann_recall_eval_ivfpq', 'api_bulk_timerange', 'api_freshness_report', 'attribution_time_decay',
        'bpe_merge_pair_step', 'chunk_dedup_cdc', 'data_quality_contract', 'dedup_cross_source_matrix',
        'doc_sliding_context_chunks', 'event_lift_matrix', 'ingest_dlq_quarantine', 'ingest_late_data_report',
        'inter_event_gap_histogram', 'multimodal_phash_dedup', 'privacy_k_anonymity', 'rag_hybrid_retrieval',
        'scd2_point_in_time_join', 'session_duration_stats', 'sim_search_ivf_pq_indexed', 'sim_search_lsh_indexed',
        'storage_file_skipping_manifest', 'storage_gdpr_erasure', 'storage_snapshot_gc', 'storage_snapshot_time_travel',
        'ts_flag_visibility', 'ts_poll_interval_drift', 'user_journey_top_paths',
    ),
    7: (
        'dedup_near_minhash', 'dedup_ngram_jaccard', 'dedup_threshold_sweep', 'minhash_band_sensitivity',
        'minhash_jaccard_estimate', 'ts_agg_cascade', 'ts_aggregate_row', 'ts_anomaly_zscore',
        'ts_billing_p95', 'ts_counter_reset_detect', 'ts_counter_wrap', 'ts_counter_wrap64',
        'ts_delta', 'ts_downsample_avg', 'ts_downsample_delta', 'ts_downsample_delta64',
        'ts_downsample_last', 'ts_downsample_minmax', 'ts_downsample_percentile', 'ts_flag_filter',
        'ts_gap_fill_locf', 'ts_gap_report', 'ts_heartbeat_invalidate', 'ts_interpolate',
        'ts_ladder_backfill', 'ts_ladder_route', 'ts_ladder_route_sql', 'ts_last_known',
        'ts_metadata_get', 'ts_point_lookup', 'ts_range_scan', 'ts_rate',
        'ts_rate64', 'ts_rate_downsample', 'ts_rate_invalid_reasons', 'ts_seasonal_baseline',
        'ts_series_catalog', 'ts_slot_dedup', 'ts_time_spine', 'ts_top_talkers',
        'ts_valid_ratio', 'ts_wrap_eta',
    ),
    8: (
        'approx_distinct', 'approx_percentiles', 'array_agg_sorted', 'asof_join',
        'asof_join_nearest', 'broadcast_join', 'cross_join_topk', 'customer_rfm',
        'dedup_minhash_indexed', 'dedup_semantic_cells', 'dedup_semantic_indexed', 'distinct_agg',
        'doc_semantic_outliers', 'grouping_sets', 'hash_aggregate', 'hash_join_inner',
        'market_basket_pairs', 'mine_hard_negatives', 'outer_join_full', 'outer_join_left',
        'percentiles', 'pivot_unpivot', 'projection_filter', 'range_interval_join',
        'rollup_cube', 'salted_aggregate', 'scalar_date_funcs', 'scalar_string_funcs',
        'scan_parquet', 'semi_join', 'set_intersect', 'set_union',
        'sort_limit_topk', 'sort_merge_join', 'storage_bucketed_join', 'subquery_scalar',
        'ts_bin_split', 'ts_bin_split_bucketed', 'ts_ladder_full_pipeline', 'ts_rolling_1h',
        'ts_sessionize', 'window_distribution', 'window_lag_lead', 'window_rank',
        'window_running',
    ),
    9: (
        'dedup_exact', 'dedup_minhash_indexed_smallbatch', 'dedup_simhash', 'scalar_array_funcs',
        'scalar_bitwise_funcs', 'scalar_json_funcs', 'scalar_math_funcs', 'tpch_q1',
        'tpch_q10', 'tpch_q11', 'tpch_q12', 'tpch_q13',
        'tpch_q14', 'tpch_q15', 'tpch_q16', 'tpch_q17',
        'tpch_q18', 'tpch_q19', 'tpch_q2', 'tpch_q20',
        'tpch_q21', 'tpch_q3', 'tpch_q4', 'tpch_q5',
        'tpch_q6', 'tpch_q7', 'tpch_q8', 'tpch_q9',
        'ts_alert_rules_eval', 'ts_anomaly_mad', 'ts_burst_detect', 'ts_calendar_heatmap',
        'ts_downsample_ohlc', 'ts_ewma', 'ts_fleet_zscore', 'ts_forecast_seasonal_naive',
        'ts_missing_islands', 'ts_percent_change_movers', 'ts_rolling_median', 'ts_rollup_multi_granularity',
        'ts_series_correlation', 'ts_sla_report', 'ts_step_change', 'ts_stl_decompose',
        'ts_value_histogram', 'ts_wma',
    ),
    10: (
        'anti_join', 'approx_distinct_check', 'approx_percentiles_check', 'attribution_last_touch',
        'bm25_topdocs', 'cross_source_dedup_priority', 'cumulative_distinct_users', 'decontaminate_ngram',
        'decontamination_overlap', 'dedup_embedding_cosine', 'dedup_semantic_indexed_sqrtn', 'doc_fingerprint',
        'doc_length_histogram', 'doc_pagerank', 'domain_quota_sample', 'embedding_norm_outliers',
        'embedding_pca_power_iteration', 'embedding_quantize', 'event_bigrams', 'event_funnel',
        'exact_substring_dedup', 'ingest_batch_append', 'kmeans_one_step', 'lang_distribution',
        'lang_id_ngram', 'ngram_topk', 'pipeline_corpus_curate', 'quality_filter_funnel',
        'retention_cohort', 'sample_stratified', 'seq_packing', 'set_except',
        'sim_search_ann_lsh', 'sim_search_topk', 'split_train_test', 'text_ngram_novelty',
        'text_quality_score', 'text_repetition_stats', 'text_stopword_stats', 'text_tokenize_stats',
        'text_unigram_logprob', 'tfidf_topterms', 'token_count_bpe', 'topk_docs_per_source',
        'tpch_q22',
    ),
    11: (
        'ann_recall_eval', 'api_timerange_json', 'attribution_linear', 'bigram_lm_perplexity',
        'dataset_mixture_epochs', 'dau_wau_mau', 'doc_winnowing_overlap', 'embedding_centroid_per_label',
        'event_markov_transition', 'format_roundtrip_csv', 'format_roundtrip_json', 'format_roundtrip_orc',
        'funnel_time_to_convert', 'ingest_cdc_merge', 'ingest_replay_idempotent', 'knn_pairs',
        'lang_id_confusion', 'multimodal_decode', 'multimodal_embed', 'multimodal_frame_sample',
        'multimodal_join', 'multimodal_tile_plan', 'pii_scrub_stats', 'pipeline_pretraining_mix',
        'sample_importance_weighted', 'scd2_history_build', 'sim_search_batch', 'sim_search_ivf',
        'sim_search_ivf_pq', 'sim_search_lsh_multiprobe', 'sim_search_range', 'skew_key_report',
        'storage_compaction_integrity', 'storage_day_partitioned_scan', 'storage_retention_expire', 'stream_utilization_alert',
        'stream_watermark_late_check', 'text_repetition_filter', 'text_word_entropy', 'tokenizer_fertility_by_lang',
        'ts_availability_report', 'ts_error_budget_burn', 'ts_hierarchy_rollup', 'ts_merge_upsert',
        'ts_mtbf_mttr', 'ts_sla_maintenance_window', 'ts_utilization_report', 'user_activity_concentration',
        'vector_pq_adc', 'vocab_growth_heaps',
    ),
    12: (
        'approx_distinct_hll_merge', 'blocklist_filter', 'corpus_mix_report', 'dedup_cluster_size_stats',
        'dedup_connected_components', 'embedding_dim_stats', 'grouped_mode', 'quality_gopher_rules',
        'salted_skew_join', 'sample_token_budget', 'source_divergence_kl', 'storage_schema_evolution',
        'storage_zorder_scan', 'stream_anomaly_zscore', 'stream_cdc_apply', 'stream_cdc_apply_bucketed',
        'stream_dedup', 'stream_dedup_indexed', 'stream_distinct_hll', 'stream_first_touch',
        'stream_histogram_ladder', 'stream_ingest', 'stream_ladder_full_pipeline', 'stream_ladder_maintenance',
        'stream_ladder_retention', 'stream_replay_exactly_once', 'stream_session', 'stream_sliding',
        'stream_stateful_rate', 'stream_static_join', 'stream_stream_join', 'stream_topk_talkers',
        'stream_tumbling', 'stream_watermark_late', 'term_zipf_slope', 'tokenizer_vocab_coverage',
        'ts_alert_flap_detect', 'ts_autocorr_lag', 'ts_capacity_forecast', 'ts_compare_window',
        'ts_histogram_ladder', 'ts_incident_merge_windows', 'ts_lead_lag_correlation', 'ts_linear_trend',
        'ts_percentile_bands', 'ts_period_detect', 'ts_seasonal_anomaly', 'ts_stl_residual_anomaly',
        'ts_topk_change_contributors', 'window_ntile',
    ),
}

_LAST_HASHED = {k: n for n, ks in _HASH_ROUND.items() for k in ks}


def _attest_order(keys) -> list[str]:
    return sorted(
        keys,
        key=lambda k: (
            k in _ATTESTED,
            k not in _PRIORITY_BACKLOG,
            _REATTEST_RANK.get(k, len(_REATTEST_QUEUE)),
            _LAST_HASHED.get(k, 0),
            _REG_INDEX[k],
        ),
    )

_OPERATOR_MODULES = (
    "esxsnmp_tsdb_spark.operators.timeseries",
    "esxsnmp_tsdb_spark.operators.aggregator",
    "esxsnmp_tsdb_spark.operators.aggregator2",
    "esxsnmp_tsdb_spark.operators.analytics",
    "esxsnmp_tsdb_spark.operators.analytics2",
    "esxsnmp_tsdb_spark.operators.analytics3",
    "esxsnmp_tsdb_spark.operators.analytics4",
    "esxsnmp_tsdb_spark.operators.analytics5",
    "esxsnmp_tsdb_spark.operators.analytics6",
    "esxsnmp_tsdb_spark.operators.analytics7",
    "esxsnmp_tsdb_spark.operators.analytics8",
    "esxsnmp_tsdb_spark.operators.relational",
    "esxsnmp_tsdb_spark.operators.relational2",
    "esxsnmp_tsdb_spark.operators.relational3",
    "esxsnmp_tsdb_spark.operators.scalar",
    "esxsnmp_tsdb_spark.operators.sketches",
    "esxsnmp_tsdb_spark.operators.tpch",
    "esxsnmp_tsdb_spark.operators.tpch2",
    "esxsnmp_tsdb_spark.operators.dedup",
    "esxsnmp_tsdb_spark.operators.curation",
    "esxsnmp_tsdb_spark.operators.curation2",
    "esxsnmp_tsdb_spark.operators.curation3",
    "esxsnmp_tsdb_spark.operators.curation4",
    "esxsnmp_tsdb_spark.operators.curation5",
    "esxsnmp_tsdb_spark.operators.curation6",
    "esxsnmp_tsdb_spark.operators.curation7",
    "esxsnmp_tsdb_spark.operators.curation8",
    "esxsnmp_tsdb_spark.operators.events_analytics",
    "esxsnmp_tsdb_spark.operators.events2",
    "esxsnmp_tsdb_spark.operators.events3",
    "esxsnmp_tsdb_spark.operators.events4",
    "esxsnmp_tsdb_spark.operators.similarity",
    "esxsnmp_tsdb_spark.operators.similarity2",
    "esxsnmp_tsdb_spark.operators.text",
    "esxsnmp_tsdb_spark.operators.text2",
    "esxsnmp_tsdb_spark.operators.text3",
    "esxsnmp_tsdb_spark.operators.multimodal",
    "esxsnmp_tsdb_spark.operators.ingest",
    "esxsnmp_tsdb_spark.operators.ingest2",
    "esxsnmp_tsdb_spark.operators.storage",
    "esxsnmp_tsdb_spark.operators.storage2",
    "esxsnmp_tsdb_spark.operators.storage3",
    "esxsnmp_tsdb_spark.operators.ingest3",
    "esxsnmp_tsdb_spark.operators.streaming_ops",
    "esxsnmp_tsdb_spark.operators.streaming_ops2",
    "esxsnmp_tsdb_spark.operators.streaming_ops3",
    "esxsnmp_tsdb_spark.operators.rrd_pipeline",
    # Newest modules stay LAST: registration order is the
    # attestation-window tiebreak — new keys must never displace older
    # unattested debt (VERDICT r4 item 1).  dedup2 = round 5;
    # training_mix = round 6 (with storage2's ts_bin_split_bucketed it
    # fills the round-6 50-key window exactly: 48 debt + 2 round-6 ops).
    "esxsnmp_tsdb_spark.operators.dedup2",
    "esxsnmp_tsdb_spark.operators.training_mix",
)

_loaded = False


def op(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``key``; optionally attach its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate op key {key!r}")
        _REG_INDEX[key] = len(_REG_INDEX)
        QUERIES[key] = fn
        if oracle is not None:
            ORACLE[key] = oracle
        fn.op_key = key
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (idempotent) so decorators run."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    load_all()
    return {k: QUERIES[k] for k in _attest_order(QUERIES)}


def oracle_sql() -> dict[str, str]:
    load_all()
    return {k: ORACLE[k] for k in _attest_order(ORACLE)}
