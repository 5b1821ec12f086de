"""Per-entry physical-plan node budgets (scans, exchanges, windows, sorts).

Seeded from scripts/plan_census.py at sf0.001 (round 4).  These are
CEILINGS: a plan change that pushes an entry over its recorded shape
fails tests/test_plans.py::test_plan_census_budgets.  After an
intentional plan improvement, regenerate with
``python3 scripts/plan_census.py`` and tighten the affected rows.
"""

PLAN_BUDGETS = {
    'audit_orphans': (8, 4, 0, 0),
    'audit_skew': (2, 3, 0, 0),
    'decontaminate': (3, 2, 0, 0),
    'dedup_clusters': (1, 0, 0, 0),
    'dedup_containment': (4, 2, 0, 1),
    'dedup_embedding': (2, 0, 0, 0),
    'dedup_exact': (2, 1, 0, 0),
    # r16: verify reuses the funnel's own sigs/cands/est
    'dedup_lsh_precision': (5, 3, 0, 0),
    # shared_minhash_clusters checkpoint scan (tightened r16)
    'dedup_minhash_lsh': (1, 0, 0, 0),
    'dedup_ngram_jaccard': (8, 7, 0, 0),
    'dedup_prefix_filter': (4, 2, 0, 1),
    'dedup_ngram_jaccard_word': (8, 7, 0, 0),
    'dedup_semantic': (4, 6, 2, 7),
    'dedup_simhash': (8, 1, 0, 0),
    'gen_fact_dim_join_invariants': (0, 2, 0, 0),
    'gen_store_sales_invariants': (0, 1, 0, 0),
    'graph_assortativity': (6, 3, 0, 0),
    # capped-witness wedge self-join over the CHECKPOINTED filtered
    # adjacency + broadcast degree + anti join vs edge list (r12:
    # deg/adjw materialized once — was (7,4,2,2) uncapped)
    'graph_link_prediction': (4, 2, 1, 1),
    'graph_clustering_coeff': (5, 2, 0, 0),
    'graph_harmonic_centrality': (5, 3, 0, 1),
    # r16: normalized projections no longer checkpointed — the crossJoin+agg shows in the final plan
    'graph_hits': (4, 2, 0, 1),
    # materialized edge frame re-read by the m / intra / both degree
    # branches (4 of the 7 scans); part is the broadcast dim twice
    'graph_modularity': (7, 5, 1, 1),
    'graph_kcore': (1, 2, 0, 1),
    'graph_label_prop': (3, 3, 1, 2),
    # r15: witness cap ON by default (honest-Zipf hub fix) — the capped
    # adjacency materialize wall also hides the upstream scans (was
    # (8, 3, 1, 0) uncapped); window is the top-15-row rank only
    'graph_neighbor_jaccard': (4, 3, 1, 0),
    'graph_pagerank': (6, 6, 0, 0),
    'graph_shortest_path': (5, 3, 0, 1),
    'graph_triangles': (3, 1, 0, 0),
    'join_asof': (2, 2, 1, 1),
    'join_asof_forward': (2, 2, 1, 1),
    'join_asof_nearest': (2, 2, 2, 2),
    'join_range': (1, 2, 0, 1),
    'llm_bigram_lm_score': (3, 3, 0, 0),
    'llm_bpe_encode': (2, 3, 0, 1),
    'llm_bpe_merges': (1, 2, 0, 0),
    'llm_budget_select': (4, 5, 1, 1),
    'llm_chunk_dedup': (1, 2, 1, 1),
    'llm_chunk_documents': (1, 0, 0, 0),
    'llm_curriculum_order': (2, 3, 2, 2),
    'llm_dataset_profile': (1, 2, 0, 0),
    'llm_dedup_resolution': (2, 4, 0, 0),
    'llm_domain_mix': (3, 3, 1, 1),
    'llm_dup_span_coverage': (3, 4, 2, 2),
    # removal rides the identical anchor machinery; the interval
    # cut is a broadcast-joined HOF pass (no extra shuffle)
    'llm_dup_span_removal': (3, 4, 2, 2),
    'wh_deletion_vectors': (4, 8, 4, 4),
    # one materialized daily aggregate; grid/pair joins re-read the
    # checkpoint (the 6 'scans' are ExistingRDD re-reads, 1 parquet)
    'ts_pairwise_correlation': (6, 12, 0, 6),
    'multimodal_pcx_decode': (0, 0, 0, 1),
    'multimodal_image_tile': (0, 0, 0, 1),
    'multimodal_audio_normalize': (0, 0, 0, 1),
    # r15: corpus codes + (mn,mx) from shared_quant_build — the
    # per-entry corpus scan+agg collapsed into the shared checkpoint
    'sim_knn_classify': (4, 2, 2, 4),
    # 2 'scans' = 1 parquet + checkpoint re-reads of the vocab frame
    'text_rank_frequency': (2, 9, 4, 8),
    'op_sequential_patterns': (1, 6, 4, 4),
    # sharded-rank machinery: checkpoint re-reads + tiny keyed aggs
    'sample_balanced': (5, 18, 2, 4),
    'op_watermark_lateness': (1, 6, 2, 4),
    'op_hll_intersection': (2, 6, 0, 0),
    # fixed-iteration loop runs inside the post-loop materialize;
    # the graded plan is the checkpoint scan + rank window
    'graph_katz_centrality': (2, 2, 2, 2),
    'sample_time_split': (7, 13, 0, 0),
    # one (type,user) keyed agg + |types|-row rollup; the leakage
    # "anti-join" is algebraic inside the agg
    'sample_leakage_audit': (2, 4, 0, 1),
    # keeper rank (one keyed window) + keyed agg over the cluster
    # label table; both shuffle on the cluster key
    'dedup_cluster_keep': (2, 2, 1, 2),
    # one keyed bucket agg; the cum/total windows run on the
    # <=couple-hundred-bucket merged sketch frame
    'op_dd_quantiles': (2, 3, 2, 2),
    # edge-md join over checkpointed deg + two scalar aggs + 6-row arms
    'graph_rich_club': (4, 2, 0, 1),
    # projection identifier + |langs|^2 grid agg + broadcast totals
    'text_lang_confusion': (2, 3, 0, 1),
    # one scan -> 7-row weekday agg; window over the 7-row frame
    'ts_weekday_profile': (1, 2, 1, 1),
    # projection fold assignment -> k-row agg; window over k rows
    'sample_kfold': (1, 2, 1, 1),
    # broadcast eval side, one corpus scan, keyed per-eval rank
    'sim_eval_contamination': (2, 2, 1, 3),
    # one scan -> (old,new) grid agg -> per-old rollup
    'wh_partition_evolution': (1, 3, 0, 1),
    # generated fixtures -> one Arrow mapInPandas pass each
    'multimodal_ico_decode': (0, 0, 0, 1),
    'multimodal_audio_downmix': (0, 0, 0, 1),
    'multimodal_sunras_decode': (0, 0, 0, 1),
    # distributed top-k (TakeOrderedAndProject) + rank over 20 rows
    'text_vocab_drift': (2, 2, 2, 2),
    'graph_degree_distribution': (2, 6, 0, 2),
    'llm_gopher_repetition': (1, 3, 0, 2),
    'llm_fim_transform': (1, 1, 0, 1),
    'llm_incremental_dedup': (4, 4, 1, 2),
    # r6 ADVICE hardening: rank-frame partner mapping adds the range
    # shuffle + partner-map join (window hidden behind materialize)
    'llm_negative_pairs': (2, 3, 0, 3),
    'llm_ngram_novelty': (2, 2, 0, 0),
    # r6 ADVICE: exact per-partition top-V pre-prune ahead of the
    # global vocab rank (+1 window/+1 exchange, bounded-state trade)
    'llm_oov_rate': (2, 4, 2, 3),
    'llm_pad_waste': (1, 2, 1, 1),
    'llm_pii_redact': (1, 0, 0, 0),
    'llm_quality_floor': (1, 1, 1, 1),
    'llm_quality_rules': (1, 0, 0, 0),
    'llm_quantile_normalize': (3, 6, 2, 2),
    'llm_repetition_profile': (2, 2, 0, 0),
    'llm_sequence_pack': (2, 4, 2, 2),
    'llm_span_corruption': (1, 2, 1, 2),
    'llm_temperature_mix': (3, 4, 0, 1),
    'llm_tf_cosine_dup': (4, 7, 0, 0),
    'llm_tokenizer_fertility': (3, 4, 0, 1),
    'llm_train_order': (2, 3, 2, 2),
    'llm_vocab_topk': (1, 2, 1, 0),
    'multimodal_features': (1, 0, 0, 0),
    'multimodal_frame_sample': (1, 0, 0, 0),
    'multimodal_bmp_decode': (0, 0, 0, 1),
    'multimodal_ppm_decode': (0, 0, 0, 1),
    'multimodal_resize': (1, 0, 0, 0),
    'multimodal_wav_decode': (0, 0, 0, 1),
    'op_abc_pareto': (4, 7, 1, 2),
    'op_agg_cube': (1, 1, 0, 0),
    'op_agg_filter_clause': (1, 3, 0, 1),
    'op_agg_global': (1, 1, 0, 0),
    'op_agg_groupby': (1, 1, 0, 0),
    'op_agg_grouping_sets': (1, 1, 0, 0),
    'op_agg_rollup': (1, 1, 0, 0),
    'op_approx_distinct': (1, 2, 0, 0),
    'op_approx_percentile_tol': (1, 1, 0, 0),
    'op_ab_test': (2, 2, 0, 0),
    'op_array_hof': (1, 0, 0, 0),
    'op_bit_aggregates': (1, 2, 0, 1),
    'op_benford_test': (1, 1, 0, 0),
    'op_chi2_independence': (1, 1, 0, 0),
    'op_gini_spend': (3, 4, 1, 1),
    'op_ks_test': (1, 3, 2, 1),
    'op_mann_whitney': (1, 3, 2, 1),
    'op_bloom_membership': (3, 5, 0, 0),
    # r16: shared_price_cum
    'op_boxplot_stats': (2, 3, 0, 1),
    'op_concurrency_sweep': (2, 4, 1, 4),
    'op_click_attribution': (2, 0, 0, 0),
    'op_cohort_retention': (3, 7, 0, 1),
    'op_collect_agg': (1, 1, 0, 0),
    'op_conditional_functions': (1, 0, 0, 0),
    'op_conversion_latency': (1, 3, 1, 2),
    'op_count_min_heavy_hitters': (3, 4, 1, 1),
    'op_date_functions': (1, 0, 0, 0),
    'op_distinct': (1, 1, 0, 0),
    'op_equidepth_hist': (4, 7, 1, 2),
    'op_event_transitions': (1, 3, 1, 2),
    'op_event_trigrams': (1, 2, 1, 1),
    'op_events_time_rollup': (1, 1, 0, 0),
    'op_except': (2, 3, 0, 0),
    'op_except_all': (2, 1, 0, 0),
    'op_explode': (1, 0, 0, 0),
    'op_filter_conjunction': (1, 0, 0, 0),
    'op_funnel_conversion': (1, 2, 3, 2),
    'op_fuzzy_match': (2, 1, 0, 1),
    'op_grouping_marks': (1, 2, 0, 1),
    'op_hopping_window': (1, 2, 0, 1),
    'op_hll_distinct': (2, 3, 0, 0),
    'op_hash_bucketing': (1, 2, 0, 0),
    'op_hierarchy_walk': (0, 2, 0, 1),
    'op_hll_rollup': (2, 4, 0, 0),
    'op_intersect': (2, 3, 0, 0),
    'op_intersect_all': (2, 1, 0, 0),
    'op_interval_arith': (1, 0, 0, 0),
    'op_join_anti': (2, 1, 0, 0),
    'op_join_broadcast': (2, 1, 0, 0),
    'op_join_left_composite': (2, 1, 0, 0),
    'op_join_semi': (2, 1, 0, 0),
    'op_join_shuffle': (2, 1, 0, 0),
    'op_json_extract': (1, 1, 0, 0),
    'op_json_schema_read': (1, 2, 0, 1),
    'op_lateral_explode': (1, 0, 0, 0),
    'op_map_struct': (1, 0, 0, 0),
    # r7 re-plan: ONE fact pass (the cents histogram, materialized);
    # deviation histogram + counts derived from it at grid scale
    'op_mad_outliers': (5, 10, 1, 4),
    'op_median_mode': (1, 2, 0, 1),
    'op_min_max_by': (1, 2, 0, 3),
    'op_new_vs_returning': (2, 4, 0, 1),
    'op_null_safe_join': (2, 1, 0, 0),
    'op_percentile': (1, 1, 0, 0),
    'op_pivot': (1, 2, 0, 0),
    'op_project_case': (1, 0, 0, 0),
    'op_rate_limit': (1, 2, 1, 3),
    'op_ratio_to_report': (2, 2, 1, 1),
    'op_recursive_cte': (0, 2, 0, 1),
    'op_regexp': (1, 0, 0, 0),
    'op_rolling_dau': (2, 5, 0, 1),
    'op_rolling_revenue_28d': (1, 2, 1, 1),
    # +2 windows/+1 sort vs r5: the integer-exact discrete-median tie
    # test (row_number + count over the bounded ~2500-row daily frame)
    'op_runs_test': (2, 4, 3, 2),
    'op_salted_agg': (1, 2, 0, 0),
    'op_scalar_arithmetic': (1, 0, 0, 0),
    'op_scd2_intervals': (1, 1, 2, 1),
    'op_sequence_match': (1, 3, 0, 1),
    'op_session_window': (1, 1, 0, 1),
    'op_sessionize_batch': (1, 1, 0, 1),
    'op_skyline_2d': (1, 2, 1, 2),
    'op_snapshot_diff': (2, 2, 0, 2),
    'op_stats_regression': (1, 2, 0, 1),
    'op_string_agg': (1, 2, 0, 1),
    'op_string_functions': (1, 0, 0, 0),
    'op_token_cooccurrence': (2, 2, 0, 1),
    'op_topn': (1, 0, 0, 0),
    'op_trending_hours': (1, 3, 1, 3),
    'op_try_arithmetic': (1, 2, 0, 1),
    'op_union': (2, 1, 0, 0),
    'op_unpivot': (1, 0, 0, 0),
    'op_upsert_latest': (1, 1, 1, 2),
    'op_values_inline': (1, 2, 0, 1),
    'op_width_bucket_hist': (1, 2, 0, 1),
    'op_window_distribution': (1, 1, 1, 1),
    'op_window_navigation': (1, 2, 1, 2),
    'op_window_rank_lag': (1, 1, 1, 1),
    'op_window_rownum': (1, 1, 1, 2),
    'op_window_running_sum': (1, 1, 1, 1),
    # r16: shared_price_cum
    'op_winsorize': (2, 3, 0, 1),
    'pipeline_clean_corpus': (2, 2, 0, 0),
    'pipeline_curate_corpus': (5, 7, 1, 3),
    'pipeline_pack_sequences': (1, 1, 1, 1),
    # r7 literal-reference-SQL entries: generator-backed (Range sources,
    # so zero storage scans); ref_q005's chained EXCEPT is the exchange/
    # sort-heavy one by construction
    'multimodal_png_decode': (0, 0, 0, 1),
    'multimodal_y4m_frames': (0, 0, 0, 1),
    # the 4 'scans' are ExistingRDD reads of the ONE materialized hv
    # frame (md5 fold + DISTINCT runs once, localCheckpoint); the
    # parquet scan happens at materialize time — pure-SQL form measured
    # 4 parquet scans / 10 exchanges and 6.0s vs 2.2s at sf0.1
    'op_kmv_distinct': (4, 5, 2, 4),
    'multimodal_adpcm_decode': (0, 0, 0, 1),
    'multimodal_g711_decode': (0, 0, 0, 1),
    'multimodal_scene_cut': (0, 0, 0, 1),
    'multimodal_audio_energy': (0, 0, 0, 1),
    'multimodal_qoi_decode': (0, 0, 0, 1),
    'multimodal_tiff_decode': (0, 0, 0, 1),
    'multimodal_exif_parse': (0, 0, 0, 1),
    'multimodal_jpeg_ac_decode': (0, 0, 0, 1),
    'multimodal_gif_decode': (0, 0, 0, 1),
    'multimodal_jpeg_decode': (0, 0, 0, 1),
    'ref_q001': (0, 1, 0, 0),
    'ref_q002': (0, 1, 0, 0),
    'ref_q003': (0, 1, 0, 0),
    'ref_q004': (0, 1, 0, 0),
    'ref_q005': (0, 7, 0, 3),
    'reference_sql_parity': (1, 1, 0, 1),
    'q001': (1, 1, 0, 0),
    'q002': (1, 1, 0, 0),
    'q003': (2, 1, 0, 0),
    'q004': (3, 1, 0, 0),
    'q005': (7, 7, 0, 0),
    'sample_importance': (1, 1, 0, 0),
    # r16: hashed shingles
    'sample_contamination_rate': (5, 5, 0, 0),
    'sample_group_holdout': (2, 6, 0, 1),
    'sample_poisson_bootstrap': (1, 2, 0, 1),
    'sample_neyman_alloc': (1, 2, 3, 2),
    'ts_hampel_filter': (1, 2, 1, 2),
    'ts_mase_eval': (1, 3, 1, 2),
    'ts_spc_rules': (1, 3, 2, 3),
    'ts_ordinal_patterns': (1, 3, 2, 3),
    # argmax via whole-partition packed window — no best-frame rejoin
    'ts_max_drawdown': (1, 3, 2, 2),
    # materialized sharded frame re-read by the offset and rank
    # branches (sharded-rank machinery; no single-partition window)
    'sample_systematic': (3, 4, 1, 2),
    'op_moments_profile': (1, 3, 1, 2),
    'multimodal_tga_decode': (0, 0, 0, 1),
    'dedup_image_ahash': (0, 0, 0, 1),
    # 3 scans inherent to the shared I/U/D log build (cdc precedent)
    'wh_vacuum_planner': (3, 3, 1, 2),
    # 4-point sweep re-reads the materialized index/bf/query frames
    # per point (one build, nested probe sets)
    # r16: one scored frame for all probe points
    'sim_ivf_probe_sweep': (8, 16, 5, 17),
    'multimodal_hist_equalize': (0, 0, 0, 1),
    'llm_bpe_compression_curve': (2, 2, 0, 1),
    # du CTE inlined into the dau / mau / max-day branches (3 scans of
    # the narrow distinct projection; the wide payload reduces first)
    'op_user_stickiness': (3, 7, 0, 1),
    'multimodal_audio_decimate': (0, 0, 0, 1),
    'op_top_paths': (1, 2, 1, 2),
    # per-round materialize keeps the 10-iteration power method's
    # lineage flat (the HITS/label-prop discipline)
    # r16: bounded driver kernel
    'op_markov_stationary': (1, 1, 0, 1),
    'sample_cluster': (1, 2, 0, 1),
    'text_hapax_ratio': (1, 3, 0, 1),
    # orders scanned twice (rank frame + observation horizon); the
    # two cumulative windows run on the |distinct durations| life table
    'op_survival_hazard': (2, 4, 3, 5),
    # materialized phrase frame read by the word-stats and
    # distinct-phrase branches; documents parses exactly once
    'text_rake_keyphrases': (2, 2, 0, 0),
    'ts_sax_words': (1, 2, 3, 3),
    # ONE stacked-histogram grouped_disc_thresholds chain over the
    # materialized customer frame (re-planned from three separate
    # invocations: (13,20,3,4) -> this, 3.33s -> 1.75s at sf0.1)
    'op_rfm_segments': (4, 2, 0, 1),
    'op_assoc_rules': (5, 2, 0, 0),
    # window + gram build hidden behind the materialized fp frame; the
    # 3 scans are the checkpointed fingerprints' three consumers
    'text_winnowing': (3, 3, 0, 1),
    'sample_split': (1, 1, 0, 0),
    'sample_stratified': (1, 0, 0, 0),
    'sample_weighted_topk': (1, 0, 0, 0),
    'sim_mips_topk': (2, 2, 1, 2),
    # r16: half-edge checkpoint scanned by both union branches (kernel evaluated once)
    'sim_dbscan': (7, 4, 0, 1),
    'sim_epsilon_ball': (2, 1, 0, 1),
    'sim_quantized_mips': (2, 1, 1, 2),
    'sim_recall_at_k': (13, 17, 4, 15),
    'sim_search_bruteforce': (2, 2, 1, 2),
    'sim_search_ivf': (15, 17, 8, 20),
    'sim_search_lsh': (9, 13, 4, 12),
    'text_bm25_score': (2, 1, 0, 0),
    'text_char_diversity': (1, 3, 0, 1),
    'text_fingerprint': (1, 0, 0, 0),
    'text_language_id': (1, 0, 0, 0),
    'text_length_histogram': (1, 1, 0, 0),
    'text_quality_score': (1, 0, 0, 0),
    'text_readability': (1, 2, 0, 1),
    'text_rolling_fingerprint': (1, 0, 0, 0),
    'text_tfidf_topk': (2, 5, 1, 3),
    'text_token_count': (1, 0, 0, 0),
    'tpch_q1': (1, 2, 0, 1),
    'tpch_q10': (4, 1, 0, 0),
    'tpch_q11': (9, 6, 0, 1),
    'tpch_q12': (2, 2, 0, 1),
    'tpch_q13': (2, 3, 0, 1),
    'tpch_q14': (2, 1, 0, 0),
    'tpch_q15': (3, 4, 0, 1),
    'tpch_q16': (3, 3, 0, 1),
    'tpch_q17': (4, 3, 0, 0),
    'tpch_q18': (5, 3, 0, 0),
    'tpch_q19': (2, 1, 0, 0),
    'tpch_q2': (9, 4, 0, 2),
    'tpch_q20': (2, 4, 1, 2),
    'tpch_q21': (5, 1, 0, 0),
    'tpch_q21_agg': (4, 3, 0, 0),
    'tpch_q22': (4, 4, 0, 1),
    'tpch_q3': (3, 1, 0, 0),
    'tpch_q4': (2, 2, 0, 1),
    'tpch_q5': (6, 1, 0, 0),
    'tpch_q6': (1, 1, 0, 0),
    'tpch_q7': (6, 2, 0, 1),
    'tpch_q8': (8, 2, 0, 1),
    'tpch_q9': (4, 2, 0, 1),
    'ts_autocorrelation': (2, 4, 0, 1),
    'ts_cusum_changepoint': (2, 4, 2, 2),
    'ts_ewma': (1, 2, 1, 2),
    'ts_expanding_anomaly': (1, 2, 1, 2),
    'ts_gap_fill': (3, 3, 2, 3),
    'ts_mann_kendall': (6, 5, 1, 3),
    'ts_interp_fill': (2, 3, 3, 5),
    'ts_mom_yoy_change': (1, 2, 1, 2),
    'ts_ohlc_bars': (1, 2, 0, 1),
    'ts_rolling_corr': (1, 3, 1, 2),
    'ts_seasonal_decompose': (1, 2, 2, 3),
    'ts_kendall_tau': (2, 3, 0, 0),
    'ts_theil_sen': (2, 3, 2, 1),
    'ts_zscore_anomaly': (1, 2, 1, 2),
    'wh_analyze_stats': (1, 2, 0, 1),
    'wh_cdc_apply': (3, 3, 1, 3),
    'wh_compaction_plan': (2, 5, 1, 2),
    'wh_expectations': (1, 2, 0, 0),
    'wh_gdpr_erasure': (6, 3, 0, 1),
    'wh_clustering_depth': (4, 5, 0, 3),
    'wh_incremental_agg': (6, 5, 2, 5),
    'wh_time_travel': (2, 3, 1, 3),
    'wh_zone_map_pruning': (2, 3, 0, 1),
    'wh_zorder_layout': (2, 3, 0, 1),
    # --- round-12 late additions (this session) ---
    # one events scan; the grid window rides the |types|-row frame
    'ts_dispersion_index': (1, 3, 1, 1),
    'llm_sft_format': (1, 2, 0, 1),
    'sample_dedup_split_audit': (1, 2, 0, 0),
    'sim_cosine_histogram': (2, 4, 0, 1),
    # correlated scalar x2 + EXISTS decorrelate into joins; the spend
    # CTE is re-derived per decorrelated branch (Catalyst inlines CTEs)
    'op_correlated_subquery': (8, 8, 0, 4),
    'multimodal_au_decode': (0, 0, 0, 1),
    'multimodal_xbm_decode': (0, 0, 0, 1),
    'multimodal_aiff_decode': (0, 0, 0, 1),
    'multimodal_flac_decode': (0, 0, 0, 1),
    # 2 docs scans (ledger-quality join + corpus annotate) + the
    # ExistingRDD reads of the shared materialized labels/keepers
    'pipeline_dedup_corpus': (4, 3, 1, 2),
    # 1 embeddings scan + HOF partial sums + 1 global agg + stack
    'sim_matryoshka_quant': (1, 2, 0, 1),
    # one events scan -> (type, day) agg, lag+lead share one Window
    'ts_turning_points': (1, 3, 1, 2),
    # degree agg + broadcast 21-row threshold non-equi join (edge
    # frame is the materialized coorder build, read as ExistingRDD)
    'graph_degree_tail': (2, 3, 0, 1),
    # weight frame materialized before its reversed self-join (the
    # lag window runs at materialize time — census caught the inlined
    # form re-running the fact scan + window per join side)
    'graph_reciprocity': (2, 2, 0, 1),
    # per-doc counts + word-scale firsts materialized once each; the
    # 4 "scans" are ExistingRDD re-reads, zero repeated tokenization
    'text_heaps_law': (4, 5, 0, 1),
    'op_gaps_islands': (1, 4, 1, 2),
    'op_lateral_subquery': (2, 3, 1, 3),
    'sample_time_decay': (1, 2, 0, 1),
    'llm_loss_mask_stats': (1, 2, 0, 1),
    # sample frame materialized (the two top-K windows run at
    # materialize time); 6 of the 8 "scans" are ExistingRDD re-reads
    # of the K x |types| sample, the other 2 are the documented
    # exact-audit self-join of the distinct (type, user) frame
    'op_theta_sketch': (8, 11, 0, 3),
    # one tokenize pass + (word,doc) agg + word rollup + TakeOrdered
    'text_word_burstiness': (1, 2, 0, 0),
    # peeled edge frame materialized per round: the graded plan is the
    # final checkpoint scan + sym-union degree agg
    'graph_ktruss': (2, 2, 0, 1),
    # round-14 ops.  graph_ppr: the 5-iteration lazy loop re-reads the
    # checkpointed edge+outdeg and seed frames per iteration (the
    # graph_pagerank (6,6) discipline plus one seed-teleport union per
    # round); no window, no sort.  dedup_chunk_neardup: the pair
    # volume is LSH-band-bounded (chunk explode -> the shared banding
    # machinery behind materialize() walls -> one profile agg); the
    # single sort is the output ORDER BY.  ts_holt_trend: recursive-CTE
    # smoothing on the daily rollup — one exchange, the rank window +
    # recursion-internal window, output sort.  audio_resample: one
    # Arrow mapInPandas pass + output sort.  epoch_shuffle: sharded
    # global ranks (range partition + per-shard window behind the
    # checkpoint) + id-keyed pair join + one 3-row agg.
    'graph_ppr': (11, 10, 0, 0),
    'dedup_chunk_neardup': (2, 4, 0, 1),
    # r16: bounded driver kernel — one ExistingRDD scan + output sort
    'ts_holt_trend': (1, 1, 0, 1),
    'multimodal_audio_resample': (0, 0, 0, 1),
    'sample_epoch_shuffle': (2, 4, 0, 3),
    # round-15 ops.  ts_holtwinters: recursive-CTE triple smoothing on
    # the materialized daily rollup + pivot init (the ts_holt_trend
    # discipline; rank window and recursion internals sit behind the
    # two checkpoint walls).  dedup_image_phash: the materialized
    # fingerprint frame is read 4x (band explode both join sides + the
    # two hash lookups); the pair stage is LSH-band-bounded; one
    # output sort.  dedup_cdc_chunks: shuffle-free HOF chunker -> one
    # chunk-hash agg + broadcast-flag join + per-doc agg; one output
    # sort.  op_anova: one fact scan feeding the keyed agg, g2 read
    # twice (totals + final), metadata-scale after the first agg.
    # r16: bounded driver kernel — one ExistingRDD scan + output sort
    'ts_holtwinters': (1, 1, 0, 1),
    'dedup_image_phash': (4, 0, 0, 1),
    'dedup_cdc_chunks': (2, 4, 0, 1),
    'op_anova': (2, 4, 0, 1),
    # HyperANF: 4 reads of the materialized per-round register states
    # (round propagation itself sits behind the checkpoint walls), one
    # per-round per-node agg exchange + its 1-row reduce, output sort
    'graph_neighborhood_func': (4, 8, 0, 1),
    # 3 windows over the snapshot (distinct-date) frame: rdesc +
    # 7-day-bucket rank + month rank — all metadata-scale
    'wh_retention_policy': (2, 3, 3, 4),
    # 1 parquet scan + 3 ExistingRDD reads of the materialized vocab
    # (the modularity counting convention)
    'text_source_jaccard': (4, 4, 0, 1),
    # topk materialized (two consumers); the rank window executes at
    # materialize time, so the explained plan is the truncated tail
    'sim_matryoshka_recall': (2, 5, 0, 3),
}
