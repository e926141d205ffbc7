"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in ``etl_dashboard_project_1_spark.plans`` — each module
defines (PySpark callable, DuckDB SQL) pairs side by side; this file just
assembles the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_dashboard_project_1_spark.plans import (
    analytics,
    cdc_queries,
    curation_queries,
    dashboard_queries,
    etl_queries,
    extension_queries,
    fuzzy_queries,
    graph_queries,
    header_queries,
    incremental_queries,
    mart_queries,
    profile_queries,
    round5_queries,
    round6_queries,
    round7_queries,
    round8_queries,
    round9_queries,
    round10_queries,
    round11_queries,
    round12_queries,
    round13_queries,
    round14_queries,
    round15_queries,
    streaming_queries,
    timeseries_queries,
    training_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return analytics.q1_pricing_summary(spark, "/root/testdata/sf0.001")


# name -> (callable(spark, sf_dir) -> DataFrame, oracle SQL | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # --- dashboard aggregation breadth ---
    "agg_cube_year_status": (dashboard_queries.agg_cube_year_status, dashboard_queries.AGG_CUBE_SQL),
    "agg_rollup_region_nation": (
        dashboard_queries.agg_rollup_region_nation,
        dashboard_queries.AGG_ROLLUP_SQL,
    ),
    "agg_grouping_sets": (dashboard_queries.agg_grouping_sets, dashboard_queries.AGG_GROUPING_SETS_SQL),
    "pivot_status_by_year": (dashboard_queries.pivot_status_by_year, dashboard_queries.PIVOT_SQL),
    "agg_percentiles": (dashboard_queries.agg_percentiles, dashboard_queries.AGG_PERCENTILES_SQL),
    "agg_distinct_counts": (dashboard_queries.agg_distinct_counts, dashboard_queries.AGG_DISTINCT_SQL),
    "window_lag_delta": (dashboard_queries.window_lag_delta, dashboard_queries.WINDOW_LAG_SQL),
    "window_running_sum": (dashboard_queries.window_running_sum, dashboard_queries.WINDOW_RUNNING_SQL),
    "topk_parts_per_brand": (dashboard_queries.topk_parts_per_brand, dashboard_queries.TOPK_PARTS_SQL),
    "q10_returned_items": (dashboard_queries.q10_returned_items, dashboard_queries.Q10_SQL),
    "q7_nation_volume": (dashboard_queries.q7_nation_volume, dashboard_queries.Q7_SQL),
    "agg_ordered_collect": (
        dashboard_queries.agg_ordered_collect,
        dashboard_queries.ORDERED_COLLECT_SQL,
    ),
    "histogram_order_values": (
        dashboard_queries.histogram_order_values,
        dashboard_queries.HISTOGRAM_SQL,
    ),
    "q17_small_quantity_revenue": (
        dashboard_queries.q17_small_quantity_revenue,
        dashboard_queries.Q17_SQL,
    ),
    "q14_promo_revenue_share": (
        dashboard_queries.q14_promo_revenue_share,
        dashboard_queries.Q14_SQL,
    ),
    "q4_priority_with_late_lines": (
        dashboard_queries.q4_priority_with_late_lines,
        dashboard_queries.Q4_SQL,
    ),
    "q12_latency_priority_mix": (
        dashboard_queries.q12_latency_priority_mix,
        dashboard_queries.Q12_SQL,
    ),
    "unpivot_lineitem_measures": (
        dashboard_queries.unpivot_lineitem_measures,
        dashboard_queries.UNPIVOT_SQL,
    ),
    "ntile_balance_deciles": (
        dashboard_queries.ntile_balance_deciles,
        dashboard_queries.NTILE_SQL,
    ),
    "set_ops_retained_customers": (
        dashboard_queries.set_ops_retained_customers,
        dashboard_queries.SET_OPS_SQL,
    ),
    "semi_join_big_spenders": (
        dashboard_queries.semi_join_big_spenders,
        dashboard_queries.SEMI_JOIN_SQL,
    ),
    "anti_join_dormant_customers": (
        dashboard_queries.anti_join_dormant_customers,
        dashboard_queries.ANTI_JOIN_SQL,
    ),
    # --- time-series / semi-structured / skew handling ---
    "asof_signup_attribution": (
        timeseries_queries.asof_signup_attribution,
        timeseries_queries.ASOF_SQL,
    ),
    "json_props_extract": (timeseries_queries.json_props_extract, timeseries_queries.JSON_PROPS_SQL),
    # r3 addition: Spark-4 VariantType path — parse_json once, typed
    # variant_get extraction (vs per-path string re-parse)
    "variant_props_extract": (
        timeseries_queries.variant_props_extract,
        timeseries_queries.VARIANT_PROPS_SQL,
    ),
    "salted_agg_user_value": (
        timeseries_queries.salted_agg_user_value,
        timeseries_queries.SALTED_AGG_SQL,
    ),
    "salted_join_events_customers": (
        timeseries_queries.salted_join_events_customers,
        timeseries_queries.SALTED_JOIN_SQL,
    ),
    "lead_gap_to_next_event": (
        timeseries_queries.lead_gap_to_next_event,
        timeseries_queries.LEAD_GAP_SQL,
    ),
    "approx_distinct_users_daily": (
        # r3: the registry slot now carries the tolerance-gated variant —
        # exact per-day distincts plus a boolean asserting the HLL estimate
        # is within the pinned 5% bound — so the operator finally has a hard
        # driver-checkable oracle instead of a standing `no_oracle` row. The
        # pure-estimate production form stays at
        # timeseries_queries.approx_distinct_users_daily (error bound also
        # pinned in tests/test_extensions.py).
        timeseries_queries.approx_distinct_users_daily_gate,
        timeseries_queries.APPROX_DISTINCT_GATE_SQL,
    ),
    "rolling_1h_user_value": (
        timeseries_queries.rolling_1h_user_value,
        timeseries_queries.ROLLING_SQL,
    ),
    "sessionize_events": (timeseries_queries.sessionize_events, timeseries_queries.SESSIONIZE_SQL),
    "range_join_error_purchases": (
        timeseries_queries.range_join_error_purchases,
        timeseries_queries.RANGE_JOIN_SQL,
    ),
    "band_join_purchase_values": (
        timeseries_queries.band_join_purchase_values,
        timeseries_queries.BAND_JOIN_SQL,
    ),
    # --- streaming + CDC ---
    "stream_dedup_events": (
        streaming_queries.stream_dedup_events,
        streaming_queries.STREAM_DEDUP_SQL,
    ),
    "stream_error_purchase_join": (
        streaming_queries.stream_error_purchase_join,
        streaming_queries.STREAM_JOIN_SQL,
    ),
    "cdc_upsert_orders": (cdc_queries.cdc_upsert_orders, cdc_queries.CDC_UPSERT_SQL),
    "cdc_latest_compaction": (cdc_queries.cdc_latest_compaction, cdc_queries.CDC_COMPACTION_SQL),
    # --- r1 nanos-crash recoveries (load_table now self-configures) ---
    "n2_ffill_partitioned": (etl_queries.n2_ffill_partitioned, etl_queries.N2_SQL),
    "n5_n6_conditional_fixups": (etl_queries.n5_n6_conditional_fixups, etl_queries.N5_N6_SQL),
    "stream_tumbling_agg": (
        streaming_queries.stream_tumbling_agg,
        streaming_queries.STREAM_TUMBLING_SQL,
    ),
    "stream_sliding_avg": (
        streaming_queries.stream_sliding_avg,
        streaming_queries.STREAM_SLIDING_SQL,
    ),
    "stream_session_window": (
        streaming_queries.stream_session_window,
        streaming_queries.STREAM_SESSION_SQL,
    ),
    # --- changed semantics or new oracle in round 2 ---
    # difflib scorer: literal expected-mapping oracle (pinned nation names)
    "j1_fuzzy_difflib": (fuzzy_queries.j1_fuzzy_difflib, fuzzy_queries.J1_DIFFLIB_SQL),
    "dedup_embedding_cosine": (
        extension_queries.dedup_embedding_cosine,
        extension_queries.DEDUP_EMB_COSINE_SQL,
    ),
    # LSH ANN: deterministic bucket filter mirrored in SQL (+ recall test)
    "sim_ann_lsh": (extension_queries.sim_ann_lsh, extension_queries.SIM_ANN_LSH_SQL),
    # batched exact ANN: one corpus scan for a broadcast query batch,
    # two-phase windowed top-k (no global-window shuffle)
    "sim_batch_topk": (extension_queries.sim_batch_topk, extension_queries.SIM_BATCH_TOPK_SQL),
    "h9_llm_headers": (header_queries.h9_llm_headers, header_queries.H9_SQL),
    "text_repetition": (extension_queries.text_repetition, extension_queries.TEXT_REPETITION_SQL),
    "text_chunk_overlap": (extension_queries.text_chunk_overlap, extension_queries.TEXT_CHUNK_SQL),
    "text_tfidf_topk": (extension_queries.text_tfidf_topk, extension_queries.TFIDF_SQL),
    "dq_rule_violations": (dashboard_queries.dq_rule_violations, dashboard_queries.DQ_RULES_SQL),
    # pii scrub/audit semantics changed this round (sequential counts,
    # ipv4-before-phone) — must re-earn its driver row
    "text_pii_scrub": (extension_queries.text_pii_scrub, extension_queries.TEXT_PII_SQL),
    # OHLC time bars: one-shuffle groupBy, portable string order key
    "ohlc_hourly_bars": (timeseries_queries.ohlc_hourly_bars, timeseries_queries.OHLC_SQL),
    # degree-of-contamination decontamination (gram-overlap fraction)
    "decontaminate_ngram_overlap": (
        extension_queries.decontaminate_ngram_overlap,
        extension_queries.DECONTAMINATE_NGRAM_SQL,
    ),
    # z-normalized sliding-window subsequence match, linear in events
    "ts_pattern_topk": (timeseries_queries.ts_pattern_topk, timeseries_queries.TS_PATTERN_SQL),
    # Lorenz/Pareto value-concentration deciles, no global window
    "user_value_pareto": (profile_queries.user_value_pareto, profile_queries.PARETO_SQL),
    # hybrid retrieval: dense candidates + broadcast lexical rerank
    "hybrid_retrieval_rerank": (
        extension_queries.hybrid_retrieval_rerank,
        extension_queries.HYBRID_RERANK_SQL,
    ),
    # r3 addition: BM25 sparse retrieval (rational Robertson idf) — the
    # lexical counterpart of sim_batch_topk; query side fully broadcast
    "bm25_retrieval_topk": (
        extension_queries.bm25_retrieval_topk,
        extension_queries.BM25_RETRIEVAL_SQL,
    ),
    # r3 addition: suffix-array-style substring dedup — maximal cross-doc
    # repeated spans via positional 5-grams + gaps-and-islands merge
    "dedup_repeated_spans": (
        extension_queries.dedup_repeated_spans,
        extension_queries.DEDUP_SPANS_SQL,
    ),
    # r3 addition: count-min sketch heavy hitters — md5-derived rows make
    # the sketch itself bit-reproducible in DuckDB (exact hash match)
    "heavy_hitters_cms": (
        extension_queries.heavy_hitters_cms,
        extension_queries.HEAVY_HITTERS_CMS_SQL,
    ),
    # r3 addition: reciprocal-rank fusion of the dense + sparse retrievers
    # (integer-rank arithmetic — bit-exact fusion, request-sized join)
    "retrieval_rrf_fusion": (
        extension_queries.retrieval_rrf_fusion,
        extension_queries.RRF_FUSION_SQL,
    ),
    # r3 addition: corpus-scale model eval — histogram Mann-Whitney AUC
    # (integral tie credit; the window runs over the bounded histogram)
    "quality_logit_auc": (
        extension_queries.quality_logit_auc,
        extension_queries.QUALITY_AUC_SQL,
    ),
    # r3 addition: contrastive hard-negative mining — top-k most-similar
    # strictly below the near-dup cut-off, filtered before ranking
    "contrastive_hard_negatives": (
        extension_queries.contrastive_hard_negatives,
        extension_queries.CONTRASTIVE_NEG_SQL,
    ),
    # r3 addition: within-session ordered funnel (sessionize ∘ funnel) —
    # one user-keyed shuffle feeds session + first-view windows and both aggregates
    "session_funnel_conversion": (
        timeseries_queries.session_funnel_conversion,
        timeseries_queries.SESSION_FUNNEL_SQL,
    ),
    # r3 addition: sqrt-smoothed source rebalancing (T=2 temperature
    # mixture) with data-derived rates — single-sqrt form, no float sums
    "sample_sqrt_mixture": (
        extension_queries.sample_sqrt_mixture,
        extension_queries.SAMPLE_SQRT_MIXTURE_SQL,
    ),
    # r3 addition: ANN recall@10 vs exact ground truth — tolerance-free
    # retrieval QA (both sides deterministic and oracle-mirrored)
    "ann_recall_eval": (
        extension_queries.ann_recall_eval,
        extension_queries.ANN_RECALL_SQL,
    ),
    # r3 addition: graded retrieval eval (MRR + rank-discounted gain with
    # exact lcm-scaled rational discounts; label agreement = relevance)
    "retrieval_mrr_eval": (
        extension_queries.retrieval_mrr_eval,
        extension_queries.MRR_EVAL_SQL,
    ),
    # r3 addition: language-detector confusion matrix vs the labeled lang
    # column — the error-structure eval for text_langid
    "langid_eval_confusion": (
        extension_queries.langid_eval_confusion,
        extension_queries.LANGID_EVAL_SQL,
    ),
    # r3 addition: feature-hashing vectorizer — model-free signed hashed
    # BoW embeddings, zero vocabulary state, exact integer vectors
    "text_feature_hashing": (
        extension_queries.text_feature_hashing,
        extension_queries.FEATURE_HASHING_SQL,
    ),
    # r3 addition: Python UDTF (lateral table function) — completes the
    # UDF/UDAF/UDTF triad; native explode remains the production path
    "udtf_sentence_stats": (
        extension_queries.udtf_sentence_stats,
        extension_queries.UDTF_SENTENCES_SQL,
    ),
    # r3 addition: grouped-agg pandas UDF (Arrow UDAF) — numpy IQR per
    # type; quartiles on ints interpolate at exact binary fractions
    "pandas_udaf_value_iqr": (
        extension_queries.pandas_udaf_value_iqr,
        extension_queries.PANDAS_UDAF_IQR_SQL,
    ),
    # r3 addition: inverted-index build (df/ttf + capped ordered postings)
    "inverted_index_build": (
        extension_queries.inverted_index_build,
        extension_queries.INVERTED_INDEX_SQL,
    ),
    # r3 addition: out-of-order-arrival audit — the measurement that
    # sizes a streaming watermark (exact integer-microsecond lateness)
    "late_data_audit": (
        timeseries_queries.late_data_audit,
        timeseries_queries.LATE_DATA_SQL,
    ),
    # r3 addition: session path mining — top-10 three-step in-session
    # event-type paths (one user shuffle; path explode session-bounded)
    "session_path_mining": (
        timeseries_queries.session_path_mining,
        timeseries_queries.SESSION_PATH_SQL,
    ),
    # r3 addition: CBO-style join-size estimation by key sampling, with
    # the exact cardinality and error (basis points) in the same report
    "join_cardinality_estimate": (
        profile_queries.join_cardinality_estimate,
        profile_queries.JOIN_CARD_SQL,
    ),
    # r3 addition: k-anonymity release-gate audit over the customer QI set
    "k_anonymity_audit": (
        profile_queries.k_anonymity_audit,
        profile_queries.K_ANONYMITY_SQL,
    ),
    # r3 addition: dictionary-encoding advisor (exact PLAIN-vs-DICT bytes)
    "column_encoding_advisor": (
        profile_queries.column_encoding_advisor,
        profile_queries.ENCODING_ADVISOR_SQL,
    ),
    # r3 addition: seasonal-naive forecast backtest (exact-cents MAE/bias)
    "seasonal_naive_backtest": (
        timeseries_queries.seasonal_naive_backtest,
        timeseries_queries.SEASONAL_NAIVE_SQL,
    ),
    # r3 addition: whole-schema referential-integrity sweep (all 6 FK edges)
    "ri_audit_all_edges": (
        dashboard_queries.ri_audit_all_edges,
        dashboard_queries.RI_AUDIT_SQL,
    ),
    # r3 addition: numeric drift monitor — exact-integer total-variation
    # distance between reference/live value histograms per type
    "value_drift_tv": (
        incremental_queries.value_drift_tv,
        incremental_queries.VALUE_DRIFT_SQL,
    ),
    # r3 addition: CUSUM rate-shift detection via the closed-form
    # running-min identity — exact integer scaling, window-native
    "cusum_rate_shift": (
        incremental_queries.cusum_rate_shift,
        incremental_queries.CUSUM_SQL,
    ),
    # r3 addition: exact rolling median over a constant trailing frame
    "rolling_median_values": (
        incremental_queries.rolling_median_values,
        incremental_queries.ROLLING_MEDIAN_SQL,
    ),
    # r3 addition: rolling 7-day Pearson correlation from exact integer
    # moments (the only float math is the final identical fraction)
    "rolling_corr_daily": (
        timeseries_queries.rolling_corr_daily,
        timeseries_queries.ROLLING_CORR_SQL,
    ),
    # r3 addition: inter-event-gap SLA percentiles via the shared
    # histogram-percentile_disc operator (no per-type row sort)
    "gap_percentiles_by_type": (
        timeseries_queries.gap_percentiles_by_type,
        timeseries_queries.GAP_PERCENTILES_SQL,
    ),
    # r3 addition: U-shaped (40/20/40) position attribution — exact
    # basis-point credits, every purchase sums to exactly 10000 bp
    "position_attribution": (
        timeseries_queries.position_attribution,
        timeseries_queries.POSITION_ATTRIB_SQL,
    ),
    # r3 addition: sweep-line peak session concurrency (the capacity
    # number) — +1/−1 boundaries, running sum over the reduced set
    "session_peak_concurrency": (
        timeseries_queries.session_peak_concurrency,
        timeseries_queries.SESSION_PEAK_SQL,
    ),
    # r3 addition: bigram conditional-LM scorer (next n-gram order above
    # the unigram filter; prefix-normalized conditionals)
    "text_bigram_logprob": (
        extension_queries.text_bigram_logprob,
        extension_queries.BIGRAM_LOGPROB_SQL,
    ),
    # r3 addition: the custom stateful operator (applyInPandasWithState)
    # driven through the REAL streaming runtime, final state vs batch oracle
    "stream_stateful_totals": (
        streaming_queries.stream_stateful_totals,
        streaming_queries.STREAM_STATEFUL_SQL,
    ),
    # r3 addition: hierarchical contribution shares (nation-within-region,
    # region-within-total) — exact cent ratios over the tiny rollup
    "revenue_share_of_parent": (
        dashboard_queries.revenue_share_of_parent,
        dashboard_queries.REVENUE_SHARE_SQL,
    ),
    # r3 addition: sketch mergeability gate — per-day KMV states union
    # into weekly estimates; losslessness asserted vs the direct sketch
    "kmv_weekly_merge_gate": (
        curation_queries.kmv_weekly_merge_gate,
        curation_queries.KMV_WEEKLY_MERGE_SQL,
    ),
    # r3 addition: degree-ordered exact triangle counting — the third
    # graph kernel (wedge join bounded by orientation, never hub fan-out)
    "graph_triangle_count": (
        graph_queries.graph_triangle_count,
        graph_queries.TRIANGLE_SQL,
    ),
    # r3 addition: market-basket association mining — co-partitioned
    # basket self-join, exact-quotient lift ranking, support floor
    "basket_part_pairs_lift": (
        mart_queries.basket_part_pairs_lift,
        mart_queries.BASKET_LIFT_SQL,
    ),
    # r3 addition: A/B experiment readout — deterministic 50/50 hash
    # split, two-proportion pooled z-statistic from exact integer counts
    "ab_test_zscore": (
        timeseries_queries.ab_test_zscore,
        timeseries_queries.AB_TEST_SQL,
    ),
    # r3 addition: multi-field probabilistic record linkage — blocking
    # equi-join candidates, weighted name+phone evidence, per-probe argmax
    "j1_multifield_linkage": (
        fuzzy_queries.j1_multifield_linkage,
        fuzzy_queries.MULTIFIELD_LINKAGE_SQL,
    ),
    # r3 addition: decay-weighted user recency feature — α=1/2 EWMA over
    # the last 16 events; power-of-two weights keep the sum in BIGINT
    "ewma_user_value": (
        timeseries_queries.ewma_user_value,
        timeseries_queries.EWMA_SQL,
    ),
    # r3 addition: STL-style seasonal/trend decomposition of the daily
    # series — integer-cents moving average, per-dow seasonal mean
    "seasonal_trend_decompose": (
        timeseries_queries.seasonal_trend_decompose,
        timeseries_queries.SEASONAL_DECOMPOSE_SQL,
    ),
    # r3 addition: per-doc first-occurrence 3-gram novelty (corpus
    # diversity contribution; one gram-keyed window, no self-join)
    "ngram_novelty": (extension_queries.ngram_novelty, extension_queries.NGRAM_NOVELTY_SQL),
    # r3 addition: collocation mining — top-20 adjacent pairs by
    # association lift (exact-integer-quotient sort key, no transcendental)
    "colloc_lift_topk": (extension_queries.colloc_lift_topk, extension_queries.COLLOC_LIFT_SQL),
    # r3 addition: per-source unigram total-variation drift — the whole
    # sum stays in BIGINT space; one float division per source at the end
    "source_unigram_tv": (extension_queries.source_unigram_tv, extension_queries.SOURCE_TV_SQL),
    # r3 addition: tokenizer-style vocabulary encoding — dense frequency
    # ids via range-partitioned rank (no single-partition sort), docs
    # re-expressed as id arrays
    "vocab_encode_docs": (
        extension_queries.vocab_encode_docs,
        extension_queries.VOCAB_ENCODE_SQL,
    ),
    # r3 addition: BPE merge-candidate ranking — the distributed core of
    # tokenizer training; everything after the corpus reduce is vocab-sized
    "bpe_merge_candidates": (
        extension_queries.bpe_merge_candidates,
        extension_queries.BPE_MERGE_SQL,
    ),
    # robust MAD outliers: exact grouped percentiles, stats broadcast back
    "mad_outlier_flags": (
        incremental_queries.mad_outlier_flags,
        incremental_queries.MAD_OUTLIER_SQL,
    ),
    # r3 addition: histogram-based p01/p99 winsorization — thresholds and
    # clip both run over the (type, cents) value histogram, one corpus scan
    "winsorize_event_values": (
        incremental_queries.winsorize_event_values,
        incremental_queries.WINSORIZE_SQL,
    ),
    # r3 addition: anti-entropy per-day table fingerprint (sum + xor of
    # canonical row hashes) — replica divergence detection without data movement
    "table_checksum_daily": (
        incremental_queries.table_checksum_daily,
        incremental_queries.TABLE_CHECKSUM_SQL,
    ),
    # r3 addition: functional-dependency profiler over candidate A->B pairs
    "fd_violation_profile": (
        profile_queries.fd_violation_profile,
        profile_queries.FD_PROFILE_SQL,
    ),
    # r3 addition: duplicate-cluster size histogram + reclaimable chars
    "dedup_cluster_size_hist": (
        curation_queries.dedup_cluster_size_hist,
        curation_queries.DEDUP_SIZE_HIST_SQL,
    ),
    # rolling distinct actives: day-level set union (frames can't DISTINCT)
    "rolling_7d_distinct_users": (
        timeseries_queries.rolling_7d_distinct_users,
        timeseries_queries.ROLLING_7D_DISTINCT_SQL,
    ),
    # audio-shaped multimodal: overlapped window energies + peak flags
    "mm_audio_peaks": (extension_queries.mm_audio_peaks, extension_queries.MM_AUDIO_PEAKS_SQL),
    # fused pure-expression ML inference (logit emitted for bit-stability)
    "quality_logit_inference": (
        extension_queries.quality_logit_inference,
        extension_queries.QUALITY_LOGIT_SQL,
    ),
    "emb_label_centroid_stats": (
        extension_queries.emb_label_centroid_stats,
        extension_queries.EMB_LABEL_STATS_SQL,
    ),
    # --- round-2 additions ---
    "dq_orphan_orders": (dashboard_queries.dq_orphan_orders, dashboard_queries.DQ_ORPHANS_SQL),
    "gap_fill_daily": (timeseries_queries.gap_fill_daily, timeseries_queries.GAP_FILL_SQL),
    "stream_windowed_topk": (
        streaming_queries.stream_windowed_topk,
        streaming_queries.STREAM_TOPK_SQL,
    ),
    "curation_funnel": (extension_queries.curation_funnel, extension_queries.CURATION_FUNNEL_SQL),
    "decontaminate_report": (
        extension_queries.decontaminate_report,
        extension_queries.DECONTAMINATE_SQL,
    ),
    "text_unigram_logprob": (
        extension_queries.text_unigram_logprob,
        extension_queries.UNIGRAM_LOGPROB_SQL,
    ),
    "event_funnel_conversion": (
        timeseries_queries.event_funnel_conversion,
        timeseries_queries.FUNNEL_SQL,
    ),
    "retention_cohorts": (timeseries_queries.retention_cohorts, timeseries_queries.RETENTION_SQL),
    "event_transition_matrix": (
        timeseries_queries.event_transition_matrix,
        timeseries_queries.TRANSITION_SQL,
    ),
    # deep analytics mart: remaining TPC-H shapes (adapted to the narrow schema)
    "q8_market_share": (mart_queries.q8_market_share, mart_queries.Q8_SQL),
    "q9_product_profit": (mart_queries.q9_product_profit, mart_queries.Q9_SQL),
    "q11_important_value": (mart_queries.q11_important_value, mart_queries.Q11_SQL),
    "q13_order_count_distribution": (
        mart_queries.q13_order_count_distribution,
        mart_queries.Q13_SQL,
    ),
    "q15_top_supplier": (mart_queries.q15_top_supplier, mart_queries.Q15_SQL),
    "q16_supplier_diversity": (mart_queries.q16_supplier_diversity, mart_queries.Q16_SQL),
    "q18_large_volume_customers": (
        mart_queries.q18_large_volume_customers,
        mart_queries.Q18_SQL,
    ),
    "q19_disjunctive_revenue": (mart_queries.q19_disjunctive_revenue, mart_queries.Q19_SQL),
    "q20_part_promotion_suppliers": (
        mart_queries.q20_part_promotion_suppliers,
        mart_queries.Q20_SQL,
    ),
    "q22_dormant_rich_customers": (
        mart_queries.q22_dormant_rich_customers,
        mart_queries.Q22_SQL,
    ),
    # r3 addition: fulfillment cycle-time analytics — per-priority mean +
    # p50/p90 via the shared histogram-percentile operator
    "order_cycle_time": (
        mart_queries.order_cycle_time,
        mart_queries.ORDER_CYCLE_SQL,
    ),
    # r3 addition: the exists/not-exists multi-supplier wait shape —
    # completes the TPC-H join-shape sweep (q12's two-way conditional
    # count is already covered by q4 + pivot_multi_agg; the narrow schema
    # has no shipmode/commitdate to make it distinct)
    "q21_suppliers_kept_waiting": (
        mart_queries.q21_suppliers_kept_waiting,
        mart_queries.Q21_SQL,
    ),
    # layout / join-strategy patterns
    "layout_zorder_locality": (
        profile_queries.layout_zorder_locality,
        profile_queries.ZORDER_SQL,
    ),
    # r3 addition: ordered bin-packing compaction planner — the window
    # and packing run over the O(shards) manifest, never over data
    "layout_compaction_bins": (
        profile_queries.layout_compaction_bins,
        profile_queries.COMPACTION_BINS_SQL,
    ),
    "bloom_filtered_events_join": (
        timeseries_queries.bloom_filtered_events_join,
        timeseries_queries.BLOOM_JOIN_SQL,
    ),
    # second-wave curation ops + SCD2
    "text_boilerplate_strip": (
        curation_queries.text_boilerplate_strip,
        curation_queries.BOILERPLATE_SQL,
    ),
    "sample_top_p_by_source": (
        curation_queries.sample_top_p_by_source,
        curation_queries.TOP_P_SQL,
    ),
    "span_dedup_repeated": (curation_queries.span_dedup_repeated, curation_queries.SPAN_DEDUP_SQL),
    "dedup_keep_best": (curation_queries.dedup_keep_best, curation_queries.KEEP_BEST_SQL),
    "emb_quantize_error": (curation_queries.emb_quantize_error, curation_queries.EMB_QUANTIZE_SQL),
    # r3 addition: distributed PCA via one-pass exact Gram moments +
    # driver eigensolve; Rayleigh-vs-best-axis gate (HLL-gate design)
    "emb_pca_variance_gate": (
        curation_queries.emb_pca_variance_gate,
        curation_queries.EMB_PCA_GATE_SQL,
    ),
    # r3 addition: nearest-class-mean classifier eval — fixed-point
    # centroids + deterministic cosine argmax; L²-bounded confusion matrix
    "emb_centroid_classifier_eval": (
        curation_queries.emb_centroid_classifier_eval,
        curation_queries.CENTROID_EVAL_SQL,
    ),
    "vocab_zipf_curve": (curation_queries.vocab_zipf_curve, curation_queries.VOCAB_ZIPF_SQL),
    "scd2_user_value": (cdc_queries.scd2_user_value, cdc_queries.SCD2_SQL),
    # profiling & correlation analytics
    "profile_lineitem_stats": (
        profile_queries.profile_lineitem_stats,
        profile_queries.PROFILE_SQL,
    ),
    "trend_revenue_by_nation": (
        profile_queries.trend_revenue_by_nation,
        profile_queries.TREND_SQL,
    ),
    "event_type_lift": (profile_queries.event_type_lift, profile_queries.EVENT_LIFT_SQL),
    "activity_heatmap": (profile_queries.activity_heatmap, profile_queries.HEATMAP_SQL),
    "shard_manifest": (profile_queries.shard_manifest, profile_queries.SHARD_MANIFEST_SQL),
    # r3 addition: join-key skew profiler — hot-key top-k with exact
    # integer shares; the report that triggers salting before a job dies
    "skew_key_profile": (
        profile_queries.skew_key_profile,
        profile_queries.SKEW_PROFILE_SQL,
    ),
    "stream_enrich_static": (
        streaming_queries.stream_enrich_static,
        streaming_queries.STREAM_ENRICH_SQL,
    ),
    # r3 addition: LEFT OUTER watermarked stream-stream interval join —
    # unmatched rows finalize when the watermark passes ts + interval
    "stream_left_outer_join": (
        streaming_queries.stream_left_outer_join,
        streaming_queries.STREAM_LEFT_JOIN_SQL,
    ),
    "stream_upsert_latest": (
        streaming_queries.stream_upsert_latest,
        streaming_queries.STREAM_UPSERT_LATEST_SQL,
    ),
    "pagerank_supplier_part": (
        graph_queries.pagerank_supplier_part,
        graph_queries.PAGERANK_SQL,
    ),
    "sample_priority_weighted": (
        curation_queries.sample_priority_weighted,
        curation_queries.SAMPLE_PRIORITY_SQL,
    ),
    "kmv_distinct_users_daily": (
        curation_queries.kmv_distinct_users_daily,
        curation_queries.KMV_DISTINCT_SQL,
    ),
    # r3 addition: GK quantile sketch accuracy gate (exact quantiles +
    # in-band booleans, same design as the HLL gate)
    "approx_quantiles_value_gate": (
        curation_queries.approx_quantiles_value_gate,
        curation_queries.APPROX_QUANTILES_GATE_SQL,
    ),
    # incremental-maintenance / operational patterns
    "incremental_daily_counts": (
        incremental_queries.incremental_daily_counts,
        incremental_queries.INCREMENTAL_SQL,
    ),
    "snapshot_diff_orders": (
        incremental_queries.snapshot_diff_orders,
        incremental_queries.SNAPSHOT_DIFF_SQL,
    ),
    "dedup_rapid_fire_events": (
        incremental_queries.dedup_rapid_fire_events,
        incremental_queries.RAPID_FIRE_SQL,
    ),
    "rolling_zscore_anomalies": (
        incremental_queries.rolling_zscore_anomalies,
        incremental_queries.ZSCORE_SQL,
    ),
    "q2_min_cost_supplier": (mart_queries.q2_min_cost_supplier, mart_queries.Q2_SQL),
    "pivot_multi_agg": (dashboard_queries.pivot_multi_agg, dashboard_queries.PIVOT_MULTI_SQL),
    "quantile_normalize_balances": (
        dashboard_queries.quantile_normalize_balances,
        dashboard_queries.QUANTILE_NORM_SQL,
    ),
    "interpolate_daily_values": (
        timeseries_queries.interpolate_daily_values,
        timeseries_queries.INTERPOLATE_SQL,
    ),
    # r1-green, implementation tweaked but semantics unchanged (guard off
    # by default / plan-only caching change / build-probe split)
    "dedup_ngram_jaccard": (extension_queries.dedup_ngram_jaccard, extension_queries.DEDUP_NGRAM_SQL),
    "dedup_minhash_lsh": (extension_queries.dedup_minhash_lsh, extension_queries.DEDUP_MINHASH_SQL),
    "sim_ann_ivf": (extension_queries.sim_ann_ivf, None),  # ANN: recall pinned in tests
    # --- round-1 registry ---
    # analytics / aggregation / join / window layer (SURVEY §2.8-§2.11)
    "q1_pricing_summary": (analytics.q1_pricing_summary, analytics.Q1_SQL),
    "q3_shipping_priority": (analytics.q3_shipping_priority, analytics.Q3_SQL),
    "q5_local_supplier_volume": (analytics.q5_local_supplier_volume, analytics.Q5_SQL),
    "q6_forecast_revenue": (analytics.q6_forecast_revenue, analytics.Q6_SQL),
    "a5_argmax_topk": (analytics.a5_argmax_topk, analytics.A5_SQL),
    "a1_minmax_filename": (analytics.a1_minmax_filename, analytics.A1_SQL),
    "p5_distinct_values": (analytics.p5_distinct_values, analytics.P5_SQL),
    "o3_union_sheets": (analytics.o3_union_sheets, analytics.O3_SQL),
    # cleaning operators (SURVEY §2.4)
    "n1_sentinel_to_null": (etl_queries.n1_sentinel_to_null, etl_queries.N1_SQL),
    "n4_mean_imputation": (etl_queries.n4_mean_imputation, etl_queries.N4_SQL),
    # derive operators (SURVEY §2.5)
    "d1_d2_datetime_and_cast": (etl_queries.d1_d2_datetime_and_cast, etl_queries.D1_D2_SQL),
    "d5_case_categorization": (etl_queries.d5_case_categorization, etl_queries.D5_SQL),
    "d6_factor_arithmetic": (etl_queries.d6_factor_arithmetic, etl_queries.D6_SQL),
    "d7_keyed_source_select": (etl_queries.d7_keyed_source_select, etl_queries.D7_SQL),
    "d8_bucketing": (etl_queries.d8_bucketing, etl_queries.D8_SQL),
    "d9_horizontal_mean": (etl_queries.d9_horizontal_mean, etl_queries.D9_SQL),
    "d10_hash12": (etl_queries.d10_hash12, etl_queries.D10_SQL),
    # fuzzy entity-resolution join + text normalization (SURVEY §2.8, D3)
    "j1_fuzzy_similarity_join": (fuzzy_queries.j1_fuzzy_similarity_join, fuzzy_queries.J1_SQL),
    "j2_mapping_application": (fuzzy_queries.j2_mapping_application, fuzzy_queries.J2_SQL),
    "d3_text_normalization": (fuzzy_queries.d3_text_normalization, fuzzy_queries.D3_SQL),
    # deduplication (training-data extensions)
    "dedup_exact": (extension_queries.dedup_exact, extension_queries.DEDUP_EXACT_SQL),
    "dedup_simhash": (extension_queries.dedup_simhash, extension_queries.DEDUP_SIMHASH_SQL),
    # text analysis
    "text_langid": (extension_queries.text_langid, extension_queries.TEXT_LANGID_SQL),
    "text_quality": (extension_queries.text_quality, extension_queries.TEXT_QUALITY_SQL),
    "text_token_count": (
        extension_queries.text_token_count,
        extension_queries.TEXT_TOKEN_COUNT_SQL,
    ),
    "text_fingerprint": (
        extension_queries.text_fingerprint,
        extension_queries.TEXT_FINGERPRINT_SQL,
    ),
    "vocab_top_tokens": (extension_queries.vocab_top_tokens, extension_queries.VOCAB_SQL),
    "curation_pipeline": (extension_queries.curation_pipeline, extension_queries.CURATION_SQL),
    # similarity search
    "sim_cosine_topk": (extension_queries.sim_cosine_topk, extension_queries.SIM_COSINE_TOPK_SQL),
    "dedup_cluster_assign": (
        extension_queries.dedup_cluster_assign,
        extension_queries.DEDUP_CLUSTERS_SQL,
    ),
    # deterministic sampling / splitting / sequence packing
    "sample_hash_10pct": (extension_queries.sample_hash_10pct, extension_queries.SAMPLE_HASH_SQL),
    "sample_train_test_split": (
        extension_queries.sample_train_test_split,
        extension_queries.SAMPLE_SPLIT_SQL,
    ),
    # r3 addition: group-disjoint split + leakage audit (all of a user's
    # events land one side; the oracle pins leak_users = 0 structurally)
    "split_group_disjoint": (
        extension_queries.split_group_disjoint,
        extension_queries.SPLIT_GROUP_DISJOINT_SQL,
    ),
    "sample_stratified_topn": (
        extension_queries.sample_stratified_topn,
        extension_queries.SAMPLE_STRATIFIED_SQL,
    ),
    "sample_mixture_weights": (
        extension_queries.sample_mixture_weights,
        extension_queries.SAMPLE_MIXTURE_SQL,
    ),
    "pack_chunks_manifest": (
        extension_queries.pack_chunks_manifest,
        extension_queries.PACK_CHUNKS_SQL,
    ),
    # multimodal plumbing (decode stubbed, Spark machinery real)
    "mm_image_meta": (extension_queries.mm_image_meta, extension_queries.MM_IMAGE_META_SQL),
    "mm_feature_topk": (extension_queries.mm_feature_topk, extension_queries.MM_FEATURE_TOPK_SQL),
    "mm_frame_sample": (extension_queries.mm_frame_sample, extension_queries.MM_FRAME_SAMPLE_SQL),
    # r4 additions: training-data ordering / mixture / split planning
    "epoch_shuffle_order": (
        training_queries.epoch_shuffle_order,
        training_queries.EPOCH_SHUFFLE_SQL,
    ),
    "dedup_source_matrix": (
        training_queries.dedup_source_matrix,
        training_queries.DEDUP_SOURCE_MATRIX_SQL,
    ),
    "emb_pair_cosine_hist": (
        training_queries.emb_pair_cosine_hist,
        training_queries.EMB_PAIR_COSINE_HIST_SQL,
    ),
    "mixture_epoch_plan": (
        training_queries.mixture_epoch_plan,
        training_queries.MIXTURE_EPOCH_PLAN_SQL,
    ),
    "stratified_kfold_assign": (
        training_queries.stratified_kfold_assign,
        training_queries.STRATIFIED_KFOLD_SQL,
    ),
    "dedup_incremental_minhash": (
        extension_queries.dedup_incremental_minhash,
        extension_queries.DEDUP_INCREMENTAL_MINHASH_SQL,
    ),
    "dedup_containment": (
        extension_queries.dedup_containment,
        extension_queries.DEDUP_CONTAINMENT_SQL,
    ),
    "dedup_minhash_recall_eval": (
        training_queries.dedup_minhash_recall_eval,
        training_queries.DEDUP_MINHASH_RECALL_SQL,
    ),
    "quality_tier_inventory": (
        training_queries.quality_tier_inventory,
        training_queries.QUALITY_TIER_SQL,
    ),
    "split_temporal_embargo": (
        training_queries.split_temporal_embargo,
        training_queries.SPLIT_TEMPORAL_SQL,
    ),
    "mm_phash_dedup": (
        extension_queries.mm_phash_dedup,
        extension_queries.MM_PHASH_DEDUP_SQL,
    ),
    "dedup_verdict_per_doc": (
        curation_queries.dedup_verdict_per_doc,
        curation_queries.DEDUP_VERDICT_SQL,
    ),
    "dedup_minhash_estimate_gate": (
        extension_queries.dedup_minhash_estimate_gate,
        extension_queries.DEDUP_MINHASH_EST_SQL,
    ),
    "vocab_roundtrip_gate": (
        extension_queries.vocab_roundtrip_gate,
        extension_queries.VOCAB_ROUNDTRIP_SQL,
    ),
    "corpus_datacard": (
        curation_queries.corpus_datacard,
        curation_queries.CORPUS_DATACARD_SQL,
    ),
    "soft_dedup_weights": (
        curation_queries.soft_dedup_weights,
        curation_queries.SOFT_DEDUP_SQL,
    ),
    "stream_incremental_stats": (
        streaming_queries.stream_incremental_stats,
        streaming_queries.STREAM_INCREMENTAL_STATS_SQL,
    ),
    # --- round-5 additions ---
    "vehicle_pipeline_summary": (
        round5_queries.vehicle_pipeline_summary,
        round5_queries.VEHICLE_SUMMARY_SQL,
    ),
    "skyline_pareto_parts": (
        round5_queries.skyline_pareto_parts,
        round5_queries.SKYLINE_SQL,
    ),
    "ks_value_drift_gate": (
        round5_queries.ks_value_drift_gate,
        round5_queries.KS_DRIFT_SQL,
    ),
    "revenue_gini": (round5_queries.revenue_gini, round5_queries.GINI_SQL),
    "id_continuity_audit": (
        round5_queries.id_continuity_audit,
        round5_queries.ID_CONTINUITY_SQL,
    ),
    "benford_first_digit_audit": (
        round5_queries.benford_first_digit_audit,
        round5_queries.BENFORD_SQL,
    ),
    "kmv_intersection_estimate": (
        round5_queries.kmv_intersection_estimate,
        round5_queries.KMV_INTER_SQL,
    ),
    "doclen_log2_histogram": (
        round5_queries.doclen_log2_histogram,
        round5_queries.DOCLEN_HIST_SQL,
    ),
    "max_drawdown_user": (
        round5_queries.max_drawdown_user,
        round5_queries.MAX_DRAWDOWN_SQL,
    ),
    "sample_fixed_k_per_type": (
        round5_queries.sample_fixed_k_per_type,
        round5_queries.SAMPLE_FIXED_K_SQL,
    ),
    "order_backlog_daily": (
        round5_queries.order_backlog_daily,
        round5_queries.ORDER_BACKLOG_SQL,
    ),
    "emb_knn_eval": (round5_queries.emb_knn_eval, round5_queries.KNN_EVAL_SQL),
    "zonemap_skip_audit": (
        round5_queries.zonemap_skip_audit,
        round5_queries.ZONEMAP_SQL,
    ),
    # --- round-5 late additions ---
    "interval_overlap_join": (
        round5_queries.interval_overlap_join,
        round5_queries.INTERVAL_OVERLAP_SQL,
    ),
    "ols_daily_trend_by_type": (
        round5_queries.ols_daily_trend_by_type,
        round5_queries.OLS_TREND_SQL,
    ),
    "quota_largest_remainder": (
        round5_queries.quota_largest_remainder,
        round5_queries.QUOTA_SQL,
    ),
    "rfm_segments": (round5_queries.rfm_segments, round5_queries.RFM_SQL),
    "target_encode_loo": (
        round6_queries.target_encode_loo,
        round6_queries.TARGET_ENCODE_SQL,
    ),
    "contingency_association": (
        round6_queries.contingency_association,
        round6_queries.CONTINGENCY_SQL,
    ),
    "asof_nearest_event": (
        round6_queries.asof_nearest_event,
        round6_queries.ASOF_NEAREST_SQL,
    ),
    "twap_daily_value": (
        round6_queries.twap_daily_value,
        round6_queries.TWAP_SQL,
    ),
    "retrieval_ndcg_eval": (
        round6_queries.retrieval_ndcg_eval,
        round6_queries.NDCG_EVAL_SQL,
    ),
    "score_decile_lift": (
        round6_queries.score_decile_lift,
        round6_queries.DECILE_LIFT_SQL,
    ),
    "threshold_sweep_pr": (
        round6_queries.threshold_sweep_pr,
        round6_queries.THRESHOLD_SWEEP_SQL,
    ),
    # --- round-6 in-round additions ---
    "ann_ivf_recall_gate": (
        round6_queries.ann_ivf_recall_gate,
        round6_queries.ANN_IVF_GATE_SQL,
    ),
    "reciprocal_best_match": (
        round6_queries.reciprocal_best_match,
        round6_queries.RBM_SQL,
    ),
    "bootstrap_ci_mean": (
        round6_queries.bootstrap_ci_mean,
        round6_queries.BOOTSTRAP_CI_SQL,
    ),
    "conformal_quantile_gate": (
        round6_queries.conformal_quantile_gate,
        round6_queries.CONFORMAL_SQL,
    ),
    "halflife_decay_user_value": (
        round6_queries.halflife_decay_user_value,
        round6_queries.HALFLIFE_DECAY_SQL,
    ),
    "class_weight_table": (
        round6_queries.class_weight_table,
        round6_queries.CLASS_WEIGHT_SQL,
    ),
    # --- round-6 late additions ---
    "isotonic_calibration": (
        round7_queries.isotonic_calibration,
        round7_queries.ISOTONIC_SQL,
    ),
    "curriculum_interleave": (
        round7_queries.curriculum_interleave,
        round7_queries.CURRICULUM_SQL,
    ),
    "churn_jaccard_daily": (
        round7_queries.churn_jaccard_daily,
        round7_queries.CHURN_JACCARD_SQL,
    ),
    "dp_noisy_counts": (
        round7_queries.dp_noisy_counts,
        round7_queries.DP_NOISY_SQL,
    ),
    "cv_fold_scores": (
        round7_queries.cv_fold_scores,
        round7_queries.CV_FOLD_SQL,
    ),
    "mann_whitney_value_test": (
        round7_queries.mann_whitney_value_test,
        round7_queries.MANN_WHITNEY_SQL,
    ),
    "sprt_conversion_monitor": (
        round7_queries.sprt_conversion_monitor,
        round7_queries.SPRT_SQL,
    ),
    "rbo_leaderboard_drift": (
        round7_queries.rbo_leaderboard_drift,
        round7_queries.RBO_DRIFT_SQL,
    ),
    "cuped_adjusted_ab": (
        round7_queries.cuped_adjusted_ab,
        round7_queries.CUPED_SQL,
    ),
    # --- round-7 wave-8 registrations ---
    "did_cohort_effect": (
        round8_queries.did_cohort_effect,
        round8_queries.DID_SQL,
    ),
    "survival_hazard_daily": (
        round8_queries.survival_hazard_daily,
        round8_queries.SURVIVAL_SQL,
    ),
    "acf_daily_revenue": (
        round8_queries.acf_daily_revenue,
        round8_queries.ACF_SQL,
    ),
    "decision_stump_gini": (
        round8_queries.decision_stump_gini,
        round8_queries.STUMP_SQL,
    ),
    "l_diversity_audit": (
        round8_queries.l_diversity_audit,
        round8_queries.L_DIVERSITY_SQL,
    ),
    "dedup_levenshtein_blocked": (
        round8_queries.dedup_levenshtein_blocked,
        round8_queries.LEVENSHTEIN_SQL,
    ),
    "dedup_sorted_neighborhood": (
        round8_queries.dedup_sorted_neighborhood,
        round8_queries.SNM_SQL,
    ),
    "padding_waste_audit": (
        round8_queries.padding_waste_audit,
        round8_queries.PADDING_SQL,
    ),
    "tokenizer_fertility_by_lang": (
        round8_queries.tokenizer_fertility_by_lang,
        round8_queries.FERTILITY_SQL,
    ),
    "text_repetition_audit": (
        round8_queries.text_repetition_audit,
        round8_queries.REPETITION_SQL,
    ),
    # --- round-7 wave-9 registrations ---
    "cms_heavy_hitters": (
        round8_queries.cms_heavy_hitters,
        round8_queries.CMS_SQL,
    ),
    "quantile_loss_eval": (
        round8_queries.quantile_loss_eval,
        round8_queries.PINBALL_SQL,
    ),
    "ece_calibration_eval": (
        round8_queries.ece_calibration_eval,
        round8_queries.ECE_SQL,
    ),
    "theil_sen_trend": (
        round8_queries.theil_sen_trend,
        round8_queries.THEILSEN_SQL,
    ),
    # --- round-7 wave-10 registrations ---
    "hhi_market_concentration": (
        round8_queries.hhi_market_concentration,
        round8_queries.HHI_SQL,
    ),
    "bloom_fpr_audit": (
        round8_queries.bloom_fpr_audit,
        round8_queries.BLOOM_FPR_SQL,
    ),
    "sample_systematic_every_k": (
        round8_queries.sample_systematic_every_k,
        round8_queries.SYSTEMATIC_SQL,
    ),
    "ltv_cohort_curve": (
        round8_queries.ltv_cohort_curve,
        round8_queries.LTV_SQL,
    ),
    "overdispersion_check": (
        round8_queries.overdispersion_check,
        round8_queries.OVERDISPERSION_SQL,
    ),
    # --- round-8 wave-11 registrations ---
    "group_sequential_obf": (
        round9_queries.group_sequential_obf,
        round9_queries.GSQ_SQL,
    ),
    "sample_weighted_allocation": (
        round9_queries.sample_weighted_allocation,
        round9_queries.WALLOC_SQL,
    ),
    "kll_quantile_gate": (
        round9_queries.kll_quantile_gate,
        round9_queries.KLL_SQL,
    ),
    # --- round-8 wave-12 registrations ---
    "ipw_ate_estimate": (
        round9_queries.ipw_ate_estimate,
        round9_queries.IPW_SQL,
    ),
    "trimmed_mean_value": (
        round9_queries.trimmed_mean_value,
        round9_queries.TRIMMED_MEAN_SQL,
    ),
    "langid_kappa_eval": (
        round9_queries.langid_kappa_eval,
        round9_queries.LANGID_KAPPA_SQL,
    ),
    "ab_power_mde": (
        round9_queries.ab_power_mde,
        round9_queries.AB_POWER_SQL,
    ),
    # --- round-8 wave-13 registrations ---
    "cusum_revenue_drift": (
        round10_queries.cusum_revenue_drift,
        round10_queries.CUSUM_SQL,
    ),
    "ab_covariate_balance": (
        round10_queries.ab_covariate_balance,
        round10_queries.SMD_SQL,
    ),
    "session_transition_surprisal": (
        round10_queries.session_transition_surprisal,
        round10_queries.TRANSITION_SQL,
    ),
    "eb_shrunken_group_means": (
        round10_queries.eb_shrunken_group_means,
        round10_queries.EB_SHRINK_SQL,
    ),
    # --- round-8 wave-14 registrations ---
    "t_closeness_audit": (
        round11_queries.t_closeness_audit,
        round11_queries.T_CLOSENESS_SQL,
    ),
    "fairness_keep_rate_audit": (
        round11_queries.fairness_keep_rate_audit,
        round11_queries.FAIRNESS_SQL,
    ),
    "kendall_tau_leaderboards": (
        round11_queries.kendall_tau_leaderboards,
        round11_queries.KENDALL_SQL,
    ),
    "logrank_survival_test": (
        round11_queries.logrank_survival_test,
        round11_queries.LOGRANK_SQL,
    ),
    "changepoint_mean_shift": (
        round11_queries.changepoint_mean_shift,
        round11_queries.CHANGEPOINT_SQL,
    ),
    # --- round-8 wave-15 registrations ---
    "chao1_vocab_richness": (
        round12_queries.chao1_vocab_richness,
        round12_queries.CHAO1_SQL,
    ),
    "kruskal_wallis_value_by_type": (
        round12_queries.kruskal_wallis_value_by_type,
        round12_queries.KRUSKAL_SQL,
    ),
    "mcnemar_langid_test": (
        round12_queries.mcnemar_langid_test,
        round12_queries.MCNEMAR_SQL,
    ),
    "emb_silhouette_eval": (
        round12_queries.emb_silhouette_eval,
        round12_queries.SILHOUETTE_SQL,
    ),
    # --- round-8 wave-16 registrations ---
    "mann_kendall_trend": (
        round13_queries.mann_kendall_trend,
        round13_queries.MANN_KENDALL_SQL,
    ),
    "runs_test_daily_revenue": (
        round13_queries.runs_test_daily_revenue,
        round13_queries.RUNS_TEST_SQL,
    ),
    "brier_decomposition_eval": (
        round13_queries.brier_decomposition_eval,
        round13_queries.BRIER_SQL,
    ),
    "kcore_copurchase": (
        round13_queries.kcore_copurchase,
        round13_queries.KCORE_SQL,
    ),
    # --- round-8 wave-17 registrations ---
    "cochran_armitage_trend": (
        round14_queries.cochran_armitage_trend,
        round14_queries.COCHRAN_ARMITAGE_SQL,
    ),
    "durbin_watson_forecast_errors": (
        round14_queries.durbin_watson_forecast_errors,
        round14_queries.DURBIN_WATSON_SQL,
    ),
    # --- round-9 registration ---
    "bh_fdr_keep_set": (
        round15_queries.bh_fdr_keep_set,
        round15_queries.BH_FDR_SQL,
    ),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: fn for name, (fn, _sql) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query."""
    return {name: sql for name, (_fn, sql) in _REGISTRY.items() if sql is not None}
