"""Query registry: every implemented operator as (Spark builder, DuckDB oracle).

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract), ``bench.py`` and the test suite. Each entry maps a
SURVEY.md §2 operator (or a north-star dataprep operator) onto the
driver testdata tables; the oracle is ANSI-ish SQL DuckDB runs on the
same parquet.

Portability rules that keep the value-hash comparison exact:

- output columns are only BIGINT / DOUBLE / VARCHAR; timestamps are
  rendered ``yyyy-MM-dd HH:mm:ss`` strings on both sides;
- money/cent-quantized doubles are NEVER float-summed-then-rounded
  (their sums land exactly on .005 boundaries where engines' round()
  disagrees) — they are summed as exact integer cents, with averages
  produced by one IEEE division on identical operands;
- every hash is md5-hex (bit-identical in Spark and DuckDB);
- ties are either included via RANK (deterministic) or broken by an
  explicit unique key before any LIMIT.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize

from taxi_trips_etl_spark.dataprep import dedup, multimodal, similarity, text
from taxi_trips_etl_spark.functions.scalar import daypart, timestamp_diff_minutes
from taxi_trips_etl_spark.operators.normalize import normalize_trips
from taxi_trips_etl_spark.operators.popularity import ranked_counts
from taxi_trips_etl_spark.plans.models import taxi_models
from taxi_trips_etl_spark.sources.taxi_testdata import (
    N_ZONES,
    _zone_wkt,
    trips_from_lineitem,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _utc(spark: SparkSession) -> None:
    """Entry-point session pin, applied by ``register``'s wrapper to
    every driver-invoked query: timestamp rendering must agree with
    DuckDB's naive reading (UTC), and events parquet may carry
    TIMESTAMP(NANOS) (nanosAsLong). This wrapper layer — not readers —
    is the sanctioned place to mutate these session confs; readers only
    *require* them (``sources.readers.require_utc_session`` /
    ``require_nanos_as_long``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ``ts`` physical type has varied across testdata
    generations (TIMESTAMP(NANOS), then NTZ micros); normalize to a
    session-UTC TIMESTAMP either way — see
    :func:`~taxi_trips_etl_spark.sources.readers.normalize_event_ts`."""
    from taxi_trips_etl_spark.sources.readers import normalize_event_ts

    _utc(spark)  # idempotent entry pin (UTC + nanosAsLong)
    return normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _ts_str(col: F.Column, alias: str) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(alias)


def _norm_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_trips(trips_from_lineitem(_t(spark, sf_dir, "lineitem")))


# DuckDB twin of sources/taxi_testdata.trips_from_lineitem + the
# normalization predicate (normalization_query.py:3-9 semantics).
TRIPS_SQL = f"""
    SELECT
        l_shipdate + to_seconds(CAST(l_orderkey % 86400 AS BIGINT)) AS pickup_datetime,
        l_shipdate + to_seconds(CAST(l_orderkey % 86400 AS BIGINT))
            + to_minutes(CAST(l_quantity AS BIGINT)) AS dropoff_datetime,
        CAST(CASE WHEN l_orderkey % 7 = 0 THEN NULL
                  WHEN l_orderkey % 11 = 0 THEN 0
                  ELSE (l_linenumber % 5) + 1 END AS BIGINT) AS passenger_count,
        CASE WHEN l_orderkey % 13 = 0 THEN 0.0 ELSE l_quantity END AS trip_distance,
        l_extendedprice - l_tax * 1000.0 AS fare_amount,
        l_partkey % {N_ZONES} AS pickup_location_id,
        l_suppkey % {N_ZONES} AS dropoff_location_id
    FROM lineitem
"""

NORM_SQL = f"""
    SELECT * FROM ({TRIPS_SQL})
    WHERE pickup_datetime != dropoff_datetime
      AND passenger_count != 0 AND passenger_count IS NOT NULL
      AND trip_distance != 0 AND trip_distance IS NOT NULL
      AND fare_amount != 0
"""

DAYPART_SQL = """
    CASE WHEN {t} >= '06:00:00' AND {t} < '12:00:00' THEN 'Morning'
         WHEN {t} >= '12:00:00' AND {t} < '18:00:00' THEN 'Noon'
         WHEN {t} >= '18:00:00' AND {t} <= '23:59:59' THEN 'Evening'
         WHEN {t} < '06:00:00' THEN 'Night' END
"""

TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"
GRAMS_SQL = f"""
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len({TOKS_SQL}) - 2),
               i -> concat_ws(' ', {TOKS_SQL}[i], {TOKS_SQL}[i+1], {TOKS_SQL}[i+2])
           )) AS grams
    FROM documents
    WHERE len({TOKS_SQL}) >= 3
"""

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
# name → (defining module, first docstring line): provenance for the
# generated queries/INDEX.md (VERDICT r10 #4 — the batch-module names
# are registration-order-frozen and opaque; the index makes an entry
# findable without grepping 26 files).
_PROVENANCE: dict[str, tuple[str, str]] = {}

# Verification rotation. The driver's correctness harness checks the first
# ~50 registry entries per round; the registry has grown past that, so
# ``all_queries``/``all_oracles`` order entries least-recently-verified
# first: names never seen in a CORRECTNESS_r{N}.json come before names
# already proven green, and within each group older proofs come first.
# Round history (name → rounds in which the driver recorded a green
# rows+schema+hash row; see CORRECTNESS_r01.json for round 1).
# MAINTENANCE (next round): fold the names green in CORRECTNESS_r14.json
# into this map as (…, 14) so the rotation keeps cycling fairly.
# REVIEW CHECKLIST for every new mirrored-formula entry (the chi²
# double-division bug proved the shared-expression-text blind spot is
# real — a bug mirrored into both the Spark builder and the oracle SQL
# passes the hash gate): ship an independent pytest that recomputes the
# statistic from raw data in plain Python/numpy (see
# tests/test_round6p_ops.py), not by re-running either engine's SQL.
_R13_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r13.json (all 50 sampled entries,
    # zero err, zero rows-only — the window was deliberately fronted
    # with the 48 round-13 plan-changed _REVERIFY names, all of which
    # came back hash-green on their post-optimization plans, closing
    # those stale-hash windows; benford/cusum filled the remainder).
    "acctbal_decile_profile", "benford_first_digit", "bigram_lm_topk",
    "bm25_keyword_search", "corpus_prepare_pipeline",
    "corpus_prepare_v2", "corpus_prepare_v3", "cusum_change_days",
    "dedup_minhash_incremental", "domain_mixture_sample",
    "dpo_preference_pairs", "dsir_importance_weights",
    "duplicated_substring_spans", "embedding_truncation_recall",
    "flagship_known_zones", "flagship_most_populars",
    "funnel_conversion", "funnel_latency_stats", "global_ids_orders",
    "heaps_vocab_growth", "hex_neighbor_smoothing",
    "histogram_quantile_estimate", "hybrid_rrf_search",
    "interpolate_user_daily", "inventory_abc_classification",
    "kmv_user_overlap", "kn_doc_xent_filter", "kneser_ney_bigram",
    "lorenz_curve_points", "market_basket_brand_rules",
    "market_basket_triples", "mmr_diversify_rerank",
    "most_populars_flat", "multitouch_attribution",
    "ngram_novelty_decay", "range_partition_plan",
    "referential_integrity_audit", "revenue_gini",
    "rouge_l_decontaminate", "sampled_range_partition_plan",
    "seasonal_dow_adjustment", "sequence_pattern_funnel",
    "source_distinctive_terms", "split_leakage_audit",
    "streaming_daypart_rollup", "streaming_sessionize_stateful",
    "streaming_static_enrich", "text_repetition_scores",
    "tpch_suppliers_waiting", "unigram_logprob_buckets",
)
_R12_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r12.json (all 50 sampled entries,
    # zero err, zero rows-only — includes the round-12 _REVERIFY name:
    # tfidf_cosine_pairs came back hash-green on the post-materialize
    # plan, closing its stale-hash window)
    "adaptive_salt_plan", "bloom_prefilter_join", "boilerplate_chunk_removal",
    "bucketed_colocated_join", "cms_token_counts",
    "compact_small_files_audit", "corpus_prepare_v3",
    "dedup_weighted_jaccard", "dp_noisy_counts", "dpo_preference_pairs",
    "duplicated_substring_spans", "dynamic_partition_pruning_join",
    "embedding_near_dup_recall", "embedding_truncation_recall",
    "flagship_most_populars", "global_ids_orders", "hard_negative_mining",
    "hard_negative_mining_ivf", "histogram_quantile_estimate",
    "incremental_rollup_merge", "interpolate_user_daily",
    "jsonl_roundtrip_docs", "k_anonymity_audit", "kmv_user_overlap",
    "kn_doc_xent_filter", "kneser_ney_bigram", "market_basket_brand_rules",
    "merge_event_intervals", "negative_sample_table", "observed_scan_metrics",
    "packing_fragmentation_audit", "pandas_api_groupby",
    "partition_pruned_scan", "pyds_object_listing", "range_partition_plan",
    "scd2_point_in_time_join", "schema_evolution_merge", "semdedup_prune",
    "sft_pair_format", "similarity_pq_topk", "skewed_distinct_count",
    "skipgram_cooccurrence", "snapshot_diff_customers",
    "span_corruption_masks", "streaming_checkpoint_resume",
    "temperature_mixture_weights", "tfidf_cosine_pairs",
    "unigram_viterbi_segment", "variant_props_stats", "vocab_top_p_cutoff",
)
_R11_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r11.json (all 50 sampled entries,
    # zero err — includes both round-11 _REVERIFY names: the two
    # fan-out materialize fixes, graph_degree_assortativity and
    # markov_stationary_micro, came back hash-green on the post-fix
    # plans, closing their stale-hash window)
    "bigram_lm_topk", "bpe_apply_encode", "bpe_learn_merges",
    "cdc_upsert_apply", "chunk_dedup_docs", "constraint_quarantine",
    "curriculum_interleave", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash_fingerprint", "domain_token_budgets",
    "embedding_int8_quantize", "embedding_zscore", "ewma_daily_revenue",
    "feature_hash_counts", "graph_degree_assortativity", "graph_pagerank",
    "graph_triangles", "heavy_hitters_tokens", "hll_distinct_rollup",
    "mad_outliers", "markov_stationary_micro", "model_daily_trip_metrics",
    "model_staging_rename", "model_trips_view", "month_over_month_growth",
    "pareto_frontier", "pmi_collocations", "quality_classifier_score",
    "regex_pretokenize_counts", "rolling_active_users", "rolling_corr_revenue",
    "scd2_customer_history", "semantic_decontaminate", "similarity_cosine_topk",
    "similarity_lsh_topk", "skew_salted_join", "source_distinctive_terms",
    "streaming_cdc_upsert", "streaming_dq_monitor", "streaming_ingest_dedup",
    "streaming_static_enrich", "time_weighted_average",
    "token_entropy_by_source", "tpch_parts_supplier_cnt",
    "tpch_promotion_candidates", "tpch_shipmode_priority",
    "tpch_suppliers_waiting", "weighted_priority_sample",
    "weighted_sample_per_group",
)
_R10_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r10.json (all 50 sampled entries,
    # zero err — includes all three round-10 _REVERIFY names: the
    # blocked PCA moment kernel's two entries and the auto→star
    # canonical fast path all came back hash-green)
    "activity_streaks", "bm25_keyword_search", "dedup_components_star",
    "dsir_importance_weights", "embedding_canonicalize", "embedding_kmeans",
    "embedding_pca_project", "event_transition_matrix", "forward_fill_gaps",
    "funnel_conversion", "global_count", "gopher_quality_filter",
    "iqr_outliers", "kfold_assignment", "lag_lead_order_gaps",
    "multihop_join", "null_semantics", "numeric_histogram", "octet_length_fn",
    "pca_power_projection", "rank_topk", "rename_projection",
    "retention_cohorts", "session_window_agg", "split_leakage_audit",
    "streaming_session_window", "string_agg_ordered",
    "timestamp_diff_minutes", "topk_limit", "tpch_customer_distribution",
    "tpch_disjunctive_pricing", "tpch_forecast_revenue",
    "tpch_important_parts", "tpch_large_volume_customer",
    "tpch_local_supplier_volume", "tpch_market_share",
    "tpch_min_cost_supplier", "tpch_order_priority", "tpch_product_profit",
    "tpch_promo_effect", "tpch_returned_items", "tpch_sales_opportunity",
    "tpch_small_qty_revenue", "tpch_top_supplier", "tpch_volume_shipping",
    "unigram_logprob_buckets", "union_append", "unpivot_metrics",
    "variant_json_shred", "window_range_interval",
)
_R9_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r09.json (all 50 sampled entries,
    # zero err — includes every round-9 _REVERIFY name: the star-loop
    # rewrite, the 6 merged/pinned streaming drains and both fastss
    # guard relocations all came back hash-green)
    "anomaly_zscore_days", "array_functions", "broadcast_left_join",
    "c4_quality_filter", "collect_set_agg", "composite_key_join",
    "corpus_prepare_v2", "correlated_scalar_subquery", "cube_agg",
    "daily_metrics", "date_functions", "daypart_case", "dedup_components_star",
    "dedup_stats_by_source", "embedding_random_projection",
    "explode_top_tokens", "filter_clause_agg", "fuzzy_match_fastss",
    "fuzzy_match_fastss2", "grouping_sets_agg", "hopping_window_counts",
    "latest_by_key", "most_populars_flat", "multimodal_features",
    "normalize_filter", "null_safe_join", "percentiles_exact",
    "recursive_cte_date_spine", "rollup_agg", "semi_anti_join", "set_ops",
    "streaming_click_attribution", "streaming_dedup_watermark",
    "streaming_full_outer_attribution", "streaming_late_dupes_dropped",
    "streaming_outer_attribution", "streaming_sessionize_stateful",
    "tokenize_with_vocab", "topk_per_group", "tpch_pricing_summary",
    "tpch_shipping_priority", "udtf_split_sentences", "validate_constraints",
    "window_dedup_rank", "window_distribution", "window_first_last",
    "window_moving_sum", "winnowing_fingerprints", "winnowing_near_dup_pairs",
    "zorder_key_customers",
)
_R8_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r08.json (all 50 sampled entries,
    # zero err — includes every round-7/8 perf-rewrite _REVERIFY name
    # and the three forced-distributed twins added in round 8)
    "ann_recall_at_k", "asof_join_purchases", "bpe_learn_merges_distributed",
    "build_vocab", "corpus_decontaminate", "corpus_prepare_pipeline",
    "dedup_canonicalize", "dedup_components", "dedup_components_star",
    "dedup_minhash_incremental", "dedup_ngram_jaccard", "dedup_simhash_pairs",
    "domain_mixture_sample", "dup_ngram_coverage",
    "embedding_centroid_by_source", "embedding_near_dup",
    "flagship_known_zones", "fuzzy_match_fastss", "fuzzy_match_fastss2",
    "graph_bfs_hops", "graph_kcore", "graph_pagerank_distributed",
    "graph_shortest_paths", "hex_neighbor_smoothing", "json_extract_props",
    "market_basket_triples", "minhash_lsh_recall", "multimodal_meta",
    "ngram_containment_pairs", "pack_sequences", "pivot_event_types",
    "profile_columns", "range_join_windows", "record_linkage_blocked",
    "rouge_l_decontaminate", "semantic_search_docs", "sessionize_events",
    "similarity_ivf_topk", "similarity_lsh_multiprobe", "sql_ordinal_sort",
    "stratified_sample", "streaming_daypart_rollup",
    "streaming_semi_attribution", "string_functions", "text_lexical_diversity",
    "text_pii_scrub", "text_repetition_scores", "text_tfidf_top_terms",
    "trend_slope_by_event_type", "window_distribution_approx",
)
_R7_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r07.json (all 50 sampled entries;
    # includes the two round-6 HUGEINT hash-fails, now CAST-fixed green)
    "ab_test_proportions", "arrow_token_stats", "autocomplete_prefixes",
    "changepoint_segmented_ols", "charclass_profile_by_source",
    "chunk_documents", "cohort_ltv_curve", "corpus_prepare_pipeline",
    "cross_shard_dedup_audit", "deterministic_sample",
    "discount_quantity_corr_by_brand", "funnel_latency_stats",
    "graph_degree_assortativity", "heaps_vocab_growth",
    "hhi_market_concentration", "hilbert_layout_audit",
    "holt_linear_smoothing", "interarrival_burstiness",
    "inventory_abc_classification", "join_multiplicity_hotspots",
    "ks_drift_test", "longest_increase_streaks", "lorenz_curve_points",
    "mannwhitney_u_test", "market_basket_triples", "moments_skew_kurtosis",
    "ngram_novelty_decay", "partition_skew_stats", "phrase_search_positional",
    "prefix_containment_pairs", "quantile_bin_features",
    "rapid_reorder_audit", "referential_integrity_audit",
    "region_share_rollup", "rendezvous_shard_assignment",
    "sampled_range_partition_plan", "simpson_paradox_audit",
    "subsample_ci_revenue", "table_diff_checksums", "target_encode_loo",
    "text_clean", "text_fingerprints", "text_language_id",
    "text_quality_scores", "text_token_stats", "theil_sen_slope",
    "tokenizer_fertility_by_source", "train_test_split",
    "winsorize_by_group", "zipf_rank_frequency_fit",
)
_R6_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r06.json (48 of 50 sampled; the 2
    # fails were HUGEINT oracle-typing artifacts, CAST-fixed in round 7
    # and deliberately NOT marked here so they lead the r7 window)
    "acctbal_decile_profile", "adaptive_salt_plan", "benford_first_digit",
    "boilerplate_chunk_removal", "bucketed_colocated_join",
    "chisq_independence", "compact_small_files_audit", "cusum_change_days",
    "dedup_weighted_jaccard", "dpo_preference_pairs",
    "dynamic_partition_pruning_join", "embedding_pca_project",
    "flagship_most_populars", "hard_negative_mining_ivf", "hybrid_rrf_search",
    "jsonl_roundtrip_docs", "kmeans_silhouette", "kn_doc_xent_filter",
    "market_basket_brand_rules", "markov_stationary_micro",
    "mmr_diversify_rerank", "multitouch_attribution", "negative_sample_table",
    "ols_normal_equations", "packing_fragmentation_audit", "pandas_api_groupby",
    "partition_pruned_scan", "pyds_object_listing", "range_partition_plan",
    "record_linkage_blocked", "revenue_gini", "rouge_l_decontaminate",
    "schema_evolution_merge", "seasonal_dow_adjustment", "semdedup_prune",
    "sequence_pattern_funnel", "sft_pair_format", "similarity_pq_topk",
    "skewed_distinct_count", "span_corruption_masks",
    "streaming_checkpoint_resume", "streaming_full_outer_attribution",
    "streaming_late_dupes_dropped", "streaming_semi_attribution",
    "topn_with_other_rollup", "trend_slope_by_event_type",
    "unigram_viterbi_segment", "variant_props_stats",
)
_R5_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r05.json (all 50 sampled entries)
    "hll_distinct_rollup", "bpe_learn_merges", "tpch_parts_supplier_cnt",
    "tpch_promotion_candidates", "domain_token_budgets",
    "curriculum_interleave", "bpe_apply_encode", "ngram_containment_pairs",
    "pmi_collocations", "heavy_hitters_tokens", "vocab_top_p_cutoff",
    "merge_event_intervals", "streaming_dedup_watermark",
    "embedding_near_dup_recall", "graph_kcore", "bloom_prefilter_join",
    "streaming_outer_attribution", "incremental_rollup_merge",
    "graph_bfs_hops", "scd2_point_in_time_join", "snapshot_diff_customers",
    "graph_shortest_paths", "observed_scan_metrics", "corpus_prepare_v3",
    "minhash_lsh_recall", "kmv_user_overlap", "global_ids_orders",
    "k_anonymity_audit", "dp_noisy_counts", "interpolate_user_daily",
    "duplicated_substring_spans", "hard_negative_mining",
    "temperature_mixture_weights", "histogram_quantile_estimate",
    "pca_power_projection", "cms_token_counts", "kneser_ney_bigram",
    "tfidf_cosine_pairs", "skipgram_cooccurrence",
    "embedding_truncation_recall", "model_daily_trip_metrics",
    "model_trips_view", "model_staging_rename", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash_fingerprint", "dedup_simhash_pairs",
    "dedup_ngram_jaccard", "similarity_cosine_topk", "similarity_lsh_topk",
)
_R4_VERIFIED: tuple[str, ...] = (
    # hash-green rows in CORRECTNESS_r04.json
    "embedding_kmeans", "tpch_min_cost_supplier", "tpch_product_profit",
    "tpch_important_parts", "tpch_shipmode_priority",
    "semantic_decontaminate", "scd2_customer_history", "cdc_upsert_apply",
    "skew_salted_join", "embedding_int8_quantize", "graph_pagerank",
    "fuzzy_match_fastss2", "chunk_dedup_docs", "weighted_priority_sample",
    "token_entropy_by_source", "feature_hash_counts", "bigram_lm_topk",
    "embedding_zscore", "mad_outliers", "ewma_daily_revenue",
    "rolling_corr_revenue", "pareto_frontier", "graph_triangles",
    "tpch_suppliers_waiting", "streaming_static_enrich",
    "streaming_cdc_upsert", "quality_classifier_score",
    "month_over_month_growth", "constraint_quarantine",
    "weighted_sample_per_group", "rolling_active_users",
    "regex_pretokenize_counts", "source_distinctive_terms",
    "time_weighted_average", "streaming_ingest_dedup",
    "streaming_dq_monitor", "global_count", "topk_limit", "rank_topk",
    "rename_projection", "octet_length_fn", "timestamp_diff_minutes",
    "union_append", "multihop_join", "null_semantics",
    # rows-only-by-design entries driver-checked in round 4 (no oracle;
    # marking them keeps them at the back of the rotation window)
    "similarity_pq_topk", "flagship_most_populars", "hll_distinct_rollup",
    "embedding_pca_project", "bpe_learn_merges",
)
_R3_VERIFIED: tuple[str, ...] = (
    "dedup_components", "variant_json_shred", "lag_lead_order_gaps",
    "numeric_histogram", "iqr_outliers", "retention_cohorts",
    "funnel_conversion", "activity_streaks", "tpch_order_priority",
    "tpch_local_supplier_volume", "tpch_forecast_revenue",
    "tpch_volume_shipping", "tpch_returned_items",
    "tpch_customer_distribution", "tpch_promo_effect",
    "tpch_small_qty_revenue", "tpch_large_volume_customer",
    "gopher_quality_filter", "dup_ngram_coverage",
    "dsir_importance_weights", "unigram_logprob_buckets",
    "session_window_agg", "tpch_market_share", "fuzzy_match_fastss",
    "tpch_top_supplier", "streaming_session_window",
    "dedup_canonicalize", "split_leakage_audit",
    "embedding_canonicalize", "event_transition_matrix",
    "kfold_assignment", "tpch_disjunctive_pricing",
    "window_range_interval", "unpivot_metrics", "bm25_keyword_search",
    "tpch_sales_opportunity", "string_agg_ordered", "forward_fill_gaps",
    "normalize_filter", "daypart_case", "window_dedup_rank",
    "broadcast_left_join", "composite_key_join", "most_populars_flat",
    "daily_metrics",
)
_R2_VERIFIED: tuple[str, ...] = (
    "ann_recall_at_k", "anomaly_zscore_days", "array_functions",
    "build_vocab", "c4_quality_filter", "collect_set_agg",
    "corpus_decontaminate", "corpus_prepare_v2",
    "correlated_scalar_subquery", "cube_agg", "date_functions",
    "dedup_minhash_incremental", "dedup_stats_by_source",
    "domain_mixture_sample", "embedding_centroid_by_source",
    "embedding_random_projection", "explode_top_tokens",
    "filter_clause_agg", "flagship_known_zones", "grouping_sets_agg",
    "hex_neighbor_smoothing", "hopping_window_counts", "latest_by_key",
    "multimodal_features", "null_safe_join", "pack_sequences",
    "percentiles_exact", "recursive_cte_date_spine", "rollup_agg",
    "semantic_search_docs", "semi_anti_join", "set_ops",
    "streaming_click_attribution", "streaming_sessionize_stateful",
    "text_lexical_diversity", "text_pii_scrub",
    "text_repetition_scores", "tokenize_with_vocab", "topk_per_group",
    "tpch_pricing_summary", "tpch_shipping_priority",
    "udtf_split_sentences", "validate_constraints",
    "window_distribution", "window_distribution_approx",
    "window_first_last", "window_moving_sum", "winnowing_fingerprints",
    "winnowing_near_dup_pairs", "zorder_key_customers",
)
# Merge-safe accumulation: a name green in several rounds keeps ALL its
# rounds (max() drives the rotation) — append new rounds via _mark_verified
# so re-verifications never clobber history.
_VERIFIED_ROUNDS: dict[str, tuple[int, ...]] = {}


def _mark_verified(round_no: int, names: tuple[str, ...]) -> None:
    for n in names:
        _VERIFIED_ROUNDS[n] = _VERIFIED_ROUNDS.get(n, ()) + (round_no,)


_mark_verified(13, _R13_VERIFIED)
_mark_verified(12, _R12_VERIFIED)
_mark_verified(11, _R11_VERIFIED)
_mark_verified(10, _R10_VERIFIED)
_mark_verified(9, _R9_VERIFIED)
_mark_verified(8, _R8_VERIFIED)
_mark_verified(7, _R7_VERIFIED)
_mark_verified(6, _R6_VERIFIED)
_mark_verified(5, _R5_VERIFIED)
_mark_verified(4, _R4_VERIFIED)

# Names whose IMPLEMENTATION (or oracle) changed after their last driver
# check: their green rows predate the change, so the hash claim is
# stale — reset them to the front of the rotation. Remove from this set
# once a CORRECTNESS file shows the post-change hash-green row.
# (Round 7 cleared tokenizer_fertility_by_source and
# sampled_range_partition_plan: both hash-green in CORRECTNESS_r07.json.)
_REVERIFY: frozenset[str] = frozenset({
    # semdedup_prune's round-13 plan change (the with_vec assignment
    # ride-along that removed the corpus-vector re-join, commit
    # 68aecf9, batch 17) landed AFTER the round-13 _REVERIFY fronting
    # commit and the name rotated OUT of the r13 window — its last
    # driver-green row (CORRECTNESS_r12) hashes the OLD plan. It was
    # oracle-validated at sf0.001/0.01/0.1 in-round and carries two
    # pytest pins (with_vec equivalence + the no-Join plan), but the
    # stale-hash rule stands: front it until a CORRECTNESS file shows
    # the post-change hash-green row (VERDICT r13, "What's wrong" #1).
    "semdedup_prune",
    # Round-14 optimization pass: every entry whose PLAN changes this
    # round is appended here IN THE SAME COMMIT as the plan change
    # (the semdedup lesson — see OPTIMIZATION_r14.md).
    # Batch 2 — iterative loops under static_rounds (AQE off in-loop,
    # counted broadcast gates, counted per-round shuffle width; final
    # plans unchanged, in-loop execution changed):
    "dedup_components_star", "graph_pagerank_distributed", "graph_kcore",
    # Batch 3 — banded levenshtein verify (threshold form, provably
    # identical survivors and distances; plan expression changed):
    "fuzzy_match_fastss", "fuzzy_match_fastss2", "record_linkage_blocked",
    # Batch 4 — Lloyd loop under static_rounds (k-row counted width;
    # centroid literals bit-identical at the gated SFs, trajectory
    # unperturbed — see plans/r14/embedding_kmeans_{before,after}.txt;
    # semdedup_prune also rides this loop and already fronts above):
    "embedding_kmeans", "kmeans_silhouette",
    # Batch 5 — BPE merge loop under static_rounds (no width pin):
    "bpe_learn_merges", "bpe_learn_merges_distributed",
    # Batch 6 — bfs/sssp relaxations: batch-1 + counted hints + counted
    # width under static_rounds:
    "graph_bfs_hops", "graph_shortest_paths",
    # local_rows frames became JVM LocalRelations and dedup_zones runs
    # on the driver (results bit-identical, plans changed); the other
    # callers of either (bpe, bfs, sssp) already front above:
    "compact_small_files_audit", "corpus_prepare_v2", "dedup_canonicalize",
    "dedup_components", "embedding_canonicalize", "flagship_known_zones",
    "flagship_most_populars", "graph_pagerank", "hex_neighbor_smoothing",
    "mmr_diversify_rerank", "observed_scan_metrics", "pack_sequences",
    "packing_fragmentation_audit", "streaming_dedup_watermark",
    "streaming_dq_monitor", "streaming_ingest_dedup",
})
_mark_verified(3, _R3_VERIFIED)
_mark_verified(2, _R2_VERIFIED)
_mark_verified(1, (
        "normalize_filter", "daypart_case", "window_dedup_rank",
        "broadcast_left_join", "composite_key_join", "most_populars_flat",
        "daily_metrics", "global_count", "topk_limit", "rank_topk",
        "rename_projection", "octet_length_fn", "timestamp_diff_minutes",
        "union_append", "multihop_join", "null_semantics",
        "model_daily_trip_metrics", "model_trips_view", "model_staging_rename",
        "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_fingerprint",
        "dedup_simhash_pairs", "dedup_ngram_jaccard", "similarity_cosine_topk",
        "similarity_lsh_topk", "text_token_stats", "text_quality_scores",
        "text_language_id", "text_fingerprints", "deterministic_sample",
        "train_test_split", "text_clean", "chunk_documents",
        "corpus_prepare_pipeline", "text_tfidf_top_terms", "stratified_sample",
        "multimodal_meta", "streaming_daypart_rollup", "embedding_near_dup",
        "similarity_lsh_multiprobe", "similarity_ivf_topk", "sql_ordinal_sort",
        "sessionize_events", "profile_columns", "asof_join_purchases",
        "range_join_windows", "json_extract_props", "string_functions",
        "pivot_event_types",
    ))


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _utc(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        doc = (fn.__doc__ or "").strip().splitlines()
        _PROVENANCE[name] = (fn.__module__, doc[0] if doc else "")
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


def _rotation_order() -> list[str]:
    """Registry names, least-recently-driver-verified first.

    Sort key: (last round the name was green, rows-only?, registration
    index) — never-verified names (last round 0) lead, then round-1-only
    names, etc. Within a group, oracle-bearing entries precede rows-only
    ones (a hash row is worth more than a rows-only row when the
    driver's ~50-entry budget runs out), then registration order keeps
    the rotation deterministic round-over-round.
    """
    names = list(_QUERIES)
    return sorted(
        names,
        key=lambda n: (
            0 if n in _REVERIFY else max(_VERIFIED_ROUNDS.get(n, (0,))),
            0 if n in _ORACLES else 1,
            names.index(n),
        ),
    )


def all_queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _rotation_order()}


def all_oracles() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _rotation_order() if n in _ORACLES}


