"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the full declared inventory (SURVEY.md §2 +
extension operators) for the DuckDB correctness gate.
"""

from __future__ import annotations

import functools
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _registry():
    # Importing the query modules populates the registry. Import order IS
    # gate order (a budgeted correctness gate checks a prefix): reference
    # §2 operators first, then the LLM-pipeline extensions, then the
    # generic complex-type and TPC-H batches.
    from greenbuttonengine_spark.plans import registry
    from greenbuttonengine_spark.plans import core_queries  # noqa: F401
    from greenbuttonengine_spark.plans import relational_queries  # noqa: F401
    from greenbuttonengine_spark.plans import advanced_queries  # noqa: F401
    from greenbuttonengine_spark.plans import extension_queries  # noqa: F401
    from greenbuttonengine_spark.plans import search_queries  # noqa: F401
    from greenbuttonengine_spark.plans import complex_queries  # noqa: F401
    from greenbuttonengine_spark.plans import tpch_queries  # noqa: F401
    from greenbuttonengine_spark.plans import extra_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave5_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave7_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave8_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave9_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave10_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave11_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave12_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave13_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave14_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave15_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave17_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave18_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave19_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave20_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave21_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave22_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave23_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave24_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave25_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave26_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave27_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave28_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave29_queries  # noqa: F401
    from greenbuttonengine_spark.plans import wave30_queries  # noqa: F401

    return registry


# Rows-only entries (no oracle -> weaker check) run after every
# oracle-backed query, so a time-budgeted gate spends its window on the
# hard signal first; the slow ESPI ingest runs dead last.
_LAST = ("espi_egd_timeseries",)

# The driver's gate checks a 50-row budget per round.  These names
# already have green rows in CORRECTNESS_r01/r03/r04; ordering them
# after the never-verified queries lets the budget fall on new signal
# first, so cumulative driver coverage grows round over round.  The
# slots left over after the new block land on a deterministically
# ROTATED slice of the checked set (seeded by how many CORRECTNESS
# files exist), so regressions in already-verified queries stay
# catchable and every checked query is re-verified periodically.
_DRIVER_CHECKED = frozenset(
    {
        # r15 OPTIMIZATION round: 21 greens were REMOVED from the
        # blocks below because the round's perf commits changed their
        # plans (prefix-Jaccard hashed keys / array_intersect verify /
        # spread_scan: dedup_ngram_jaccard(+_prefix), dedup_clusters,
        # dedup_keeper_decisions, dedup_cascade, dedup_clusters_lsh,
        # dedup_minhash_lsh, dedup_simhash, dedup_incremental_near,
        # dedup_doc_containment, corpus_ngram_novelty,
        # dedup_repeated_substrings, pipeline_curation_v2,
        # decontam_bloom, eval_minhash_precision, eval_split_leakage;
        # kmeans Arrow kernel: embedding_kmeans_fixed,
        # eval_kmeans_silhouette; quality spread: eval_quality_
        # calibration, pipeline_learned_quality; margin-tail reuse:
        # mine_bitext_margin) — they re-verify as oracle-new in the
        # r15 gate.  The touched-set was derived MECHANICALLY by
        # diffing normalized analyzed plans of all 262 queries between
        # the prediction commit and round-final HEAD (checkpoint-blind
        # plans classified by changed-helper reachability); bit-
        # identical-plan consumers of _lit_double_array (seeded-ANN
        # family, dedup_semantic, xlingual_hubness_audit) stay.
        # r01/r03
        "q1_pricing_summary", "s1_scan_filter_project", "p2_conditional_projection",
        "p3_regex_key_extract", "p4_prefix_strip", "p5_empty_default_cast",
        "p6_unit_scaling", "p7_cost_normalization", "p8_hex_roundtrip",
        "p9_rfc3339_roundtrip", "p10_enum_decode_broadcast", "p11_dst_calendar_rules",
        "p11_bitfield_decode", "p12_global_conditional_patch",
        "p13_sanitize_measurement", "p14_tag_escape", "p15_epoch_unit_conversion",
        "p16_dispatch_validate", "p17_composite_filter", "j2_two_hop_fk_resolution",
        "j3_fact_dim_denormalize", "j4_null_rejecting_denormalize",
        "j5_left_join_enrich", "j7_semi_join", "j8_anti_join",
        "j6_scalar_broadcast_join", "a1_minmax_extent", "a2_any_exists_aggregate",
        "a3_group_chunks", "a4_counts", "o1_multikey_sort_rank", "o2_union_all",
        "o3_first_of_group", "o4_run_length_split", "o5_topk_limit", "o6_intersect",
        "o7_except", "w1_running_sum", "w2_lag_lead_delta", "w3_rank_per_group",
        "d1_date_trunc_rollup", "str1_string_functions", "rj1_time_neighbor_pairs",
        "gs1_grouping_sets", "sessionize_events", "rollup_revenue", "cube_counts",
        "pivot_returnflag", "agg_percentiles", "asof_last_click_before_purchase",
        # r04 greens (math1_functions stays out: its r4 row was red —
        # dtype-only hash mismatch, fixed in r5, must re-verify)
        "w4_ntile_percent_rank", "s6_influx_line_projection",
        "str2_string_functions", "o8_distinct", "o9_intersect_all",
        "a5_salted_skew_aggregate", "json_extract_props", "q3_shipping_priority",
        "q5_local_supplier_volume", "sessionize_native_window",
        "funnel_conversion", "retention_cohorts", "anomaly_zscore_events",
        "dedup_exact", "dedup_embedding_cosine", "text_token_count",
        "text_quality_score", "text_lang_id", "pipeline_quality_filter",
        "text_fingerprint", "embedding_quantize_int8", "sample_stratified_lang",
        "text_repetition_stats", "multimodal_frame_sample",
        "text_bigram_topk", "text_chunk_docs",
        "text_pii_scan", "corpus_length_histogram", "corpus_source_report",
        "decontam_ngram_overlap", "sample_temperature_lang", "dedup_incremental",
        "pipeline_training_mix", "sample_eval_per_lang",
        # sample_train_val_test moved OUT in r12: its oracle now comes
        # from the shared split_case_oracle_sql builder (pmod-exact key
        # reduction), so the changed oracle re-verifies as oracle-new
        # alongside eval_split_leakage / lm_heldout_surprisal
        "embedding_label_centroids", "multimodal_hist_verify",
        "text_postings_stats", "text_tfidf_topk",
        # search_bm25_topk REMOVED for r16 (per_doc stats-leg rework)
        "arr1_array_functions", "arr2_posexplode",
        "text_word_count",
        # r05 greens (q12_priority_shipping stays out: its r5 row was red —
        # HUGEINT-vs-BIGINT dtype hash mismatch, oracle cast fixed in r6,
        # must re-verify)
        "anomaly_mad_events", "asof2_tolerance_join", "attribution_linear_clicks",
        "cumulative_distinct_users", "decontam_contig_spans",
        "er_fuzzy_part_names", "events_dow_hour_heatmap", "feature_bin_quantile",
        "j9_full_outer_reconcile", "lm_bigram_probs",
        "ltv_decile_by_nation", "map1_map_from_json", "math1_functions",
        "o10_except_all", "profile_events_columns", "q2_min_cost_supplier",
        "q4_order_priority", "q6_forecast_revenue", "q7_volume_shipping",
        "q8_market_share", "q9_product_profit", "q10_returned_items",
        "q11_important_volume", "q13_customer_distribution", "q14_promo_effect",
        "q15_top_supplier", "q16_parts_supplier_count",
        "q17_small_quantity_revenue", "q18_large_volume_customer",
        "q19_disjunctive_revenue", "q20_promo_suppliers", "q21_waiting_suppliers",
        "q22_sales_opportunity", "rolling_7d_active_users",
        "sample_token_budget_lang", "sample_weighted_chars",
        "search_phrase_positions", "stats_corr_events",
        "text_doc_bigram_surprisal", "text_gopher_flags", "text_line_dedup",
        "text_rare_token_stats", "text_ttr_hapax", "text_unigram_surprisal",
        "ts1_gap_fill_daily", "w5_moving_avg_time_range",
        # r06 greens (50/50 gate: 26 first-time + q12 re-verify; the
        # rotated re-checks were already listed above)
        # dedup_semantic REMOVED for r16 (one-parse cell_scores path)
        "q12_priority_shipping", "user_event_transitions",
        "o11_latest_per_key", "embedding_centroid_similarity",
        "dq_events_expectations", "scd2_user_type_intervals",
        "trending_topk_events", "corpus_zipf_topk",
        "w6_nth_value_cume_dist", "session_concurrency_daily",
        "dedup_cross_source_matrix", "drift_value_histogram",
        "dt1_datetime_functions", "embedding_outlier_topk",
        "lm_bpe_pair_counts", "lm_pmi_collocations", "agg_contribution_bounded",
        "ops_zorder_key", "stats_bootstrap_ci_events",
        # r07 greens (49/50 gate; the one red, ts2_mean_shift_detect,
        # stays out — its nondeterministic lineage was fixed in r8 and
        # it must re-verify as an oracle-new row first)
        "ann_hamming_topk", "text_ccnet_buckets", "corpus_mix_rebalance", "pack_padding_waste",
        "pit_interval_join", "mv_user_event_totals", "var1_variant_extract",
        "sample_grouped_split",
        # r08 greens (50/50 gate: every declared oracle-backed query now
        # has at least one green driver row cumulatively)
"espi_egd_golden_parity", "multimodal_byte_histogram",
        "ts2_mean_shift_detect",
        # r09 greens (50/50 gate: 29 first-time waves 9-18 + 21 rotated
        # re-checks already listed above)
        "agg_hll_rollup", "code_fim_transform",
        "corpus_prefix_sharing", "curriculum_interleave", "embedding_pca_power",
        "eval_pairwise_winrate",
        "multimodal_audio_features", "multimodal_phash_pairs",
        "ops_compaction_plan", "ops_file_layout_report",
        "ops_partition_skew_report", "pack_context_sweep",
        "pipeline_epoch_schedule", "rlhf_bon_curve", "rlhf_preference_pairs",
        "sample_softdedup", "sft_dialogue_flatten", "sft_loss_mask_stats",
        "train_shard_assign",
        # r10 greens (50/50 gate: 9 first-time oracle-new + 41 rotated
        # re-checks already listed above).  pack_sequences_docs and
        # lm_bpe_tokenize_stats stay OUT: their oracles changed in r11
        # (pmod-exact bucket; degenerate-lang coalesce) so they must
        # re-verify as oracle-new rows first.
        "embedding_pca_project", "lm_bpe_train",
        "approx_sketch_aggregates", "approx_set_overlap_kmv",
        # r11 greens (50/50 gate: 23 first-time waves 20-26 + 27 rotated
        # re-checks already listed above).  Six r11 greens stay OUT
        # because their oracles changed in r12 and must re-verify as
        # oracle-new rows first: eval_minhash_precision (sampled
        # candidate set is now the declared form), eval_quality_
        # calibration (bin 0 reserved for margin 0), drift_tvd_sources
        # + corpus_diversity_indices (degenerate 0/0 guards),
        # eval_split_leakage + lm_heldout_surprisal (shared pmod-exact
        # split-CASE builder).
        "pack_sequences_docs",
        # lm_bpe_tokenize_stats REMOVED for r16 (segmentation-lookup rewrite)
        "attribution_interval_join",
        "lm_kneser_ney_bigram", "corpus_heaps_curve",
        "pack_concat_chunks", "approx_cms_heavy_hitters",
        "sample_systematic_pps", "assoc_rules_events",
        "lm_stupid_backoff_trigram", "ts3_ohlc_daily", "text_readability",
        # r12 greens (50/50 gate: 13 oracle-new + 37 rotated re-checks
        # already listed above).  The four wave-28 r12 greens
        # (mine_bitext_margin, mine_bitext_margin_ann,
        # xlingual_hubness_audit, eval_bitext_ann_agreement) stay OUT:
        # their Spark implementations changed in r13 (parity-bipartite
        # exact kernel; tiled/split blocked-IVF retriever) so they must
        # re-verify as oracle-new rows alongside the r13 additions.
        "sample_train_val_test", "drift_tvd_sources",
        "corpus_diversity_indices", "lm_heldout_surprisal",
        "streaming_admission_parity",
        "streaming_silver_upsert",
        # r13 greens whose code is untouched in r14 (the bitext exact
        # tier and the matview merge row).  The other r13 greens stay
        # OUT because r14 changed them: mine_bitext_margin_ann (auto
        # hot-cell valve + blocked-tail refactor), ann_ivf_hier_topk +
        # eval_ann_hier_recall (empty-super guard, nesupers oracle CTE),
        # eval_bitext_ann_agreement(+_clustered) (compose the changed
        # ANN tier).  Sixteen older greens were REMOVED above for the
        # same reason — the r14 non-finite-cosine rule (try_divide +
        # isfinite keep) touched every similarity form and the oracle
        # rank CTEs of the direct ANN queries: ann_bruteforce_topk,
        # ann_ivf_topk, ann_lsh_topk, graph_knn_cosine,
        # ann_hard_negatives, eval_ann_recall, eval_pq_recall,
        # eval_pq_recall_trained, eval_retrieval_ndcg,
        # graph_label_propagation, graph_pagerank_knn,
        # graph_triangle_count, graph_link_prediction,
        # embedding_knn_classify, embedding_matryoshka_eval,
        # pipeline_rag_index — all re-verify as oracle-new in the r14
        # gate.
        "xlingual_hubness_audit",
        "streaming_matview_merge",
        # r14 greens (50/50 gate) whose code is untouched in r15 — the
        # seven similarity-family names removed for the r14 re-verify
        # return here.  The other r14 greens stay OUT because r15
        # changed them: the _with_norm/hoisted-tail rework + isfinite
        # oracle mirrors (ann_bruteforce/ivf/lsh_topk, search_hybrid_
        # rrf, eval_ann_recall, eval_retrieval_ndcg, embedding_
        # matryoshka_eval, pipeline_rag_index), the blocked-tail
        # compose + valve default (ann_ivf_hier_topk, eval_ann_hier_
        # recall, mine_bitext_margin_ann, eval_bitext_ann_agreement
        # (+_clustered)), and the PQ Arrow-kernel rework (ann_pq_codes,
        # ann_pq_adc_topk, ann_ivf_pq_topk — REMOVED from the r09
        # block above — eval_pq_recall, eval_pq_recall_trained);
        # search_hybrid_rrf removed from the r04 block likewise.
        "graph_knn_cosine", "graph_pagerank_knn", "embedding_knn_classify",
        "ann_hard_negatives", "graph_label_propagation",
        "graph_triangle_count", "graph_link_prediction",
        # r15 greens (50/50 gate) whose plans are untouched in r16 —
        # verified mechanically (normalized analyzed-plan diff of all
        # 262 queries between the r15 verdict commit and round-final
        # HEAD, plus changed-helper reachability for checkpoint-blind
        # plans).  The other r15 greens stay OUT because r16 changed
        # them: window-aggregate rewrites (dedup_doc_containment,
        # corpus_ngram_novelty, dedup_repeated_substrings,
        # pipeline_curation_v2), the prefix-Jaccard set-table verify +
        # inherited window counts (dedup_ngram_jaccard(+_prefix),
        # dedup_clusters(+_lsh), dedup_keeper_decisions, dedup_cascade,
        # dedup_incremental_near), the fused dual-codebook PQ DAG
        # (eval_pq_recall(+_trained), ann_ivf_pq_topk), the one-parse
        # cell_scores consumers (ann_ivf_topk, pipeline_rag_index),
        # the quality-scan fusion (pipeline_learned_quality,
        # eval_quality_calibration), the candidate-direct
        # eval_split_leakage, and the BM25 stats-leg rework
        # (search_bm25_topk, search_hybrid_rrf).  Three older greens
        # (dedup_semantic, lm_bpe_tokenize_stats, search_bm25_topk)
        # are REMOVED from their blocks above for the same reason.
        "ann_bruteforce_topk", "ann_ivf_hier_topk", "ann_lsh_topk",
        "ann_pq_adc_topk", "ann_pq_codes", "decontam_bloom",
        "dedup_minhash_lsh", "dedup_simhash", "embedding_kmeans_fixed",
        "embedding_matryoshka_eval", "espi_multi_ltp_scope_resolution",
        "eval_ann_hier_recall", "eval_ann_recall",
        "eval_bitext_ann_agreement", "eval_bitext_ann_agreement_clustered",
        "eval_kmeans_silhouette", "eval_minhash_precision",
        "eval_retrieval_ndcg", "mine_bitext_margin", "mine_bitext_margin_ann",
    }
)


# Stalest greens forced to the head of the rotated re-check block this
# round (r14 VERDICT item 5: last gated <= r5).  They stay in
# _DRIVER_CHECKED — this only prioritizes their re-check slot.
_FORCE_RECHECK: tuple[str, ...] = (
    "dedup_incremental",
    "pipeline_training_mix",
    "q20_promo_suppliers",
    "q21_waiting_suppliers",
)


def _rotation_seed() -> int:
    # One CORRECTNESS_r*.json lands per completed round, so their count
    # is a stable per-round seed for rotating the re-check slice.
    return len(list(_REPO.glob("CORRECTNESS_r*.json")))


def _ordered_names(reg) -> list[str]:
    names = [n for n in reg.QUERIES if n not in _LAST]
    oracle_new = [n for n in names if n in reg.ORACLES and n not in _DRIVER_CHECKED]
    oracle_checked = [n for n in names if n in reg.ORACLES and n in _DRIVER_CHECKED]
    rows_only = [n for n in names if n not in reg.ORACLES]
    # Rotate the checked block so the budget slots left after the new
    # queries re-verify a different slice of the inventory each round.
    if oracle_checked:
        k = (_rotation_seed() * 29) % len(oracle_checked)
        oracle_checked = oracle_checked[k:] + oracle_checked[:k]
        forced = [n for n in _FORCE_RECHECK if n in oracle_checked]
        oracle_checked = forced + [n for n in oracle_checked if n not in forced]
    return oracle_new + oracle_checked + rows_only + [
        n for n in _LAST if n in reg.QUERIES
    ]


def _pin_read_confs(spark: SparkSession) -> None:
    # A caller may hand in a session that get_spark did not build; the
    # catalog checks these on every read instead of setting them.
    from greenbuttonengine_spark.sources.catalog import READ_CONFS

    for key, value in READ_CONFS.items():
        spark.conf.set(key, value)


def _with_read_confs(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _pin_read_confs(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    reg = _registry()
    _pin_read_confs(spark)
    return reg.QUERIES["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = _registry()
    return {
        name: _with_read_confs(reg.QUERIES[name].fn) for name in _ordered_names(reg)
    }


def oracle_sql() -> dict[str, str]:
    reg = _registry()
    return {n: reg.ORACLES[n] for n in _ordered_names(reg) if n in reg.ORACLES}
