"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   flagship end-to-end OCR-span extraction over a
                   deterministic interleaved corpus (BASELINE.json
                   input_hint schema).
``queries()``      one entry per implemented operator (SURVEY.md §2 +
                   the training-data-pipeline operators).
``oracle_sql()``   DuckDB equivalents for every SQL-expressible operator;
                   the model-ish OCR stages get rows-only checks here plus
                   the pytest span-equality gate (tests/test_pipeline.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators import (
    dedup,
    evalmetrics,
    media,
    relational,
    similarity,
    spans,
    table,
    text_analysis,
    web_extract,
)
from ocr_spark.operators.fields import (
    invoice_field_extract,
    invoice_fill_rates,
    invoice_ref,
    invoice_stress_extract,
    save_crop_sink,
)
from ocr_spark.operators.pipeline import extract_documents
from ocr_spark.streaming import stream

# ---------------------------------------------------------------------------
# corpus helper: the interleaved-document table (doc_id, spans) is not part
# of the driver's star schema, so it is synthesized deterministically
# (seed-fixed, no external data) and cached on local disk per size.
# ---------------------------------------------------------------------------

_CORPUS_SEED = 42


def _corpus_path(n_docs: int) -> str:
    # _v3: cache key bumped whenever the synthesis schema changes (round 3
    # added ground-truth expected_spans/expect_success columns at check
    # scale so the driver's DuckDB oracle can value-check the pipeline).
    path = f"/tmp/ocr_spark_corpus_{_CORPUS_SEED}_{n_docs}_v3.parquet"
    if not os.path.exists(path):
        from ocr_spark.fixtures.corpus import write_corpus

        # Ground truth is computed per media ref at build time (layout
        # side, no pipeline involved) — affordable at check scale only;
        # the bench/scaling corpora (2000+) skip it and keep rows-only.
        write_corpus(path, n_docs, seed=_CORPUS_SEED, with_expected=n_docs <= 200)
    return path


def _corpus_docs_for(sf_dir: str) -> int:
    # scale the synthetic corpus with the driver's sf tier
    if "0.001" in sf_dir:
        return 40
    if "0.01" in sf_dir:
        return 80
    return 2000


EVAL_GT_DOCS = 80  # eval corpora cap: render-side gt is fixture-scale


def _eval_gt_path(sf_dir: str) -> str:
    """Ground-truth line table for the end-to-end eval harness, derived
    from the SAME cached corpus the OCR queries read (capped — gt lines
    are rendered driver-side, affordable at fixture scale only; at
    production scale ground truth arrives as a labeled table)."""
    n = min(_corpus_docs_for(sf_dir), EVAL_GT_DOCS)
    corpus = _corpus_path(n)
    path = f"/tmp/ocr_spark_eval_gt_{_CORPUS_SEED}_{n}_v1.parquet"
    if not os.path.exists(path):
        from ocr_spark.fixtures.corpus import write_gt_lines

        write_gt_lines(corpus, path)
    return path


def _q_eval_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled metric-machinery query: deterministic perturbed
    predictions vs the persisted gt-line table (operators/evalmetrics)."""
    from ocr_spark.operators.evalmetrics import eval_end2end

    return eval_end2end(spark, _eval_gt_path(sf_dir))


def _q_eval_end2end_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL graded metric: live page-ladder predictions (boxes +
    texts from ocr_page_state) scored against the layout ground truth —
    the reference's eval_end2end.py harness as one DataFrame plan.
    Rows-only check: the pixel pipeline cannot run inside DuckDB."""
    from ocr_spark.operators.evalmetrics import (
        eval_end2end,
        pipeline_predictions,
    )

    n = min(_corpus_docs_for(sf_dir), EVAL_GT_DOCS)
    pred = pipeline_predictions(spark, _corpus_path(n))
    return eval_end2end(spark, _eval_gt_path(sf_dir), pred=pred)


def _ocr_summary(out: DataFrame) -> DataFrame:
    """Stable, deterministic projection of the pipeline output for the
    driver's rows-only check: per-doc digest of the full span sequence.

    Ordering via repartition(1)+sortWithinPartitions — a global orderBy
    would make the RangePartitioner sampling pass execute the whole OCR
    pipeline a second time."""
    return (
        out.select(
            "doc_id",
            "success",
            "n_media",
            F.md5(
                F.array_join(
                    F.transform(
                        "spans",
                        lambda s: F.concat_ws(
                            "\x01", s["kind"], s["text"], s["media_ref"],
                            s["offset"].cast("string"),
                        ),
                    ),
                    "\x02",
                )
            ).alias("span_digest"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end OCR-span extraction (the exploded, skew-proof
    plan) over the interleaved corpus at smoke scale."""
    df = spark.read.parquet(_corpus_path(40)).select("doc_id", "spans")
    return extract_documents(df)


def _q_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _corpus_docs_for(sf_dir)
    df = spark.read.parquet(_corpus_path(n)).select("doc_id", "spans")
    return _ocr_summary(extract_documents(df))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # -- the extraction pipeline itself (rows-only + pytest gate) --
        "ocr_extract_exploded": _q_ocr,
        # -- detector-chain field extraction (rows-only + pytest gate) --
        "invoice_field_extract": invoice_field_extract,
        "invoice_stress_extract": invoice_stress_extract,
        "invoice_fill_rates": invoice_fill_rates,
        # -- save-crop debug sink (label routing vs layout ground truth) --
        "save_crops": _save_crops_query,
        # -- end-to-end eval metrics (reference tools/end2end harness) --
        "eval_end2end": _q_eval_end2end,
        "eval_end2end_pipeline": _q_eval_end2end_pipeline,
        "bleu_eval": evalmetrics.bleu_eval,
        "rouge_l_eval": evalmetrics.rouge_l_eval,
        "chrf_eval": evalmetrics.chrf_eval,
        "cohen_kappa": evalmetrics.cohen_kappa,
        # -- span algebra (SQL twins of the pipeline's span handling) --
        "span_explode": spans.span_explode,
        "span_splice": spans.span_splice,
        "caption_mining": spans.caption_mining,
        "pdf_page_explode": spans.pdf_page_explode,
        "interleaved_pack": _q_interleaved_pack,
        "row_cluster": spans.row_cluster,
        "reading_order_rank": spans.reading_order_rank,
        "line_merge": spans.line_merge,
        "union_rbox_merge": spans.union_rbox_merge,
        # -- scalar normalizer library --
        "norm_get_num": _norm_get_num,
        "norm_get_title": _norm_get_title,
        "norm_get_page": _norm_get_page,
        "norm_get_float": _norm_get_float,
        "norm_get_amount": _norm_get_amount,
        "norm_invoice_type": _norm_invoice_type,
        "norm_check_code": _norm_check_code,
        "norm_get_date": _norm_get_date,
        "norm_chinese_amount": _norm_chinese_amount,
        "norm_get_tax": _norm_get_tax,
        "norm_addr_bank": _norm_addr_bank,
        "norm_reconcile": _norm_reconcile,
        "norm_extract_addr": _norm_extract_addr,
        "norm_extract_bank": _norm_extract_bank,
        # -- reference QR field parse (pure SQL) --
        "qr_payload_parse": relational.qr_payload_parse,
        "qr_stock_parse": relational.qr_stock_parse,
        # -- dedup family --
        "dedup_exact": dedup.exact_dedup,
        "minhash_signatures": dedup.minhash_signatures,
        "lsh_near_dup": dedup.lsh_candidates,
        "edit_distance_near_dup": dedup.edit_distance_near_dup,
        "split_leakage_audit": dedup.split_leakage_audit,
        "incremental_near_dup": dedup.incremental_near_dup,
        "near_dup_clusters": dedup.near_dup_clusters,
        "soft_dedup_weights": dedup.soft_dedup_weights,
        "group_kfold_split": dedup.group_kfold_split,
        "cross_source_dup_matrix": dedup.cross_source_dup_matrix,
        "dedup_threshold_sweep": dedup.dedup_threshold_sweep,
        "entity_resolution_clusters": dedup.entity_resolution_clusters,
        "dedup_cascade_funnel": dedup.dedup_cascade_funnel,
        "dedup_span_excision": dedup.dedup_span_excision,
        "dedup_canonical_pick": dedup.dedup_canonical_pick,
        "simhash64": dedup.simhash64,
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
        "containment_pairs": dedup.containment_pairs,
        "ngram_jaccard_all_pairs": dedup.ngram_jaccard_all_pairs,
        "winnowing_near_dup": dedup.winnowing_near_dup,
        "dedup_sketch_eval": dedup.dedup_sketch_eval,
        "lsh_param_sweep": dedup.lsh_param_sweep,
        "duplicate_substring_spans": dedup.duplicate_substring_spans,
        "suffix_array_ranks": dedup.suffix_array_ranks,
        "exact_substring_spans": dedup.exact_substring_spans,
        "exact_substring_excision": dedup.exact_substring_excision,
        "simhash_near_dup": dedup.simhash_near_dup,
        "dedup_signal_fusion": dedup.dedup_signal_fusion,
        "embedding_near_dup": dedup.embedding_near_dup,
        # -- similarity search --
        "ann_brute_topk": similarity.brute_topk,
        "ndcg_eval": similarity.ndcg_eval,
        "mrr_eval": similarity.mrr_eval,
        "mmr_diversify": similarity.mmr_diversify,
        "kmeans_coreset": similarity.kmeans_coreset,
        "map_eval": similarity.map_eval,
        "rocchio_feedback": similarity.rocchio_feedback,
        "ann_filtered_topk": similarity.filtered_topk,
        "embedding_quantize_int8": similarity.embedding_quantize_int8,
        "ann_int8_topk": similarity.ann_int8_topk,
        "ann_lsh_topk": similarity.lsh_topk,
        "ann_ivf_topk": similarity.ivf_topk,
        "ann_ivf_indexed_topk": similarity.ivf_indexed_topk,
        "knn_graph": similarity.knn_graph,
        "ann_recall_eval": similarity.ann_recall_eval,
        "hard_negative_mining": similarity.hard_negative_mining,
        "bitext_mining": similarity.bitext_mining,
        "knn_label_propagation": similarity.knn_label_propagation,
        "pca_power_iteration": similarity.pca_power_iteration,
        "embedding_health_audit": similarity.embedding_health_audit,
        "maxsim_late_interaction_topk":
            similarity.maxsim_late_interaction_topk,
        # -- text analysis --
        "token_stats": text_analysis.token_stats,
        "quality_score": text_analysis.quality_score,
        "flesch_readability": text_analysis.flesch_readability,
        "zipf_fit": text_analysis.zipf_fit,
        "lang_id": text_analysis.lang_id,
        "lang_id_confusion": text_analysis.lang_id_confusion,
        "hashed_ngram_classify": text_analysis.hashed_ngram_classify,
        "fingerprint": text_analysis.fingerprint,
        "repetition_stats": text_analysis.repetition_stats,
        "contamination_check": text_analysis.contamination_check,
        "pii_scrub": text_analysis.pii_scrub,
        "stratified_sample": text_analysis.stratified_sample,
        "tfidf_top_terms": text_analysis.tfidf_top_terms,
        "rake_keywords": text_analysis.rake_keywords,
        "texttiling_segments": text_analysis.texttiling_segments,
        "good_turing_bigrams": text_analysis.good_turing_bigrams,
        "chi2_feature_selection": text_analysis.chi2_feature_selection,
        "inverted_index_postings": text_analysis.inverted_index_postings,
        "pmi_bigram_lift": text_analysis.pmi_bigram_lift,
        "dsir_importance_weights": text_analysis.dsir_importance_weights,
        "sequence_pack": text_analysis.sequence_pack,
        "padding_waste_audit": text_analysis.padding_waste_audit,
        "dataset_card": text_analysis.dataset_card,
        "packing_seqlen_sweep": text_analysis.packing_seqlen_sweep,
        "label_model_vote": text_analysis.label_model_vote,
        "uncertainty_sample": text_analysis.uncertainty_sample,
        "bpe_merges": text_analysis.bpe_merges,
        "bpe_tokenize": text_analysis.bpe_tokenize,
        "bpe_fertility": text_analysis.bpe_fertility,
        "doremi_mixture": text_analysis.doremi_mixture,
        "gopher_rules": text_analysis.gopher_rules,
        # -- HTML main-content extraction (boilerplate strip, pure
        # Catalyst: regexp blocks + densometric classification) --
        "html_block_classify": web_extract.html_block_classify,
        "html_main_content": web_extract.html_main_content,
        "html_to_spans": web_extract.html_to_spans,
        "robots_gate": web_extract.robots_gate,
        "link_graph_pagerank": web_extract.link_graph_pagerank,
        "hits_hubs_authorities": web_extract.hits_hubs_authorities,
        "anchor_text_aggregation": web_extract.anchor_text_aggregation,
        "cocitation_pairs": web_extract.cocitation_pairs,
        # -- container sources --
        "ofd_extract": _q_ofd,
        # -- multimodal media plumbing (value oracles over driver-side
        # expected rows, see _media_expected_path; pixel math is
        # pytest-gated in tests/test_media.py) --
        "media_metadata": media.media_metadata,
        "media_thumbnails": media.media_thumbnails,
        "media_dhash_dedup": media.media_dhash_dedup,
        "frame_sample": media.frame_sample,
        "video_near_dup": media.video_near_dup,
        "audio_features": media.audio_features,
        "audio_near_dup": media.audio_near_dup,
        "caption_consistency": media.caption_consistency,
        # -- table structure (row x col interval geometry) --
        "table_cells": table.table_cells,
        "table_det_assign": table.table_det_assign,
        "table_html": table.table_html,
        # -- streaming (drained via availableNow) --
        "stream_exact_dedup": stream.stream_dedup_query,
        "stream_watermark_dedup": stream.stream_watermark_dedup_query,
        "stream_window_counts": stream.stream_window_query,
        "stream_user_sessions": stream.stream_session_query,
        "stream_enriched_events": stream.stream_enrich_query,
        "stream_click_attribution": stream.stream_attribution_query,
        "stream_upsert_latest": stream.stream_upsert_query,
        "stream_topk_trending": stream.stream_topk_query,
        "stream_near_dup_gate": stream.stream_near_dup_gate_query,
        "stream_quantile_sketch": stream.stream_qsketch_query,
        "stream_tv_drift_by_day": stream.stream_tv_drift_query,
        # -- relational breadth --
        "pricing_summary": relational.pricing_summary,
        "top_orders_per_segment": relational.top_orders_per_segment,
        "sessionize_events": relational.sessionize_events,
        "profile_tables": relational.profile_tables,
        "heavy_hitters": relational.heavy_hitters,
        "curation_decision": text_analysis.curation_decision,
        "asof_join_order_events": relational.asof_join_order_events,
        "rolling_user_value": relational.rolling_user_value,
        "percentile_profile": relational.percentile_profile,
        "skew_salted_join": relational.skew_salted_join,
        "geo_cell_pairs": relational.geo_cell_pairs,
        "session_covisitation": relational.session_covisitation,
        "geo_dbscan": relational.geo_dbscan,
        "histogram_quantile_sketch": relational.histogram_quantile_sketch,
        "skew_salt_plan": relational.skew_salt_plan,
        "brier_decomposition": relational.brier_decomposition,
        "neyman_allocation": relational.neyman_allocation,
        "cuped_adjusted_metric": relational.cuped_adjusted_metric,
        "srm_check": relational.srm_check,
        "poisson_bootstrap_ci": relational.poisson_bootstrap_ci,
        "diff_in_differences": relational.diff_in_differences,
        "ab_mde_power": relational.ab_mde_power,
        "holt_winters_forecast": relational.holt_winters_forecast,
        "winsorized_mean": relational.winsorized_mean,
        "ips_offline_eval": relational.ips_offline_eval,
        "doubly_robust_eval": relational.doubly_robust_eval,
        "quantile_treatment_effect": relational.quantile_treatment_effect,
        "stratified_srm": relational.stratified_srm,
        "sequential_sign_test": relational.sequential_sign_test,
        "metric_sensitivity_ladder": relational.metric_sensitivity_ladder,
        "url_canonicalize": web_extract.url_canonicalize,
        "scd2_intervals": relational.scd2_intervals,
        "source_mix_rebalance": text_analysis.source_mix_rebalance,
        "json_props_rollup": relational.json_props_rollup,
        "lm_perplexity": text_analysis.lm_perplexity,
        "referential_audit": relational.referential_audit,
        "length_outlier_filter": text_analysis.length_outlier_filter,
        "sales_rollup": relational.sales_rollup,
        "priority_pivot": relational.priority_pivot,
        "funnel_counts": relational.funnel_counts,
        "gap_fill_daily": relational.gap_fill_daily,
        "kmeans_clusters": similarity.kmeans_clusters,
        "semdedup_prune": similarity.semdedup_prune,
        "price_histogram": relational.price_histogram,
        "snapshot_diff": relational.snapshot_diff,
        "window_tumbling_stats": relational.window_tumbling_stats,
        "window_sliding_stats": relational.window_sliding_stats,
        "shipping_priority": relational.shipping_priority,
        "late_order_priority": relational.late_order_priority,
        "idle_rich_customers": relational.idle_rich_customers,
        "interval_ship_demand": relational.interval_ship_demand,
        "revenue_wow_change": relational.revenue_wow_change,
        "fuzzy_name_match": dedup.fuzzy_name_match,
        "record_linkage_fs": relational.record_linkage_fs,
        "doc_chunk_overlap": text_analysis.doc_chunk_overlap,
        "kmv_distinct_users": relational.kmv_distinct_users,
        "hll_distinct_users": relational.hll_distinct_users,
        "auc_rank_eval": relational.auc_rank_eval,
        "hash_sample": text_analysis.hash_sample,
        "cms_user_frequency": relational.cms_user_frequency,
        "group_hash_sample": text_analysis.group_hash_sample,
        "text_normalize": text_analysis.text_normalize,
        "encoding_repair": text_analysis.encoding_repair,
        "kneser_ney_bigram": text_analysis.kneser_ney_bigram,
        "bloom_semi_prune": relational.bloom_semi_prune,
        "shard_pack_manifest": text_analysis.shard_pack_manifest,
        "rendezvous_shard": text_analysis.rendezvous_shard,
        "global_rank_two_pass": relational.global_rank_two_pass,
        "media_ref_dedup": spans.media_ref_dedup,
        "regional_revenue": relational.regional_revenue,
        "exact_quantile_refine": relational.exact_quantile_refine,
        "ewma_user_value": relational.ewma_user_value,
        "triangle_count": web_extract.triangle_count,
        "incremental_agg_merge": relational.incremental_agg_merge,
        "connected_components_labels": relational.connected_components_labels,
        "two_hop_neighbors": relational.two_hop_neighbors,
        "cohort_retention": relational.cohort_retention,
        "cdc_apply": relational.cdc_apply,
        "pruning_effectiveness": relational.pruning_effectiveness,
        "half_life_engagement": relational.half_life_engagement,
        "join_size_estimate": relational.join_size_estimate,
        "vocab_coverage": text_analysis.vocab_coverage,
        "span_corruption_mask": text_analysis.span_corruption_mask,
        "bm25_topk": text_analysis.bm25_topk,
        "term_drift": text_analysis.term_drift,
        "conjunctive_search": text_analysis.conjunctive_search,
        "quality_calibration": text_analysis.quality_calibration,
        "isotonic_calibration": text_analysis.isotonic_calibration,
        "bigram_next_token": text_analysis.bigram_next_token,
        "sliding_distinct_users": relational.sliding_distinct_users,
        "dwell_time_stats": relational.dwell_time_stats,
        "dq_expectations": relational.dq_expectations,
        "events_anomaly_days": relational.events_anomaly_days,
        "ltv_deciles": relational.ltv_deciles,
        "market_basket_pairs": relational.market_basket_pairs,
        "pareto_frontier_docs": text_analysis.pareto_frontier_docs,
        "paragraph_dedup_rebuild": text_analysis.paragraph_dedup_rebuild,
        "bfs_hop_distance": web_extract.bfs_hop_distance,
        "hyperball_neighborhood": web_extract.hyperball_neighborhood,
        "effective_diameter": web_extract.effective_diameter,
        "clustering_coefficient": web_extract.clustering_coefficient,
        "graph_reciprocity": web_extract.graph_reciprocity,
        "scc_labels": web_extract.scc_labels,
        "bowtie_decomposition": web_extract.bowtie_decomposition,
        "graph_modularity": web_extract.graph_modularity,
        "harmonic_centrality": web_extract.harmonic_centrality,
        "kmv_weekly_rollup": relational.kmv_weekly_rollup,
        "theta_sketch_overlap": relational.theta_sketch_overlap,
        "pps_systematic_sample": relational.pps_systematic_sample,
        "hybrid_rrf_search": text_analysis.hybrid_rrf_search,
        "k_anonymity_audit": relational.k_anonymity_audit,
        "l_diversity_audit": relational.l_diversity_audit,
        "t_closeness_audit": relational.t_closeness_audit,
        "dp_noisy_counts": relational.dp_noisy_counts,
        "weighted_sample_aes": relational.weighted_sample_aes,
        "cusum_changepoint": relational.cusum_changepoint,
        "pit_join_events_scd2": relational.pit_join_events_scd2,
        "training_manifest": text_analysis.training_manifest,
        "mad_outliers": relational.mad_outliers,
        "source_template_paragraphs": text_analysis.source_template_paragraphs,
        "train_val_test_split": text_analysis.train_val_test_split,
        "corpus_shuffle_shards": text_analysis.corpus_shuffle_shards,
        "boilerplate_prune": text_analysis.boilerplate_prune,
        "temperature_sampling_budget": (
            text_analysis.temperature_sampling_budget
        ),
        "span_corruption_plan": text_analysis.span_corruption_plan,
        "sequence_pack_incremental": text_analysis.sequence_pack_incremental,
        "budget_allocation": text_analysis.budget_allocation,
        "personalized_pagerank": web_extract.personalized_pagerank,
        "redirect_resolution": web_extract.redirect_resolution,
        "purchase_paths": relational.purchase_paths,
        "psi_drift": relational.psi_drift,
        "ks_drift": relational.ks_drift,
        "compaction_plan": relational.compaction_plan,
        "market_share": relational.market_share,
        "late_sole_supplier": relational.late_sole_supplier,
        "multi_touch_attribution": relational.multi_touch_attribution,
        "single_source_parts": relational.single_source_parts,
        "market_basket_triples": relational.market_basket_triples,
        "min_cost_supplier": relational.min_cost_supplier,
        "revenue_concentrated_parts": relational.revenue_concentrated_parts,
        "customer_order_distribution": relational.customer_order_distribution,
        "large_volume_orders": relational.large_volume_orders,
        "theil_sen_trend": relational.theil_sen_trend,
        "ring_reshard_movement": relational.ring_reshard_movement,
        "seasonal_trend_decompose": relational.seasonal_trend_decompose,
        "js_divergence_drift": text_analysis.js_divergence_drift,
        "term_burstiness": text_analysis.term_burstiness,
        "skipgram_pairs": text_analysis.skipgram_pairs,
        "perplexity_bucket_mix": text_analysis.perplexity_bucket_mix,
        "entropy_rate": text_analysis.entropy_rate,
        "forecast_revenue": relational.forecast_revenue,
        "volume_shipping": relational.volume_shipping,
        "product_profit": relational.product_profit,
        "returned_items": relational.returned_items,
        "shipmode_priority": relational.shipmode_priority,
        "promo_revenue_share": relational.promo_revenue_share,
        "top_supplier_revenue": relational.top_supplier_revenue,
        "parts_supplier_count": relational.parts_supplier_count,
        "small_qty_revenue": relational.small_qty_revenue,
        "disjunctive_revenue": relational.disjunctive_revenue,
        "policy_lexicon_score": text_analysis.policy_lexicon_score,
        "distinct_ngram_diversity": text_analysis.distinct_ngram_diversity,
        "homoglyph_dedup": dedup.homoglyph_dedup,
        "kcore_peel": web_extract.kcore_peel,
        "ktruss_edges": web_extract.ktruss_edges,
        "link_prediction_jaccard": web_extract.link_prediction_jaccard,
        "crawl_frontier": web_extract.crawl_frontier,
        "politeness_schedule": web_extract.politeness_schedule,
        "louvain_two_level": web_extract.louvain_two_level,
        "deepwalk_pairs": web_extract.deepwalk_pairs,
        "adamic_adar_pairs": web_extract.adamic_adar_pairs,
        "degree_assortativity": web_extract.degree_assortativity,
        "wl_refinement": web_extract.wl_refinement,
        "lpa_communities": web_extract.lpa_communities,
        "zorder_layout": relational.zorder_layout,
        "countmin_heavy_hitters": relational.countmin_heavy_hitters,
        "feature_correlation": relational.feature_correlation,
        "phrase_search": text_analysis.phrase_search,
        "km_churn_survival": relational.km_churn_survival,
        "benford_audit": relational.benford_audit,
        "heaps_vocab_growth": text_analysis.heaps_vocab_growth,
        "weekday_seasonality": relational.weekday_seasonality,
        "gini_concentration": relational.gini_concentration,
        "source_entropy": text_analysis.source_entropy,
        "url_path_rollup": text_analysis.url_path_rollup,
        "quantile_normalize_length": text_analysis.quantile_normalize_length,
        "ann_pq_topk": similarity.pq_topk,
        "ann_ivfpq_topk": similarity.ivfpq_topk,
        "jl_projection": similarity.jl_projection,
        "unpivot_measures": relational.unpivot_measures,
    }


# ---------------------------------------------------------------------------
# normalizer queries over engine-portable synthesized inputs
# ---------------------------------------------------------------------------


def _norm_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial-ish normalizer inputs derived from customer rows (pure
    SQL, identical derivation in the oracle)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    return cust.select(
        "c_custkey",
        F.concat(F.lit("no "), F.col("c_name"), F.lit(" id:"), k.cast("string")).alias(
            "s_num"
        ),
        F.concat(F.lit("标题："), F.col("c_mktsegment"), F.lit(":x")).alias("s_title"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit("第"), (k % 9 + 1).cast("string"), F.lit("页/共"),
                     (k % 9 + 2).cast("string"), F.lit("页")),
        )
        .when(k % 3 == 1, F.concat((k % 7).cast("string"), F.lit(" of "),
                                   (k % 11).cast("string")))
        .otherwise(F.lit("none"))
        .alias("s_page"),
        F.concat(F.lit("¥"), F.format_string("%.2f", F.col("c_acctbal"))).alias(
            "s_float"
        ),
        F.when(
            k % 4 == 0,
            F.concat(F.lit("小计"), F.format_string("%.2f", F.col("c_acctbal")),
                     F.lit("总计¥"), F.format_string("%.2f", F.col("c_acctbal") * 2)),
        )
        .when(k % 4 == 1, F.concat(F.lit("("), F.format_string("%.2f", F.col("c_acctbal")), F.lit(")")))
        .when(k % 4 == 2, F.concat(F.format_string("%.2f", F.col("c_acctbal")), F.lit("-")))
        .otherwise(F.concat(F.lit("¥ "), F.format_string("%.2f", F.col("c_acctbal"))))
        .alias("s_amount"),
    )


_NORM_INPUT_SQL = """
select c_custkey,
       'no ' || c_name || ' id:' || c_custkey::varchar as s_num,
       '标题：' || c_mktsegment || ':x' as s_title,
       case when c_custkey % 3 = 0
              then '第' || (c_custkey % 9 + 1)::varchar || '页/共' || (c_custkey % 9 + 2)::varchar || '页'
            when c_custkey % 3 = 1
              then (c_custkey % 7)::varchar || ' of ' || (c_custkey % 11)::varchar
            else 'none' end as s_page,
       '¥' || printf('%.2f', c_acctbal) as s_float,
       case when c_custkey % 4 = 0
              then '小计' || printf('%.2f', c_acctbal) || '总计¥' || printf('%.2f', c_acctbal * 2)
            when c_custkey % 4 = 1 then '(' || printf('%.2f', c_acctbal) || ')'
            when c_custkey % 4 = 2 then printf('%.2f', c_acctbal) || '-'
            else '¥ ' || printf('%.2f', c_acctbal) end as s_amount
from customer
"""

_DUCK_GET_NUM = (
    "coalesce(list_aggregate(regexp_extract_all(translate({col}, 'lIi', '111'),"
    " '-?[0-9][0-9]*'), 'string_agg', ''), '')"
)


def _norm_get_num(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_input(spark, sf_dir).select(
        "c_custkey", N.get_num(F.col("s_num")).alias("num")
    ).orderBy("c_custkey")


def _norm_get_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_input(spark, sf_dir).select(
        "c_custkey", N.get_title(F.col("s_title")).alias("title")
    ).orderBy("c_custkey")


def _norm_get_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_input(spark, sf_dir).select(
        "c_custkey", N.get_page(F.col("s_page")).alias("page")
    ).orderBy("c_custkey")


def _norm_get_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_input(spark, sf_dir).select(
        "c_custkey", N.get_float(F.col("s_float")).alias("amount")
    ).orderBy("c_custkey")


def _norm_get_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_input(spark, sf_dir).select(
        "c_custkey", N.get_amount(F.col("s_amount")).alias("amount")
    ).orderBy("c_custkey")


def _norm_invoice_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    title = (
        F.when(k % 6 == 0, F.lit("电子发票（增值税普通发票）"))
        .when(k % 6 == 1, F.lit("电子发票（增值税专用发票）"))
        .when(k % 6 == 2, F.lit("增值税专用发票"))
        .when(k % 6 == 3, F.lit("增值税电子普通发票"))
        .when(k % 6 == 4, F.lit("收据"))
        .otherwise(F.lit(""))
    )
    check = F.when(k % 2 == 0, F.lit("123")).otherwise(F.lit(""))
    return cust.select(
        "c_custkey", N.judge_invoice_type(title, check).alias("invoice_type")
    ).orderBy("c_custkey")


def _norm_check_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    c1 = F.when(k % 5 == 0, F.concat(F.lit("验码"), (k % 100).cast("string"))).otherwise(
        (k * 7 % 1000).cast("string")
    )
    c2 = F.when(k % 4 == 0, F.lit("")).otherwise((k * 3 % 1000).cast("string"))
    return cust.select(
        "c_custkey", N.get_check_code(c1, c2).alias("check_code")
    ).orderBy("c_custkey")


def _norm_get_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas-UDF normalizer (rows-only oracle would be weak; the date
    format is fully SQL-expressible on clean inputs, so it gets one)."""
    from ocr_spark.functions import normalizers as N

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = F.date_format("o_orderdate", "yyyy/MM/dd")
    return orders.select(
        "o_orderkey", N.make_get_date()(s).alias("billing_date")
    ).orderBy("o_orderkey")


def _norm_chinese_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_chinese_amount pandas UDF over synthesized 大写 amounts."""
    from ocr_spark.functions import normalizers as N

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    digits = "壹贰叁肆伍陆柒捌玖"
    d = lambda e: F.element_at(F.lit(list(digits)), (e % 9 + 1).cast("int"))  # noqa: E731
    s = F.concat(
        d(k), F.lit("万"), d(k + 1), F.lit("仟"), d(k + 2), F.lit("佰"),
        d(k + 3), F.lit("拾"), d(k + 4), F.lit("元"), d(k + 5), F.lit("角"),
        d(k + 6), F.lit("分"),
    )
    return cust.select(
        "c_custkey", N.get_chinese_amount(s).alias("amount")
    ).orderBy("c_custkey")


def _q_interleaved_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.spans import interleaved_pack

    return interleaved_pack(spark, _corpus_path(_corpus_docs_for(sf_dir)))


def _q_ofd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.sources.ofd import ofd_extract

    return ofd_extract(spark, sf_dir)


def _norm_addr_bank_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """addr/bank/tax normalizer inputs from customer rows (ASCII digits
    only — the (?U) full-width digit semantics are covered by unit tests;
    here both engines must agree on the same clean derivation)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    return cust.select(
        "c_custkey",
        F.concat(
            # Every 5th row uses the "地址、电话" prefix: the reference's
            # alternation tries 地址 FIRST (leftmost-first), so only 地址 is
            # stripped and the residual 、电话 survives into the split step —
            # a bug-compatible quirk both engines must reproduce.
            F.when(k % 5 == 0, F.lit("地址、电话：")).otherwise(F.lit("地址：")),
            F.col("c_mktsegment"), F.lit("市"),
            F.col("c_name"), F.lit("路 电话"), k.cast("string"),
        ).alias("s_addr"),
        F.concat(
            F.lit("开户行：银行"), F.col("c_mktsegment"), F.lit("支行"),
            (k * 13 % 10**9).cast("string"),
        ).alias("s_bank"),
        F.concat(
            F.lit("tax "), (k % 17).cast("string"), F.lit("%x"),
            (k % 7).cast("string"), F.lit("abc"),
        ).alias("s_tax"),
    )


_NORM_AB_INPUT_SQL = """
select c_custkey,
       (case when c_custkey % 5 = 0 then '地址、电话：' else '地址：' end)
         || c_mktsegment || '市' || c_name || '路 电话' || c_custkey::varchar as s_addr,
       '开户行：银行' || c_mktsegment || '支行' || (c_custkey * 13 % 1000000000)::varchar as s_bank,
       'tax ' || (c_custkey % 17)::varchar || '%x' || (c_custkey % 7)::varchar || 'abc' as s_tax
from customer
"""


def _norm_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-field reconciliation (vat_detect.py:110-130) over
    candidates of varying lengths derived from customer keys."""
    from ocr_spark.functions import normalizers as N

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    digits = F.repeat(F.lit("1234567890"), 3)

    def cand(length):
        return F.substring(digits, 1, length)

    c1, c2 = cand((k % 4 + 10).cast("int")), cand((k % 3 + 11).cast("int"))
    n1, n2 = cand((k % 3 + 7).cast("int")), cand((k % 4 + 6).cast("int"))
    return cust.select(
        "c_custkey",
        N.reconcile_invoice_code(c1, c2).alias("invoice_code"),
        N.reconcile_invoice_number(n1, n2).alias("invoice_number"),
    ).orderBy("c_custkey")


def _norm_get_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_addr_bank_input(spark, sf_dir).select(
        "c_custkey", N.get_tax(F.col("s_tax")).alias("tax")
    ).orderBy("c_custkey")


def _norm_addr_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_addr_bank over both addr-shaped and bank-shaped inputs; the
    bank input ends in an account-digit run so the split (and the
    colon-offset slice quirk) is exercised for real."""
    from ocr_spark.functions import normalizers as N

    return _norm_addr_bank_input(spark, sf_dir).select(
        "c_custkey",
        N.get_addr_bank(F.col("s_addr")).alias("addr_split"),
        N.get_addr_bank(F.col("s_bank")).alias("bank_split"),
    ).orderBy("c_custkey")


def _norm_extract_addr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_addr_bank_input(spark, sf_dir).select(
        "c_custkey", N.extract_addr(F.col("s_addr")).alias("addr")
    ).orderBy("c_custkey")


def _norm_extract_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions import normalizers as N

    return _norm_addr_bank_input(spark, sf_dir).select(
        "c_custkey", N.extract_bank(F.col("s_bank")).alias("bank")
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# RE2-compatible rendering of the symbol-salad class (normalizers._SALAD)
_SALAD_RE2 = (
    "[★☆※*•·●⊙◎¤■◆◇▪▎▏▍▌▋▊▉|｜~`^_=+<>《》〈〉【】\\[\\]{}（）()]"
)

_H32 = "(('0x' || substr(md5({expr}), 1, 8))::bigint)"

_SHINGLES = (
    "list_sort(list_distinct(list_transform("
    "range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),"
    " i -> array_to_string((string_split(text,' '))[i:i+2], ' '))))"
)


def _simhash_oracle() -> str:
    sums = []
    for half, pre in (("lo", ""), ("hi", "hi:")):
        h = _H32.format(expr=f"'{pre}' || tok")
        for b in range(32):
            bit = b if half == "lo" else b + 32
            sums.append(
                f"sum(case when (({h} >> {b}) & 1) = 1 then 1 else -1 end) as s{bit}"
            )
    bit_sql = ",\n       ".join(sums)
    add = " + ".join(
        f"(case when s{b} > 0 then (1::hugeint << {b}) else 0::hugeint end)"
        for b in range(64)
    )
    return f"""
with toks as (
  select doc_id, unnest(string_split(text, ' ')) as tok from documents
), sums as (
  select doc_id, {bit_sql}
  from toks group by doc_id
)
select doc_id, ({add})::varchar as simhash from sums order by doc_id
"""


# One md5 per shingle; family j = (h1 + j*h2) mod P (dedup.MINHASH_P),
# mirroring ocr_spark/operators/dedup.py::minhash_signatures bit-for-bit.
def _mh_col(j: int) -> str:
    h1 = "(('0x' || substr(md5(s), 1, 8))::bigint)"
    h2 = "(('0x' || substr(md5(s), 9, 8))::bigint)"
    return (
        f"list_min(list_transform(shingles, s -> "
        f"(({h1} + {j} * {h2}) % {dedup.MINHASH_P}))) as mh{j}"
    )


_MINHASH_ORACLE = """
with sh as (
  select doc_id, {sh} as shingles from documents
)
select doc_id,
{cols}
from sh order by doc_id
""".format(
    sh=_SHINGLES,
    cols=",\n".join("  " + _mh_col(j) for j in range(dedup.N_MINHASH)),
)


_LSH_ORACLE = """
with sh as (
  select doc_id, {sh} as shingles from documents
), sigs as (
  select doc_id, shingles,
{cols}
  from sh
), bands as (
  select doc_id, b.band,
         case b.band
{band_cases}
         end as bucket
  from sigs, (select unnest(range(0, {nbands})) as band) b
), pairs as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b on a.band = b.band and a.bucket = b.bucket
   and a.doc_id < b.doc_id
)
select p.doc_a, p.doc_b,
       round(len(list_intersect(sa.shingles, sb.shingles))::double
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))), 6) as jaccard
from pairs p
join sh sa on sa.doc_id = p.doc_a
join sh sb on sb.doc_id = p.doc_b
where round(len(list_intersect(sa.shingles, sb.shingles))::double
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.5
order by doc_a, doc_b
""".format(
    sh=_SHINGLES,
    cols=",\n".join("    " + _mh_col(j) for j in range(dedup.N_MINHASH)),
    nbands=dedup.LSH_BANDS,
    band_cases="\n".join(
        f"           when {b} then md5(mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS)}::varchar"
        + "".join(
            f" || ',' || mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS) + r}::varchar"
            for r in range(1, dedup.N_MINHASH // dedup.LSH_BANDS)
        )
        + ")"
        for b in range(dedup.LSH_BANDS)
    ),
)


# Edit-distance verify over the SAME banded candidate pairs: native
# levenshtein on EDIT_PREFIX-char prefixes, integer ppm normalization.
_EDIT_ORACLE = """
with sh as (
  select doc_id, {sh} as shingles from documents
), sigs as (
  select doc_id, shingles,
{cols}
  from sh
), bands as (
  select doc_id, b.band,
         case b.band
{band_cases}
         end as bucket
  from sigs, (select unnest(range(0, {nbands})) as band) b
), pairs as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b on a.band = b.band and a.bucket = b.bucket
   and a.doc_id < b.doc_id
), verify as (
  select p.doc_a, p.doc_b,
         levenshtein(substring(da.text, 1, {prefix}),
                     substring(db.text, 1, {prefix}))::bigint as lev,
         greatest(len(substring(da.text, 1, {prefix})),
                  len(substring(db.text, 1, {prefix})))::bigint as max_len
  from pairs p
  join documents da on da.doc_id = p.doc_a
  join documents db on db.doc_id = p.doc_b
)
select doc_a, doc_b, lev,
       case when max_len = 0 then 0
            else (lev * 1000000) // max_len end as dist_ppm
from verify
where (case when max_len = 0 then 0
            else (lev * 1000000) // max_len end) <= {max_ppm}
order by doc_a, doc_b
""".format(
    sh=_SHINGLES,
    cols=",\n".join("    " + _mh_col(j) for j in range(dedup.N_MINHASH)),
    nbands=dedup.LSH_BANDS,
    band_cases="\n".join(
        f"           when {b} then md5(mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS)}::varchar"
        + "".join(
            f" || ',' || mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS) + r}::varchar"
            for r in range(1, dedup.N_MINHASH // dedup.LSH_BANDS)
        )
        + ")"
        for b in range(dedup.LSH_BANDS)
    ),
    prefix=dedup.EDIT_PREFIX,
    max_ppm=dedup.EDIT_MAX_PPM,
)


# Streaming gate truth (single availableNow batch): bucket owner is
# min doc_id per (band, bucket) over the same signatures/banding.
_STREAM_GATE_ORACLE = """
with sh as (
  select doc_id, {sh} as shingles from documents
), sigs as (
  select doc_id, shingles,
{cols}
  from sh
), bands as (
  select doc_id, b.band,
         case b.band
{band_cases}
         end as bucket
  from sigs, (select unnest(range(0, {nbands})) as band) b
), owners as (
  select band, bucket, min(doc_id) as owner from bands group by 1, 2
)
select b.doc_id, count(*) as n_bands,
       cast(sum(case when o.owner = b.doc_id then 1 else 0 end) as bigint)
         as n_owned,
       cast(max(case when o.owner < b.doc_id then 1 else 0 end) as int)
         as is_candidate
from bands b join owners o on b.band = o.band and b.bucket = o.bucket
group by b.doc_id order by b.doc_id
""".format(
    sh=_SHINGLES,
    cols=",\n".join("    " + _mh_col(j) for j in range(dedup.N_MINHASH)),
    nbands=dedup.LSH_BANDS,
    band_cases="\n".join(
        f"           when {b} then md5(mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS)}::varchar"
        + "".join(
            f" || ',' || mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS) + r}::varchar"
            for r in range(1, dedup.N_MINHASH // dedup.LSH_BANDS)
        )
        + ")"
        for b in range(dedup.LSH_BANDS)
    ),
)


# Incremental variant: pairs are batch (doc_id % 5 = 0) x corpus (rest),
# same signatures/banding/verify as _LSH_ORACLE.
_INCR_LSH_ORACLE = """
with sh as (
  select doc_id, {sh} as shingles from documents
), sigs as (
  select doc_id, shingles,
{cols}
  from sh
), bands as (
  select doc_id, b.band,
         case b.band
{band_cases}
         end as bucket
  from sigs, (select unnest(range(0, {nbands})) as band) b
), pairs as (
  select distinct a.doc_id as batch_doc, b.doc_id as corpus_doc
  from bands a join bands b on a.band = b.band and a.bucket = b.bucket
  where a.doc_id % 5 = 0 and b.doc_id % 5 != 0
)
select p.batch_doc, p.corpus_doc,
       round(len(list_intersect(sa.shingles, sb.shingles))::double
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))), 6) as jaccard
from pairs p
join sh sa on sa.doc_id = p.batch_doc
join sh sb on sb.doc_id = p.corpus_doc
where round(len(list_intersect(sa.shingles, sb.shingles))::double
            / (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.5
order by batch_doc, corpus_doc
""".format(
    sh=_SHINGLES,
    cols=",\n".join("    " + _mh_col(j) for j in range(dedup.N_MINHASH)),
    nbands=dedup.LSH_BANDS,
    band_cases="\n".join(
        f"           when {b} then md5(mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS)}::varchar"
        + "".join(
            f" || ',' || mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS) + r}::varchar"
            for r in range(1, dedup.N_MINHASH // dedup.LSH_BANDS)
        )
        + ")"
        for b in range(dedup.LSH_BANDS)
    ),
)


# Sketch-quality eval: candidates from the SAME banding CTEs, truth
# from the exact all-pairs jaccard (the quadratic form is fine in the
# oracle — completeness of the Spark side's prefix filter is
# pytest-pinned separately), hits = set intersection.
_SKETCH_EVAL_ORACLE = """
with sh as materialized (
  select doc_id, {sh} as shingles from documents
), sigs as (
  select doc_id, shingles,
{cols}
  from sh
), bands as (
  select doc_id, b.band,
         case b.band
{band_cases}
         end as bucket
  from sigs, (select unnest(range(0, {nbands})) as band) b
), cand as materialized (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b on a.band = b.band and a.bucket = b.bucket
   and a.doc_id < b.doc_id
), truth as materialized (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from sh a join sh b on a.doc_id < b.doc_id
  where round(len(list_intersect(a.shingles, b.shingles))::double
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))),
              6) >= {tau}
), h as materialized (
  select * from cand intersect select * from truth
), c as (
  select (select count(*) from truth) as n_truth,
         (select count(*) from cand) as n_candidates,
         (select count(*) from h) as n_hits
)
select n_truth, n_candidates, n_hits,
       case when n_truth = 0 then cast(1000000 as bigint)
            else cast((2 * n_hits::hugeint * 1000000 + n_truth)
                      // (2 * n_truth) as bigint) end as recall_ppm,
       case when n_candidates = 0 then cast(1000000 as bigint)
            else cast((2 * n_hits::hugeint * 1000000 + n_candidates)
                      // (2 * n_candidates) as bigint) end as precision_ppm
from c
""".format(
    sh=_SHINGLES,
    cols=",\n".join("    " + _mh_col(j) for j in range(dedup.N_MINHASH)),
    nbands=dedup.LSH_BANDS,
    tau=dedup.SKETCH_EVAL_TAU,
    band_cases="\n".join(
        f"           when {b} then md5(mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS)}::varchar"
        + "".join(
            f" || ',' || mh{b * (dedup.N_MINHASH // dedup.LSH_BANDS) + r}::varchar"
            for r in range(1, dedup.N_MINHASH // dedup.LSH_BANDS)
        )
        + ")"
        for b in range(dedup.LSH_BANDS)
    ),
)


def _sweep_cfg_sql(b: int, r: int) -> str:
    cases = "\n".join(
        f"           when {band} then md5(mh{band * r}::varchar"
        + "".join(
            f" || ',' || mh{band * r + j}::varchar" for j in range(1, r)
        )
        + ")"
        for band in range(b)
    )
    return f"""bands_{b}_{r} as (
  select doc_id, bb.band,
         case bb.band
{cases}
         end as bucket
  from sigs, (select unnest(range(0, {b})) as band) bb
), cand_{b}_{r} as materialized (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands_{b}_{r} a join bands_{b}_{r} b
    on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
), h_{b}_{r} as materialized (
  select * from cand_{b}_{r} intersect select * from truth
)"""


def _sweep_select(b: int, r: int) -> str:
    return f"""select {b} as bands, {r} as rows_per_band,
       (select count(*) from truth) as n_truth,
       (select count(*) from cand_{b}_{r}) as n_candidates,
       (select count(*) from h_{b}_{r}) as n_hits,
       case when (select count(*) from truth) = 0
            then cast(1000000 as bigint)
            else cast((2 * (select count(*) from h_{b}_{r})::hugeint
                       * 1000000 + (select count(*) from truth))
                      // (2 * (select count(*) from truth)) as bigint)
            end as recall_ppm,
       case when (select count(*) from cand_{b}_{r}) = 0
            then cast(1000000 as bigint)
            else cast((2 * (select count(*) from h_{b}_{r})::hugeint
                       * 1000000 + (select count(*) from cand_{b}_{r}))
                      // (2 * (select count(*) from cand_{b}_{r}))
                      as bigint) end as precision_ppm"""


_SWEEP_ORACLE = (
    """with sh as materialized (
  select doc_id, {sh} as shingles from documents
), sigs as materialized (
  select doc_id, shingles,
{cols}
  from sh
), truth as materialized (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from sh a join sh b on a.doc_id < b.doc_id
  where round(len(list_intersect(a.shingles, b.shingles))::double
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))),
              6) >= {tau}
), """.format(
        sh=_SHINGLES,
        cols=",\n".join(
            "    " + _mh_col(j) for j in range(dedup.N_MINHASH)
        ),
        tau=dedup.SKETCH_EVAL_TAU,
    )
    + ",\n".join(
        _sweep_cfg_sql(b, r) for b, r in dedup.LSH_SWEEP_CONFIGS
    )
    + "\n"
    + "\nunion all\n".join(
        _sweep_select(b, r) for b, r in dedup.LSH_SWEEP_CONFIGS
    )
    + "\norder by bands\n"
)


def _lsh_plane(table: int, p: int) -> str:
    return (
        f"list_transform(range(0, 64), i -> "
        f"((('0x' || substr(md5('plane{table}.{p}:' || i::varchar), 1, 4))::bigint % 16) - 8)::double)"
    )


def _ann_bucket(table: int) -> str:
    """Bucket id in LSH table ``table`` — mirrors similarity.bucket_of."""
    return " + ".join(
        f"(case when list_dot_product(embedding::double[], {_lsh_plane(table, p)}) > 0 "
        f"then {2**p} else 0 end)"
        for p in range(similarity.DEFAULT_PLANES)
    )


# One bucket column per independent LSH table (multi-table banding).
_ANN_BUCKET_COLS = ", ".join(
    f"({_ann_bucket(t)}) as b{t}" for t in range(similarity.DEFAULT_TABLES)
)
_ANN_SAME_BUCKET_ANY = lambda a, b: " or ".join(  # noqa: E731
    f"{a}.b{t} = {b}.b{t}" for t in range(similarity.DEFAULT_TABLES)
)

_DUCK_COS = (
    "round(list_dot_product(e.embedding::double[], q.q::double[]) / "
    "(sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) * "
    "sqrt(list_dot_product(q.q::double[], q.q::double[]))), 4)"
)

_STOP_ALL = sorted({w for ws in text_analysis.STOPWORDS.values() for w in ws})


def _duck_get_amount(col: str) -> str:
    """Full get_amount oracle for inputs without full-width/OCR chars and
    without suffix-currency forms (the synthesized s_amount satisfies both;
    RE2 has no lookahead, so the suffix branch cannot be expressed — the
    Spark expression still computes it, it is just never the winner here).
    """
    raw = f"regexp_replace(regexp_replace({col}, '[(){{}}\\[\\]|｜~`^_=+<>]', '', 'g'), '\\s+', '', 'g')"
    cands = (
        f"list_filter(list_transform(regexp_extract_all({raw},"
        f" '(?i)(?:¥|RMB|CNY)\\s*([-+]?[0-9][0-9,]*(\\.[0-9]+)?)', 1),"
        f" x -> try_cast(replace(x, ',', '') as double)), v -> v is not null)"
    )
    gen = (
        f"list_filter(list_transform(regexp_extract_all({raw},"
        f" '([-+]?[0-9][0-9,]*(\\.[0-9]+)?)', 1),"
        f" x -> try_cast(replace(x, ',', '') as double)), v -> v is not null)"
    )
    return f"""
    (with c as (select case when len({cands}) > 0 then {cands} else {gen} end as ch)
     select case
       when {col} is null or {col} = '' or len(ch) = 0 then '¥ 0.00'
       else printf('¥ %.2f',
         (case when abs(ch[-1]) = list_max(list_transform(ch, v -> abs(v)))
               then ch[-1]
               else list_filter(ch, v -> abs(v) = list_max(list_transform(ch, x -> abs(x))))[1] end)
         * (case when ((position('(' in {col}) > 0 and position(')' in {col}) > 0)
                       or regexp_matches({raw}, '-\\s*$'))
                 and (case when abs(ch[-1]) = list_max(list_transform(ch, v -> abs(v)))
                           then ch[-1]
                           else list_filter(ch, v -> abs(v) = list_max(list_transform(ch, x -> abs(x))))[1] end) > 0
            then -1 else 1 end))
       end
     from c)
    """


def _ocr_pipeline_oracle() -> str:
    """Value oracle for the OCR pipeline: the corpus parquet carries
    layout-side ground truth (expected_spans / expect_success, computed at
    build time WITHOUT running the pipeline — fixtures/corpus.py), so the
    oracle hashes the expected span sequence exactly like _ocr_summary
    hashes the pipeline output.  The driver checks at sf0.01 -> the 80-doc
    corpus (\x01/\x02 field/row separators = chr(1)/chr(2))."""
    path = _corpus_path(80)
    return f"""
select doc_id,
       expect_success as success,
       len(list_filter(spans, s -> s.kind = 'media'))::int as n_media,
       md5(array_to_string(list_transform(expected_spans,
             s -> s.kind || chr(1) || s.text || chr(1) || s.media_ref
                  || chr(1) || s."offset"::varchar),
           chr(2))) as span_digest
from read_parquet('{path}')
order by doc_id
"""


def _save_crops_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry for the save-crop debug sink: per-label crop rows
    over a SMALL deterministic ref subset (every 40th customer, singles
    only — the sink re-runs the whole extraction chain per ref, exactly
    like the reference's saveImage=True mode, so the driver pays it on a
    1/40 sample).  Output is the label-routing projection (crop bytes
    stay out: the oracle checks WHICH regions were cropped under WHICH
    labels, the pytest gate checks pixel content)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    refs = cust.filter(k % 40 == 0).select(invoice_ref(k).alias("media_ref"))
    # label ROUTING is the oracle surface; crop extents stay out of it
    # (deskew resampling can erode an ink bbox by a pixel on skewed
    # pages) — pixel content and extents are pytest-gated instead
    # (tests/test_fields.py save_crops cases).
    return (
        save_crop_sink(refs)
        .select("media_ref", "region_idx", "crop_idx", "label")
        .repartition(1)
        .sortWithinPartitions("media_ref", "region_idx", "crop_idx")
    )


def _crop_expected_path() -> str:
    """Expected save-crop label routing for the sf0.01 subset: labels in
    reading order (title + FAMILY_FIELDS + trailing qrcode when the
    ground truth carries one), straight from fixture ground truth —
    never through the pipeline."""
    path = "/tmp/ocr_spark_crop_expected_sf001_v1.parquet"
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.fixtures.invoice import FAMILIES, expected_crop_labels

        cust = pq.read_table(
            "/root/testdata/sf0.01/customer.parquet", columns=["c_custkey"]
        )
        ks = sorted(cust["c_custkey"].to_pylist())
        recs = []
        for k in ks:
            if k % 40 == 0:
                ref = f"inv://c{k}#{FAMILIES[k % 4]}"
                for i, lab in enumerate(expected_crop_labels(ref)):
                    recs.append((ref, 0, i, lab))
        pq.write_table(
            pa.table(
                {
                    "media_ref": pa.array([r[0] for r in recs]),
                    "region_idx": pa.array([r[1] for r in recs], pa.int32()),
                    "crop_idx": pa.array([r[2] for r in recs], pa.int32()),
                    "label": pa.array([r[3] for r in recs]),
                }
            ),
            path,
        )
    return path


def _invoice_stress_expected_path() -> str:
    """Expected records for the composed hard-axis slice (STRESS_REFS),
    computed from layout ground truth through the pure-Python normalizer
    twins — never through the Spark stage under test."""
    path = "/tmp/ocr_spark_invoice_stress_expected_v1.parquet"
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.fixtures.invoice import expected_multi_records
        from ocr_spark.operators.fields import STRESS_REFS

        recs = []
        for r in STRESS_REFS:
            recs.extend(expected_multi_records(r))
        cols = list(recs[0].keys())
        pq.write_table(
            pa.table(
                {
                    c: pa.array(
                        [r[c] for r in recs],
                        pa.int32() if c == "region_idx" else pa.string(),
                    )
                    for c in cols
                }
            ),
            path,
        )
    return path


def _invoice_expected_path() -> str:
    """Expected invoice_field_extract records for the sf0.01 ref set,
    computed from layout ground truth through the pure-Python normalizer
    twins (fixtures/invoice.expected_record — unit-tested against the
    reference semantics), never through the Spark stage under test."""
    path = "/tmp/ocr_spark_invoice_expected_sf001_v2.parquet"
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.fixtures.invoice import (
            FAMILIES,
            expected_multi_records,
            expected_record,
        )

        cust = pq.read_table(
            "/root/testdata/sf0.01/customer.parquet", columns=["c_custkey"]
        )
        ks = sorted(cust["c_custkey"].to_pylist())
        recs = [
            expected_record(f"inv://c{k}#{FAMILIES[k % 4]}")
            for k in ks
            if k % 10 == 0
        ]
        for k in ks:
            if k % 100 == 50:  # multi-invoice sheets: N rows per page
                recs.extend(expected_multi_records(f"inv://m{k}#multi"))
        cols = list(recs[0].keys())
        pq.write_table(
            pa.table(
                {
                    c: pa.array(
                        [r[c] for r in recs],
                        pa.int32() if c == "region_idx" else pa.string(),
                    )
                    for c in cols
                }
            ),
            path,
        )
    return path


def _media_expected_path(which: str) -> str:
    """Expected rows for the media plumbing queries, computed DRIVER-SIDE
    (plain python loop over the sampled refs — no Spark).  frame_sample's
    expectation is fully independent (sha256 over the frame key string);
    media_metadata / media_thumbnails reuse the per-image fixture kernels
    (render / npy encode / nearest-neighbor resize), so those two oracles
    certify the DISTRIBUTED plumbing — Arrow binary round-trip through
    mapInPandas, partitioning, emission order — while the pixel math
    itself is pytest-gated (tests/test_media.py)."""
    path = f"/tmp/ocr_spark_media_expected_{which}_sf001_v1.parquet"
    if not os.path.exists(path):
        import hashlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        cust = pq.read_table(
            "/root/testdata/sf0.01/customer.parquet", columns=["c_custkey"]
        )
        ks = sorted(cust["c_custkey"].to_pylist())
        if which == "frames":
            recs = []
            for k in ks:
                if k % 50 == 0:
                    ref = f"vid://{k}"
                    for i in range(4):
                        digest = hashlib.sha256(
                            f"frame:{ref}:{i}".encode()
                        ).hexdigest()
                        recs.append((ref, i, i * 1000, digest))
            recs.sort(key=lambda r: (r[0], r[1]))
            table = pa.table(
                {
                    "media_ref": pa.array([r[0] for r in recs]),
                    "frame_idx": pa.array([r[1] for r in recs], pa.int32()),
                    "ts_ms": pa.array([r[2] for r in recs], pa.int64()),
                    "frame_sha256": pa.array([r[3] for r in recs]),
                }
            )
        elif which == "dhash":
            from collections import Counter

            from ocr_spark.fixtures.render import render
            from ocr_spark.operators.media import dhash64

            refs = [f"img://m{k}/0#crop" for k in ks if k % 20 == 0]
            hs = {r: dhash64(render(r)[0].image) for r in refs}
            groups = Counter(hs.values())
            canon: dict[str, str] = {}
            for r in sorted(refs):
                canon.setdefault(hs[r], r)
            recs = sorted(
                (
                    r,
                    hs[r],
                    groups[hs[r]],
                    canon[hs[r]],
                    int(canon[hs[r]] == r),
                )
                for r in refs
            )
            table = pa.table(
                {
                    "media_ref": pa.array([r[0] for r in recs]),
                    "dhash": pa.array([r[1] for r in recs]),
                    "group_size": pa.array(
                        [r[2] for r in recs], pa.int64()
                    ),
                    "canonical_ref": pa.array([r[3] for r in recs]),
                    "is_canonical": pa.array(
                        [r[4] for r in recs], pa.int32()
                    ),
                }
            )
        elif which == "caption":
            from ocr_spark.fixtures.render import render
            from ocr_spark.operators.media import (
                CAPTION_CORRUPT_MOD,
                _image_stats,
            )

            recs = []
            for k in ks:
                if k % 20 == 0:
                    ref = f"img://m{k}/0#crop"
                    w, h, ink = _image_stats(render(ref)[0].image)
                    cw = w + 7 if k % CAPTION_CORRUPT_MOD == 0 else w
                    recs.append(
                        (ref, w, h, ink, cw, h, ink, int(cw == w))
                    )
            recs.sort(key=lambda r: r[0])
            table = pa.table(
                {
                    "media_ref": pa.array([r[0] for r in recs]),
                    "width": pa.array([r[1] for r in recs], pa.int32()),
                    "height": pa.array([r[2] for r in recs], pa.int32()),
                    "ink_ppm": pa.array([r[3] for r in recs], pa.int64()),
                    "claimed_w": pa.array([r[4] for r in recs], pa.int32()),
                    "claimed_h": pa.array([r[5] for r in recs], pa.int32()),
                    "claimed_ink_ppm": pa.array(
                        [r[6] for r in recs], pa.int64()
                    ),
                    "is_consistent": pa.array(
                        [r[7] for r in recs], pa.int32()
                    ),
                }
            )
        else:
            from ocr_spark.fixtures.render import render
            from ocr_spark.operators.media import (
                THUMB_MAX_SIDE,
                encode_image,
                resize_max_side,
            )

            recs = []
            for k in ks:
                if k % 20 == 0:
                    # k % 20 == 0 implies even k, so the ref grammar's
                    # crop/page toggle always lands on #crop here — same
                    # as operators/media.media_binary over this sample.
                    ref = f"img://m{k}/0#crop"
                    img = render(ref)[0].image
                    payload = encode_image(img)
                    if which == "meta":
                        recs.append(
                            (
                                ref,
                                1,
                                int(img.shape[1]),
                                int(img.shape[0]),
                                len(payload),
                                hashlib.sha256(payload).hexdigest(),
                            )
                        )
                    else:
                        th = resize_max_side(img, THUMB_MAX_SIDE)
                        recs.append(
                            (
                                ref,
                                int(img.shape[1]),
                                int(img.shape[0]),
                                int(th.shape[1]),
                                int(th.shape[0]),
                                round(float(th.mean()), 4),
                            )
                        )
            recs.sort(key=lambda r: r[0])
            if which == "meta":
                table = pa.table(
                    {
                        "media_ref": pa.array([r[0] for r in recs]),
                        "n_pages": pa.array([r[1] for r in recs], pa.int32()),
                        "width": pa.array([r[2] for r in recs], pa.int32()),
                        "height": pa.array([r[3] for r in recs], pa.int32()),
                        "n_bytes": pa.array([r[4] for r in recs], pa.int64()),
                        "sha256": pa.array([r[5] for r in recs]),
                    }
                )
            else:
                table = pa.table(
                    {
                        "media_ref": pa.array([r[0] for r in recs]),
                        "width": pa.array([r[1] for r in recs], pa.int32()),
                        "height": pa.array([r[2] for r in recs], pa.int32()),
                        "thumb_w": pa.array([r[3] for r in recs], pa.int32()),
                        "thumb_h": pa.array([r[4] for r in recs], pa.int32()),
                        "thumb_mean": pa.array(
                            [r[5] for r in recs], pa.float64()
                        ),
                    }
                )
        pq.write_table(table, path)
    return path


def _kmeans_cte_chain() -> tuple[str, str]:
    """(distance expr, CTE chain text) for the unrolled fixed-point
    Lloyd iterations — shared by the kmeans_clusters and semdedup_prune
    oracles so the assignment derivation cannot drift between them."""
    dist = (
        "list_sum(list_transform(range(1, len(e.xi) + 1),"
        " i -> (e.xi[i] - c.cv[i]) * (e.xi[i] - c.cv[i])))"
    )
    parts = [
        f"""
e as (
  select vec_id,
         list_transform(embedding,
           x -> round(x::double * {similarity.KMEANS_SCALE})::bigint)
           as xi
  from embeddings
),
c0 as (select vec_id as cid, xi as cv from e
       where vec_id < {similarity.KMEANS_K})"""
    ]
    for i in range(1, similarity.KMEANS_ITERS + 1):
        parts.append(f"""
a{i} as (
  select vec_id, xi, cid from (
    select e.vec_id, e.xi, c.cid, {dist} as d
    from e cross join c{i - 1} c
  ) t qualify row_number() over (partition by vec_id
                                 order by d, cid) = 1
),
s{i} as (
  select cid, pos, sum(x) as s, count(*) as n
  from (select cid, unnest(xi) as x,
               unnest(range(1, len(xi) + 1)) as pos from a{i})
  group by cid, pos
),
c{i} as (
  select cid, list(s // n order by pos) as cv from s{i} group by cid
  union all
  select cid, cv from c{i - 1}
  where cid not in (select cid from s{i})
)""")
    return dist, ",".join(parts)


def _bpe_cte_parts() -> list[str]:
    """The unrolled BPE-training CTE chain (w0 + one p/m/w trio per
    round) shared by the bpe_merges and bpe_tokenize oracles."""
    parts = [
        r"""
w0 as materialized (
  select count(*) as wc, regexp_replace(word, '(.)', '|\1|', 'g') as s
  from (select unnest(string_split(text, ' ')) as word from documents)
  where word <> '' group by word
)"""
    ]
    for i in range(1, text_analysis.BPE_ROUNDS + 1):
        parts.append(f"""
p{i} as materialized (
  select l, r2, sum(wc) as cnt from (
    select wc,
           unnest(syms[1:len(syms) - 1]) as l,
           unnest(syms[2:len(syms)]) as r2
    from (select wc,
                 string_split(substring(s, 2, length(s) - 2), '||') as syms
          from w{i - 1})
  ) group by l, r2
),
m{i} as materialized (
  select cast({i} as int) as round, l as left_sym, r2 as right_sym,
         l || r2 as merged, cast(cnt as bigint) as pair_count
  from p{i} order by cnt desc, l, r2 limit 1
),
w{i} as materialized (
  select w.wc,
         replace(w.s, '|' || m.left_sym || '||' || m.right_sym || '|',
                 '|' || m.merged || '|') as s
  from w{i - 1} w cross join m{i} m
)""")
    return parts


def _bpe_oracle() -> str:
    """BPE merge training replayed round by round in SQL: the same
    delimiter-framed symbol strings, pair counting via lockstep unnest
    of the array against its own 1-shift, argmax with the (count desc,
    left, right) tie-break, and the literal non-overlapping replace —
    one CTE trio per unrolled round (the kmeans-oracle pattern)."""
    union = " union all ".join(
        f"select * from m{i}" for i in range(1, text_analysis.BPE_ROUNDS + 1)
    )
    return "with " + ",".join(_bpe_cte_parts()) + f"""
select * from ({union}) order by round
"""


def _bpe_tokenize_oracle() -> str:
    """Tokenizer application: the SAME training chain, then the framed
    per-(doc, word) strings pushed through each round's merge in order
    (left join on true + coalesce so an early-stopped round is a
    no-op, matching the Spark side's shorter merge list), token count
    read off the frame-char count."""
    parts = _bpe_cte_parts()
    parts.append(r"""
d0 as materialized (
  select doc_id, regexp_replace(word, '(.)', '|\1|', 'g') as s,
         length(word) as wl
  from (select doc_id, unnest(string_split(text, ' ')) as word
        from documents)
  where word <> ''
)""")
    for i in range(1, text_analysis.BPE_ROUNDS + 1):
        parts.append(f"""
d{i} as materialized (
  select d.doc_id,
         coalesce(replace(d.s,
                          '|' || m.left_sym || '||' || m.right_sym || '|',
                          '|' || m.merged || '|'), d.s) as s,
         d.wl
  from d{i - 1} d left join m{i} m on true
)""")
    _n = text_analysis.BPE_ROUNDS
    return "with " + ",".join(parts) + f"""
select doc_id,
       count(*) as n_words,
       sum(wl)::bigint as n_chars,
       sum((length(s) - length(replace(s, '|', ''))) // 2)::bigint
         as n_tokens,
       (sum((length(s) - length(replace(s, '|', ''))) // 2) * 1000)
         // sum(wl) as tokens_per_kchar
from d{_n} group by doc_id order by doc_id
"""


def oracle_sql() -> dict[str, str]:
    get_num = _DUCK_GET_NUM
    sql = {
        # -- the extraction pipeline (ground-truth value oracles) --
        "ocr_extract_exploded": _ocr_pipeline_oracle(),
        "invoice_field_extract": f"""
select * from read_parquet('{_invoice_expected_path()}') order by media_ref, region_idx
""",
        "invoice_stress_extract": f"""
select * from read_parquet('{_invoice_stress_expected_path()}')
order by media_ref, region_idx
""",
        "invoice_fill_rates": f"""
with e as (select * from read_parquet('{_invoice_expected_path()}'))
select family, count(*) as n_regions,
       cast((sum(case when invoice_number is not null
                       and invoice_number <> '' then 1 else 0 end)
             * 1000000) // count(*) as bigint) as fill_invoice_number_ppm,
       cast((sum(case when billing_date is not null
                       and billing_date <> '' then 1 else 0 end)
             * 1000000) // count(*) as bigint) as fill_billing_date_ppm,
       cast((sum(case when total_amount is not null
                       and total_amount <> '' then 1 else 0 end)
             * 1000000) // count(*) as bigint) as fill_total_amount_ppm,
       cast((sum(case when check_code is not null
                       and check_code <> '' then 1 else 0 end)
             * 1000000) // count(*) as bigint) as fill_check_code_ppm,
       cast((sum(case when buy_bank is not null
                       and buy_bank <> '' then 1 else 0 end)
             * 1000000) // count(*) as bigint) as fill_buy_bank_ppm
from e group by family order by family
""",
        "save_crops": f"""
select * from read_parquet('{_crop_expected_path()}')
order by media_ref, region_idx, crop_idx
""",
        # -- multimodal media plumbing (driver-side expected rows) --
        "media_dhash_dedup": f"""
select * from read_parquet('{_media_expected_path("dhash")}')
order by media_ref
""",
        "media_metadata": f"""
select * from read_parquet('{_media_expected_path("meta")}') order by media_ref
""",
        "media_thumbnails": f"""
select * from read_parquet('{_media_expected_path("thumb")}') order by media_ref
""",
        "frame_sample": f"""
select * from read_parquet('{_media_expected_path("frames")}')
order by media_ref, frame_idx
""",
        "caption_consistency": f"""
select * from read_parquet('{_media_expected_path("caption")}')
order by media_ref
""",
        # video near-dup: fully ANALYTIC oracle — DuckDB recomputes the
        # fixture frame fingerprints (sha256 of the shared content key,
        # bit-identical to hashlib) and replays the inverted-index pair
        # join; the Spark side decodes real NVID1 container bytes.
        "video_near_dup": f"""
with refs as (
  select 'vid://' || c_custkey as media_ref,
         c_custkey // {50 * media.VIDEO_DUP_GROUP} as g,
         (c_custkey // 50) % 2 as off
  from customer where c_custkey % 50 = 0
), fr as (
  select media_ref,
         sha256('frame:vgrp://' || g || ':' || (off + i)) as h
  from refs, range(4) t(i)
), p as (
  select a.media_ref as ref_a, b.media_ref as ref_b,
         count(*) as shared
  from fr a join fr b on a.h = b.h and a.media_ref < b.media_ref
  group by 1, 2
)
select ref_a, ref_b, shared,
       (shared * 1000000) // (8 - shared) as jaccard_ppm
from p
where (shared * 1000000) // (8 - shared) >= {media.VIDEO_DUP_MIN_PPM}
order by ref_a, ref_b
""",
        # audio features: fully ANALYTIC oracle — DuckDB regenerates the
        # NAUD1 fixture waveform from the shared integer formula and
        # recomputes every window feature; the Spark side decodes real
        # container bytes, so the two computations share no code path.
        "audio_features": """
with refs as (
  select 'aud://' || c_custkey as media_ref,
         (c_custkey * 2654435761) % 2147483647 as seed
  from customer where c_custkey % 50 = 0
), samp as (
  select media_ref, i,
         ((seed + i * 104729) % 65536) - 32768 as s
  from refs, range(2048) t(i)
), w as (
  select media_ref, i, s, i // 256 as win_idx,
         lag(s) over (partition by media_ref order by i) as prev
  from samp
)
select media_ref,
       cast(win_idx as int) as win_idx,
       cast(count(*) as int) as n_samples,
       cast(sum(abs(s)) as bigint) as sum_abs,
       cast(sum(s * s) as bigint) as energy,
       cast(max(abs(s)) as int) as peak,
       cast(sum(case when i % 256 <> 0 and ((prev < 0) <> (s < 0))
                     then 1 else 0 end) as int) as zero_cross
from w group by media_ref, win_idx order by media_ref, win_idx
""",
        # -- span algebra --
        "span_explode": """
with s as (
  select doc_id,
         unnest(string_split(text, ' ')) as tok,
         generate_subscripts(string_split(text, ' '), 1) - 1 as pos
  from documents
)
select doc_id,
       count(*) as n_spans,
       sum(case when length(tok) % 3 = 0 then 1 else 0 end)::bigint as n_media,
       min(case when length(tok) % 3 = 0 then pos end) as first_media_pos
from s group by doc_id order by doc_id
""",
        "span_splice": """
with s as (
  select doc_id,
         unnest(string_split(text, ' ')) as tok,
         generate_subscripts(string_split(text, ' '), 1) - 1 as pos
  from documents
)
select doc_id,
       string_agg(case when length(tok) % 3 = 0 then reverse(upper(tok)) else tok end,
                  '|' order by pos) as spliced
from s group by doc_id order by doc_id
""",
        # Caption-mining truth: same gap assignment via cumulative
        # media count, ordered list agg clipped to the same cap, same
        # longer-run-wins tie rule.
        "caption_mining": f"""
with s as (
  select doc_id,
         unnest(string_split(text, ' ')) as tok,
         generate_subscripts(string_split(text, ' '), 1) - 1 as pos
  from documents
), k as (
  select doc_id, pos, tok,
         case when length(tok) % 3 = 0 then 1 else 0 end as is_media,
         sum(case when length(tok) % 3 = 0 then 1 else 0 end)
           over (partition by doc_id order by pos
                 rows between unbounded preceding and current row) as m_cnt
  from s
), runs as (
  select doc_id, m_cnt,
         array_to_string((list(tok order by pos))
                         [1:{spans.CAPTION_MAX_TOKS}], ' ') as run_text,
         count(*) as run_toks
  from k where is_media = 0
  group by doc_id, m_cnt
), media as (
  select doc_id, pos as media_pos, tok as media_tok, m_cnt as mi
  from k where is_media = 1
), j as (
  select m.doc_id, m.media_pos, m.media_tok,
         coalesce(b.run_toks, 0) as bt, b.run_text as before_text,
         coalesce(a.run_toks, 0) as af, a.run_text as after_text
  from media m
  left join runs b on b.doc_id = m.doc_id and b.m_cnt = m.mi - 1
  left join runs a on a.doc_id = m.doc_id and a.m_cnt = m.mi
)
select doc_id, media_pos, media_tok,
       case when bt >= af then before_text else after_text end as caption,
       case when bt >= af then 'before' else 'after' end as side,
       cast(case when bt >= af then bt else af end as bigint) as run_toks
from j where bt > 0 or af > 0
order by doc_id, media_pos
""",
        "row_cluster": """
with boxes as (
  select event_id % 97 as page_id, event_id as box_id,
         (event_id * 37) % 499 as x, (event_id * 17) % 311 as y
  from events
), g as (
  select page_id, box_id, y,
         case when y - lag(y) over (partition by page_id order by y, box_id) >= 10
              then 1 else 0 end as new_row
  from boxes
)
select page_id, box_id, y,
       sum(new_row) over (partition by page_id order by y, box_id
                          rows between unbounded preceding and current row)::bigint as row_id
from g order by page_id, box_id
""",
        "reading_order_rank": """
with boxes as (
  select event_id % 97 as page_id, event_id as box_id,
         (event_id * 37) % 499 as x, (event_id * 17) % 311 as y
  from events
), g as (
  select page_id, box_id, x, y,
         case when y - lag(y) over (partition by page_id order by y, box_id) >= 10
              then 1 else 0 end as new_row
  from boxes
), c as (
  select page_id, box_id, x,
         sum(new_row) over (partition by page_id order by y, box_id
                            rows between unbounded preceding and current row) as row_id
  from g
)
select page_id, box_id,
       row_number() over (partition by page_id order by row_id, x, box_id) as reading_rank
from c order by page_id, box_id
""",
        "union_rbox_merge": """
with recursive b as (
  select event_id % 97 as page_id, event_id as box_id,
         (event_id * 37) % 499 as x, (event_id * 17) % 311 as y,
         20 + ((event_id % 97) % 5) * 8 as h
  from events
), s as (
  select page_id, box_id, x, y, h, y + h / 2.0 as cy,
         row_number() over (partition by page_id order by y, box_id) as rn
  from b
), rec as (
  select page_id, box_id, x, rn, cy, h, cy as anchor, 1 as grp
  from s where rn = 1
  union all
  select s.page_id, s.box_id, s.x, s.rn, s.cy, s.h,
         case when (s.cy - rec.anchor) / greatest(0.01, s.h / 2.0) > 0.1
              then s.cy else rec.anchor end as anchor,
         rec.grp + case when (s.cy - rec.anchor) / greatest(0.01, s.h / 2.0) > 0.1
                        then 1 else 0 end as grp
  from rec join s on s.page_id = rec.page_id and s.rn = rec.rn + 1
)
select page_id::int as page_id, grp::int as grp,
       string_agg(box_id::varchar, ' ' order by x, rn) as merged_ids,
       count(*)::int as n_boxes
from rec group by page_id, grp order by page_id, grp
""",
        "line_merge": """
with boxes as (
  select event_id % 97 as page_id, event_id as box_id,
         (event_id * 37) % 499 as x, (event_id * 17) % 311 as y
  from events
), g as (
  select page_id, box_id, x, y,
         case when y - lag(y) over (partition by page_id order by y, box_id) >= 10
              then 1 else 0 end as new_row
  from boxes
), c as (
  select page_id, box_id, x,
         sum(new_row) over (partition by page_id order by y, box_id
                            rows between unbounded preceding and current row)::bigint as row_id
  from g
)
select page_id, row_id,
       string_agg(box_id::varchar, ' ' order by x, box_id) as merged_ids,
       count(*) as n_boxes
from c group by page_id, row_id order by page_id, row_id
""",
        # -- normalizers --
        "norm_get_num": f"""
with inp as ({_NORM_INPUT_SQL})
select c_custkey, {get_num.format(col='s_num')} as num from inp order by c_custkey
""",
        "norm_get_title": f"""
with inp as ({_NORM_INPUT_SQL})
select c_custkey, replace(replace(s_title, ':', ''), '：', '') as title
from inp order by c_custkey
""",
        "norm_get_page": f"""
with inp as ({_NORM_INPUT_SQL}),
t as (select c_custkey, translate(s_page, '|Il', '111') as tr from inp)
select c_custkey,
  case when regexp_matches(tr, '第(.*)页/共(.*)页') then
    coalesce(nullif(regexp_extract(tr, '第(.*)页/共(.*)页', 1), ''), '1')
    || '/' ||
    coalesce(nullif(regexp_extract(tr, '第(.*)页/共(.*)页', 2), ''), '1')
  when len(regexp_extract_all(tr, '-?[0-9][0-9]*')) >= 2 then
    regexp_extract_all(tr, '-?[0-9][0-9]*')[1] || '/' ||
    regexp_extract_all(tr, '-?[0-9][0-9]*')[2]
  else '-1/-1' end as page
from t order by c_custkey
""",
        "norm_get_float": f"""
with inp as ({_NORM_INPUT_SQL}),
j as (select c_custkey, s_float,
        coalesce(list_aggregate(regexp_extract_all(s_float, '-?[0-9][0-9]*\\.*'),
                                'string_agg', ''), '') as joined
      from inp),
fx as (select c_custkey, s_float,
         case when joined like '-0%' and length(joined) > 2
                then '-8' || substr(joined, 3)
              when joined like '0%' and length(joined) > 1
                then '8' || substr(joined, 2)
              else joined end as fixed
       from j)
select c_custkey,
       case when s_float is null or s_float = '' or try_cast(fixed as double) is null
            then '¥ 0.00'
            else printf('¥ %.2f', try_cast(fixed as double)) end as amount
from fx order by c_custkey
""",
        "norm_get_amount": f"""
with inp as ({_NORM_INPUT_SQL})
select c_custkey, ({_duck_get_amount('s_amount')}) as amount
from inp order by c_custkey
""",
        "norm_invoice_type": """
select c_custkey,
  case c_custkey % 6
    when 0 then '32'
    when 1 then '31'
    when 2 then '01'
    when 3 then '10'
    when 4 then (case when c_custkey % 2 = 0 then '04' else '01' end)
    else ''
  end as invoice_type
from customer order by c_custkey
""",
        "norm_check_code": f"""
with inp as (
  select c_custkey,
         case when c_custkey % 5 = 0 then '验码' || (c_custkey % 100)::varchar
              else (c_custkey * 7 % 1000)::varchar end as c1,
         case when c_custkey % 4 = 0 then ''
              else (c_custkey * 3 % 1000)::varchar end as c2
  from customer
)
select c_custkey,
  case when c2 is null or c2 = '' then {get_num.format(col='c1')}
       when c1 is not null and position('验码' in c1) > 0 then {get_num.format(col='c1')}
       when position('验码' in c2) > 0 then {get_num.format(col='c2')}
       else greatest({get_num.format(col='c1')}, {get_num.format(col='c2')}) end as check_code
from inp order by c_custkey
""",
        "norm_get_date": """
select o_orderkey,
       strftime(o_orderdate, '%Y年%m月%d日') as billing_date
from orders order by o_orderkey
""",
        # the synthesized 大写 inputs are fully regular (万仟佰拾元角分 with
        # digit d(e) = e%9+1), so the expected parse is directly computable:
        # a true oracle for the stateful pandas-UDF scan.
        "norm_chinese_amount": """
select c_custkey,
       printf('¥ %.2f',
         (c_custkey % 9 + 1) * 10000 + ((c_custkey + 1) % 9 + 1) * 1000
         + ((c_custkey + 2) % 9 + 1) * 100 + ((c_custkey + 3) % 9 + 1) * 10
         + ((c_custkey + 4) % 9 + 1)
         + ((c_custkey + 5) % 9 + 1) * 0.1 + ((c_custkey + 6) % 9 + 1) * 0.01
       ) as amount
from customer order by c_custkey
""",
        "norm_reconcile": """
with c as (
  select c_custkey,
         substr(repeat('1234567890', 3), 1, (c_custkey % 4 + 10)::int) as c1,
         substr(repeat('1234567890', 3), 1, (c_custkey % 3 + 11)::int) as c2,
         substr(repeat('1234567890', 3), 1, (c_custkey % 3 + 7)::int) as n1,
         substr(repeat('1234567890', 3), 1, (c_custkey % 4 + 6)::int) as n2
  from customer
)
select c_custkey,
       case when c1 <> c2 and ((length(c1) <> 12 and length(c2) = 12)
                               or length(c1) < length(c2))
            then c2 else c1 end as invoice_code,
       case when n1 <> n2 and length(n1) <> 8
                 and (length(n2) = 8 or length(n2) > length(n1))
            then n2 else n1 end as invoice_number
from c order by c_custkey
""",
        "norm_get_tax": f"""
with inp as ({_NORM_AB_INPUT_SQL})
select c_custkey,
       coalesce(list_aggregate(regexp_extract_all(s_tax, '-?[0-9][0-9]*[a-zA-Z]*'),
                               'string_agg', ''), '') as tax
from inp order by c_custkey
""",
        "norm_addr_bank": f"""
with inp as ({_NORM_AB_INPUT_SQL}),
p as (select c_custkey, s_addr, s_bank,
        regexp_replace(translate(s_addr, ':：', ''), '[0-9-]+$', '') as pre_a,
        regexp_replace(translate(s_bank, ':：', ''), '[0-9-]+$', '') as pre_b
      from inp)
select c_custkey,
       case when length(pre_a) > 0
            then pre_a || ' ' || substr(s_addr, length(pre_a) + 1)
            else s_addr end as addr_split,
       case when length(pre_b) > 0
            then pre_b || ' ' || substr(s_bank, length(pre_b) + 1)
            else s_bank end as bank_split
from p order by c_custkey
""",
        "norm_extract_addr": f"""
with inp as ({_NORM_AB_INPUT_SQL}),
s1 as (select c_custkey,
         regexp_replace(s_addr, '^\\s*(地址|单位地址|购方地址|销方地址|地址、电话)[:：]?\\s*', '') as s
       from inp),
s2 as (select c_custkey, regexp_replace(s, '(电话|开户行|账号|银行|Bank).*', '') as s from s1),
s3 as (select c_custkey, regexp_replace(s, '{_SALAD_RE2}', '', 'g') as s from s2),
s4 as (select c_custkey, regexp_replace(s, '[，,;；]+', '，', 'g') as s from s3),
s5 as (select c_custkey, regexp_replace(s, '\\s+', ' ', 'g') as s from s4)
select c_custkey,
       regexp_replace(s, '^[ ，;；]+|[ ，;；]+$', '', 'g') as addr
from s5 order by c_custkey
""",
        "norm_extract_bank": f"""
with inp as ({_NORM_AB_INPUT_SQL}),
s1 as (select c_custkey,
         regexp_replace(s_bank, '^\\s*(开户行及账号|开户行|账号|银行)[:：]?\\s*', '') as s
       from inp),
s2 as (select c_custkey, regexp_replace(s, '{_SALAD_RE2}', '', 'g') as s from s1),
s3 as (select c_custkey, regexp_replace(s, '[，,;；]+', '，', 'g') as s from s2),
s4 as (select c_custkey,
         regexp_replace(regexp_replace(s, '\\s+', ' ', 'g'),
                        '^[ ，;；]+|[ ，;；]+$', '', 'g') as s
       from s3),
p as (select c_custkey, s,
        coalesce(list_aggregate(regexp_extract_all(s, '[0-9]'), 'string_agg', ''), '') as account,
        regexp_replace(regexp_replace(s, '[0-9].*', ''), '^[ ,;]+|[ ,;]+$', '', 'g') as name_part
      from s4)
select c_custkey,
       case when account <> '' and name_part <> '' then name_part || ' ' || account
            when account <> '' then account
            else trim(s) end as bank
from p order by c_custkey
""",
        "embedding_near_dup": f"""
with b as (
  select vec_id, embedding, {_ANN_BUCKET_COLS} from embeddings
)
select a.vec_id as vec_a, e.vec_id as vec_b,
       round(list_dot_product(a.embedding::double[], e.embedding::double[]) /
             (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
              sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))), 4) as cos
from b a join b e on ({_ANN_SAME_BUCKET_ANY('a', 'e')}) and a.vec_id < e.vec_id
where round(list_dot_product(a.embedding::double[], e.embedding::double[]) /
            (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
             sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))), 4) >= 0.4
order by vec_a, vec_b
""",
        # -- QR parse --
        "qr_payload_parse": """
with qr as (
  select o_orderkey,
         '01,' ||
         (case when o_orderkey % 3 = 0 then '31'
               when o_orderkey % 3 = 1 then '32' else '04' end) || ',' ||
         lpad((o_orderkey % 1000000000000)::varchar, 12, '0') || ',' ||
         lpad((o_custkey % 100000000)::varchar, 8, '0') || ',' ||
         printf('%.2f', round(o_totalprice, 2)) || ',' ||
         strftime(o_orderdate, '%Y%m%d') || ',' ||
         (o_orderkey % 100000)::varchar as payload
  from orders
), p as (
  select o_orderkey, string_split(payload, ',') as parts from qr
)
select o_orderkey,
       parts[2] as invoice_type,
       parts[3] as invoice_code,
       parts[4] as invoice_number,
       case when parts[2] in ('31','32')
            then printf('¥ %.2f', try_cast(parts[5] as double)) else '¥ 0.00' end as amount_with_tax,
       case when parts[2] not in ('31','32')
            then printf('¥ %.2f', try_cast(parts[5] as double)) else '¥ 0.00' end as total_amount,
       strftime(strptime(parts[6], '%Y%m%d'), '%Y年%m月%d日') as billing_date,
       case when parts[2] in ('04','10') then parts[7] else '' end as check_code
from p order by o_orderkey
""",
        # -- dedup --
        "dedup_exact": """
select doc_id, md5(text) as digest,
       row_number() over (partition by md5(text) order by doc_id) as dup_rank,
       count(*) over (partition by md5(text)) as group_size
from documents order by doc_id
""",
        "minhash_signatures": _MINHASH_ORACLE,
        "dedup_sketch_eval": _SKETCH_EVAL_ORACLE,
        "lsh_param_sweep": _SWEEP_ORACLE,
        "lsh_near_dup": _LSH_ORACLE,
        "stream_near_dup_gate": _STREAM_GATE_ORACLE,
        "edit_distance_near_dup": _EDIT_ORACLE,
        "incremental_near_dup": _INCR_LSH_ORACLE,
        # connected components as a recursive reachability closure over
        # the SAME verified-pair SQL; min over reachable = component min.
        "near_dup_clusters": f"""
with recursive lsh as ({_LSH_ORACLE}),
edges as (
  select doc_a as a, doc_b as b from lsh
  union
  select doc_b, doc_a from lsh
),
walk(id, r) as (
  select doc_id, doc_id from documents
  union
  select w.id, e.b from walk w join edges e on e.a = w.r
),
lab as (select id as doc_id, min(r) as cluster_id from walk group by id)
select doc_id, cluster_id,
       count(*) over (partition by cluster_id) as cluster_size,
       (doc_id = cluster_id)::int as is_survivor
from lab
order by doc_id
""",
        "simhash64": _simhash_oracle(),
        # Manku banding over the same signature SQL.  DuckDB's decimal
        # `//` ROUNDS the quotient before flooring (observed: a band off
        # by one near a boundary), so the 32-bit halves are extracted
        # with exact subtract-then-divide on the decimal and all band
        # math happens on bigints, where // is true integer division.
        "simhash_near_dup": f"""
with s as ({_simhash_oracle()}),
d as (select doc_id, simhash::decimal(38,0) as sim from s),
hh as (
  select doc_id,
         ((sim - (sim % 4294967296)) / 4294967296)::bigint as hi,
         (sim % 4294967296)::bigint as lo
  from d
),
bands as (
  select doc_id, 0 as b, lo % 65536 as v from hh
  union all select doc_id, 1, lo // 65536 from hh
  union all select doc_id, 2, hi % 65536 from hh
  union all select doc_id, 3, hi // 65536 from hh
),
cand as (
  select distinct a.doc_id as doc_a, c.doc_id as doc_b
  from bands a join bands c
    on a.b = c.b and a.v = c.v and a.doc_id < c.doc_id
)
select c.doc_a, c.doc_b,
       (bit_count(xor(ha.hi, hb.hi))
        + bit_count(xor(ha.lo, hb.lo))) as hamming
from cand c
join hh ha on ha.doc_id = c.doc_a
join hh hb on hb.doc_id = c.doc_b
where bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo))
      <= {dedup.SIMHASH_HAM_T}
order by doc_a, doc_b
""",
        "ngram_jaccard_pairs": f"""
with d as (
  select doc_id, lang, (n_chars / 100)::int as bucket, {_SHINGLES} as sh
  from documents
)
select a.doc_id as doc_a, b.doc_id as doc_b,
       round(len(list_intersect(a.sh, b.sh))::double
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) as jaccard
from d a join d b
  on a.lang = b.lang and a.bucket = b.bucket and a.doc_id < b.doc_id
where round(len(list_intersect(a.sh, b.sh))::double
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.2
order by doc_a, doc_b
""",
        # inverted-index exact Jaccard: postings self-join on the shingle,
        # shared-count c, denominator |A|+|B|-c — complete for tau > 0.
        "ngram_jaccard_all_pairs": f"""
with d as (
  select doc_id, {_SHINGLES} as sh from documents
),
p as (select doc_id, len(sh) as n, unnest(sh) as s from d),
shared as (
  select a.doc_id as doc_a, b.doc_id as doc_b,
         a.n as na, b.n as nb, count(*) as c
  from p a join p b on a.s = b.s and a.doc_id < b.doc_id
  group by 1, 2, 3, 4
)
select doc_a, doc_b,
       round(c::double / (na + nb - c), 6) as jaccard
from shared
where round(c::double / (na + nb - c), 6) >= 0.2
order by doc_a, doc_b
""",
        # strided window hashing (Lee et al. substring-dedup stand-in);
        # Spark sequence(1, L-39, 10) == DuckDB range(1, L-38, 10)
        # (inclusive vs exclusive stop).
        "suffix_array_ranks": f"""
with s0 as (
  select doc_id, text, unnest(generate_series(1, length(text))) as p
  from documents where doc_id % {dedup.SA_SLICE_MOD} = 0
),
s as (select doc_id, p, substring(text, p) as suf from s0)
select cast(row_number() over (order by suf, doc_id, p) as bigint)
         as sa_rank,
       doc_id, cast(p as int) as pos
from s order by sa_rank
""",
        "exact_substring_spans": f"""
with p0 as (
  select doc_id, text, length(text) as n,
         unnest(generate_series(1, length(text) - {dedup.EXACT_SUBSTR_L - 1}))
           as p
  from documents where length(text) >= {dedup.EXACT_SUBSTR_L}
),
pos as (
  select doc_id, p, substring(text, p, {dedup.EXACT_SUBSTR_L}) as g from p0
),
dup as (select g from pos group by g having min(doc_id) <> max(doc_id)),
m as (select doc_id, p from pos where g in (select g from dup)),
isl as (
  select doc_id, p,
    case when p > coalesce(max(p) over (partition by doc_id order by p
          rows between unbounded preceding and 1 preceding), -1073741824)
          + {dedup.EXACT_SUBSTR_L} then 1 else 0 end as nw
  from m
),
grp as (
  select doc_id, p,
         sum(nw) over (partition by doc_id order by p
           rows between unbounded preceding and current row) as grp
  from isl
),
spans as (
  select doc_id, grp, min(p) as s, max(p) + {dedup.EXACT_SUBSTR_L} as e
  from grp group by doc_id, grp
),
per_doc as (
  select doc_id, count(*) as n_spans, sum(e - s) as dup_chars
  from spans group by doc_id
)
select d.doc_id, cast(length(d.text) as bigint) as n_chars,
       cast(coalesce(p.n_spans, 0) as bigint) as n_spans,
       cast(coalesce(p.dup_chars, 0) as bigint) as dup_chars,
       round(coalesce(p.dup_chars, 0) / length(d.text), 6) as dup_frac
from documents d left join per_doc p using (doc_id) order by doc_id
""",
        "exact_substring_excision": f"""
with p0 as (
  select doc_id, text, length(text) as n,
         unnest(generate_series(1, length(text) - {dedup.EXACT_SUBSTR_L - 1}))
           as p
  from documents where length(text) >= {dedup.EXACT_SUBSTR_L}
),
pos as (
  select doc_id, p, substring(text, p, {dedup.EXACT_SUBSTR_L}) as g from p0
),
dup as (select g from pos group by g having min(doc_id) <> max(doc_id)),
m as (select doc_id, p from pos where g in (select g from dup)),
isl as (
  select doc_id, p,
    case when p > coalesce(max(p) over (partition by doc_id order by p
          rows between unbounded preceding and 1 preceding), -1073741824)
          + {dedup.EXACT_SUBSTR_L} then 1 else 0 end as nw
  from m
),
grp as (
  select doc_id, p,
         sum(nw) over (partition by doc_id order by p
           rows between unbounded preceding and current row) as grp
  from isl
),
cuts as (
  select doc_id, grp, min(p) as s, max(p) + {dedup.EXACT_SUBSTR_L} as e
  from grp group by doc_id, grp
),
gaps as (
  select doc_id,
         coalesce(lag(e) over (partition by doc_id order by s), 1) as gs,
         s as ge
  from cuts
  union all
  select doc_id, max(e) as gs, null as ge from cuts group by doc_id
),
built as (
  select g.doc_id,
         string_agg(substring(d.text, g.gs,
             coalesce(g.ge, length(d.text) + 1) - g.gs),
           '' order by g.gs) as cleaned,
         count(*) - 1 as n_cuts
  from gaps g join documents d using (doc_id) group by g.doc_id
)
select d.doc_id, cast(length(d.text) as bigint) as n_chars,
       cast(coalesce(b.n_cuts, 0) as bigint) as n_cuts,
       cast(length(coalesce(b.cleaned, d.text)) as bigint) as kept_chars,
       cast(length(d.text) - length(coalesce(b.cleaned, d.text)) as bigint)
         as cut_chars,
       md5(coalesce(b.cleaned, d.text)) as cleaned_md5
from documents d left join built b using (doc_id) order by d.doc_id
""",
        "duplicate_substring_spans": f"""
with wins as (
  select doc_id, unnest(range(1, length(text) - {dedup.SUBSTR_W - 2},
                              {dedup.SUBSTR_STRIDE})) as pos, text
  from documents where length(text) >= {dedup.SUBSTR_W}
),
wh as (
  select doc_id, pos, md5(substr(text, pos, {dedup.SUBSTR_W})) as h
  from wins
),
dup as (select h from wh group by h having min(doc_id) <> max(doc_id)),
per as (
  select doc_id, count(*) as n_dup_windows,
         min(pos) as first_dup_pos, max(pos) as last_dup_pos
  from wh where h in (select h from dup) group by doc_id
),
tot as (select doc_id, count(*) as n_windows from wh group by doc_id)
select d.doc_id,
       coalesce(t.n_windows, 0) as n_windows,
       coalesce(p.n_dup_windows, 0) as n_dup_windows,
       round(coalesce(p.n_dup_windows, 0)::double
             / greatest(coalesce(t.n_windows, 0), 1), 4) as dup_frac,
       coalesce(p.first_dup_pos, 0) as first_dup_pos,
       coalesce(p.last_dup_pos, 0) as last_dup_pos
from documents d
left join tot t using (doc_id)
left join per p using (doc_id)
order by d.doc_id
""",
        # Chi2 truth: same presence marginals, integer milli chi2 (the
        # scalar n is a cross-joined 1-row CTE, not a Python literal).
        "chi2_feature_selection": f"""
with pres as (
  select lang, unnest(list_distinct(string_split(text, ' '))) as term
  from documents
), a_tab as (
  select lang, term, count(*) as a from pres group by 1, 2
), tw as (select term, count(*) as tw from pres group by 1),
gd as (select lang, count(*) as gd from documents group by 1),
nn as (select count(*) as n from documents),
cells as (
  select gd.lang, tw.term, coalesce(a, 0) as a,
         tw - coalesce(a, 0) as b, gd - coalesce(a, 0) as c,
         n - gd - (tw - coalesce(a, 0)) as d
  from tw cross join gd
  left join a_tab on a_tab.lang = gd.lang and a_tab.term = tw.term
  cross join nn
), chi2 as (
  select lang, term, cast(a as bigint) as df_in_class,
         cast(case when (a+b) * (c+d) * (a+c) * (b+d) = 0 then 0 else
              (2 * (select n from nn) * (a*d - b*c)::hugeint
               * (a*d - b*c) * 1000 + (a+b) * (c+d) * (a+c) * (b+d))
              // (2 * (a+b)::hugeint * (c+d) * (a+c) * (b+d)) end
              as bigint) as chi2_milli
  from cells
), ranked as (
  select lang, term, df_in_class, chi2_milli,
         row_number() over (partition by lang
                            order by chi2_milli desc, term) as rank
  from chi2
)
select lang, cast(rank as int) as rank, term, df_in_class, chi2_milli
from ranked where rank <= {text_analysis.CHI2_TOP_K}
order by lang, rank
""",
        # Good-Turing truth: same bigram spectrum, spectrum self-join,
        # half-away (r+1) N_(r+1) / N_r ppm with the N_(r+1)=0 -> 0 rule.
        "good_turing_bigrams": """
with toks as (
  select string_split(text, ' ') as t from documents
), grams as (
  select t[i] || ' ' || t[i + 1] as gram
  from (select t, unnest(generate_series(1, len(t) - 1)) as i
        from toks where len(t) >= 2)
), counts as (
  select gram, count(*) as r from grams group by 1
), nr as (
  select r, count(*) as n_r from counts group by 1
)
select a.r, cast(a.n_r as bigint) as n_r,
       cast(coalesce(b.n_r, 0) as bigint) as n_r1,
       cast(case when coalesce(b.n_r, 0) = 0 then 0 else
            (2 * (a.r + 1)::hugeint * b.n_r * 1000000 + a.n_r)
            // (2 * a.n_r) end as bigint) as r_star_ppm
from nr a left join nr b on b.r = a.r + 1
order by a.r
""",
        # TextTiling truth: same block counts, array-side gap fan-out,
        # integer cos^2 ppb, lag/lead depth, fixed LC cutoff.
        "texttiling_segments": f"""
with tok as (
  select doc_id,
         generate_subscripts(string_split(text, ' '), 1) - 1 as pos,
         unnest(string_split(text, ' ')) as term
  from documents
), blk as (
  select doc_id, pos // {text_analysis.TS_BLOCK} as b, term,
         count(*) as cnt
  from tok group by 1, 2, 3
), nbk as (select doc_id, max(b) + 1 as nblk from blk group by 1),
lft as (
  select doc_id, unnest(generate_series(b + 1, b + {text_analysis.TS_WIN}))
           as g, term, cnt from blk
), rgt as (
  select doc_id, unnest(generate_series(b - {text_analysis.TS_WIN} + 1, b))
           as g, term, cnt from blk
), lv as (select doc_id, g, term, sum(cnt) as lc from lft group by 1, 2, 3),
rv as (select doc_id, g, term, sum(cnt) as rc from rgt group by 1, 2, 3),
valid as (
  select doc_id,
         unnest(generate_series({text_analysis.TS_WIN},
                                nblk - {text_analysis.TS_WIN})) as g
  from nbk where nblk >= {2 * text_analysis.TS_WIN}
), na as (select doc_id, g, sum(lc * lc) as na from lv group by 1, 2),
nbb as (select doc_id, g, sum(rc * rc) as nb from rv group by 1, 2),
dt as (
  select lv.doc_id, lv.g, sum(lc * rc) as dot
  from lv join rv on lv.doc_id = rv.doc_id and lv.g = rv.g
                 and lv.term = rv.term
  group by 1, 2
), c as (
  select v.doc_id, v.g,
         cast((2 * coalesce(dot, 0) * coalesce(dot, 0) * 1000000000
               + na.na * nbb.nb) // (2 * na.na * nbb.nb) as bigint)
           as cos2_ppb
  from valid v
  join na on v.doc_id = na.doc_id and v.g = na.g
  join nbb on v.doc_id = nbb.doc_id and v.g = nbb.g
  left join dt on v.doc_id = dt.doc_id and v.g = dt.g
), dep as (
  select doc_id, g, cos2_ppb,
         (coalesce(lag(cos2_ppb) over w, cos2_ppb) - cos2_ppb)
         + (coalesce(lead(cos2_ppb) over w, cos2_ppb) - cos2_ppb)
           as depth_ppb
  from c window w as (partition by doc_id order by g)
)
select doc_id, cast(g as int) as gap, cos2_ppb,
       cast(depth_ppb as bigint) as depth_ppb,
       case when depth_ppb >= {text_analysis.TS_CUT_PPB} then 1 else 0 end
         as is_boundary
from dep order by doc_id, gap
""",
        # RAKE truth: same generated stoplist (freq desc, token asc
        # limit N), per-doc is_stop cumsum segmentation via
        # generate_subscripts positions, half-away word ppm, (score
        # desc, phrase) top-K per doc.
        "rake_keywords": f"""
with tok as (
  select doc_id,
         generate_subscripts(regexp_extract_all(lower(text),
           '[a-z0-9]+|[^a-z0-9 ]+'), 1) as pos,
         unnest(regexp_extract_all(lower(text),
           '[a-z0-9]+|[^a-z0-9 ]+')) as tok
  from documents
), gen_stop as (
  select tok from (
    select tok, count(*) as freq from tok
    where regexp_full_match(tok, '[a-z0-9]+') group by 1
    order by freq desc, tok limit {text_analysis.RAKE_STOP_N})
), flagged as (
  select t.doc_id, t.pos, t.tok,
         (g.tok is not null
          or not regexp_full_match(t.tok, '[a-z0-9]+')
          or t.tok in ({",".join(
              "'" + w + "'" for w in text_analysis.STOPWORDS["en"])}))
           as is_stop
  from tok t left join gen_stop g on t.tok = g.tok
), seg as (
  select doc_id, pos, tok, is_stop,
         sum(case when is_stop then 1 else 0 end)
           over (partition by doc_id order by pos) as seg_id
  from flagged
), phr0 as (
  select doc_id, seg_id, list(tok order by pos) as words
  from seg where not is_stop group by 1, 2
), phr as (
  select doc_id, words from phr0
  where len(words) between 1 and {text_analysis.RAKE_MAX_PHRASE}
), occ as (
  select doc_id, len(words) as plen, unnest(words) as w from phr
), ws as (
  select doc_id, w,
         cast((2 * sum(plen)::hugeint * 1000000 + count(*))
              // (2 * count(*)) as bigint) as w_ppm
  from occ group by 1, 2
), cand as (
  select distinct doc_id, array_to_string(words, ' ') as phrase, words
  from phr
), candw as (
  select doc_id, phrase, len(words) as n_words, unnest(words) as w
  from cand
), scored as (
  select c.doc_id, c.phrase, c.n_words,
         cast(sum(ws.w_ppm) as bigint) as score_ppm
  from candw c join ws on c.doc_id = ws.doc_id and c.w = ws.w
  group by 1, 2, 3
), ranked as (
  select doc_id, phrase, n_words, score_ppm,
         row_number() over (partition by doc_id
                            order by score_ppm desc, phrase) as rank
  from scored
)
select doc_id, cast(rank as int) as rank, phrase,
       cast(n_words as int) as n_words, score_ppm
from ranked where rank <= {text_analysis.RAKE_TOP_K}
order by doc_id, rank
""",
        "tfidf_top_terms": f"""
with t as (
  select doc_id, unnest(string_split(lower(text), ' ')) as term
  from documents
),
tf as (select doc_id, term, count(*) as tf from t group by 1, 2),
n as (select count(*) as nd from documents),
dfx as (select term, count(*) as df from tf group by term),
scored as (
  select tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln((n.nd + 1.0) / (dfx.df + 1.0)), 4) as score
  from tf join dfx using (term) cross join n
),
r as (
  select *, row_number() over (partition by doc_id
                               order by score desc, term) as rank
  from scored
)
select doc_id, rank, term, tf, score
from r where rank <= {text_analysis.TFIDF_K}
order by doc_id, rank
""",
        # -- similarity --
        # Rocchio truth: same integer micros, integer dot/norms cast to
        # double once (bit-identical cross-engine), same sign-decomposed
        # q' downscale, naive rank windows on the DuckDB side.
        "rocchio_feedback": f"""
with emb as (
  select vec_id, list_transform(embedding,
    x -> cast(round(cast(x as double) * 1000000) as bigint)) as e
  from embeddings
), q as (select e as q from emb where vec_id = 0),
cand as (
  select m.vec_id, m.e,
    round(
      cast(list_sum(list_transform(generate_series(1, len(m.e)),
                    i -> m.e[i] * q.q[i])) as double)
      / (sqrt(cast(list_sum(list_transform(m.e, x -> x * x)) as double))
       * sqrt(cast(list_sum(list_transform(q.q, x -> x * x))
              as double))), 4) as cos_old
  from emb m, q where m.vec_id <> 0
), ranked as (
  select *, cast(row_number() over (order by cos_old desc, vec_id)
                 as bigint) as old_rank
  from cand
), fbrows as (
  select old_rank <= {similarity.ROCCHIO_R} as rel, e from ranked
  where old_rank <= {similarity.ROCCHIO_R}
     or old_rank between {similarity.ROCCHIO_NR_LO}
                     and {similarity.ROCCHIO_NR_HI}
), dims as (
  select unnest(generate_series(1, (select len(q) from q))) as d
), sums as (
  select d,
    sum(case when rel then e[d] else 0 end) as sr,
    sum(case when not rel then e[d] else 0 end) as snr
  from fbrows cross join dims group by d
), q2v as (
  select s.d,
    {similarity.ROCCHIO_ALPHA_C * similarity.ROCCHIO_R
     * (similarity.ROCCHIO_NR_HI - similarity.ROCCHIO_NR_LO + 1)}
      * (select q[s.d] from q)
    + {similarity.ROCCHIO_BETA_C
       * (similarity.ROCCHIO_NR_HI - similarity.ROCCHIO_NR_LO + 1)} * s.sr
    - {similarity.ROCCHIO_GAMMA_C * similarity.ROCCHIO_R} * s.snr as v
  from sums s
), q2l as (
  select list((case when v < 0 then -1 else 1 end) * (abs(v) // 10000)
              order by d) as q2
  from q2v
), rescored as (
  select r.vec_id, r.old_rank, r.cos_old,
    round(
      cast(list_sum(list_transform(generate_series(1, len(r.e)),
                    i -> r.e[i] * q2l.q2[i])) as double)
      / (sqrt(cast(list_sum(list_transform(r.e, x -> x * x)) as double))
       * sqrt(cast(list_sum(list_transform(q2l.q2, x -> x * x))
              as double))), 4) as cos_new
  from ranked r, q2l
), final as (
  select vec_id, old_rank,
    cast(row_number() over (order by cos_new desc, vec_id) as bigint)
      as new_rank,
    cos_old, cos_new
  from rescored
)
select vec_id, old_rank, new_rank, cos_old, cos_new
from final where new_rank <= {similarity.ROCCHIO_OUT} order by new_rank
""",
        # nDCG truth: same round-4 cosine, circular label relevance,
        # (1<<rel)-1 gains, identical ppb discount literals.
        "ndcg_eval": f"""
with q as (
  select vec_id as qid, label as qlabel, embedding as q from embeddings
  where vec_id < {similarity.NDCG_NQ}
), cands as (
  select q.qid, e.vec_id, {_DUCK_COS} as cos,
         greatest(0, 3 - least((e.label - q.qlabel + 10) % 10,
                               (q.qlabel - e.label + 10) % 10)) as rel
  from embeddings e, q where e.vec_id <> q.qid
), ranked as (
  select qid, rel,
         row_number() over (partition by qid
                            order by cos desc, vec_id) as p_cos,
         row_number() over (partition by qid
                            order by rel desc, vec_id) as p_rel
  from cands
), disc(p, d) as (
  values {", ".join(f"({i + 1}, {v})"
                    for i, v in enumerate(similarity.NDCG_DISC_PPB))}
), dcg as (
  select qid, sum(((1::bigint << rel) - 1) * d) as dcg_ppb
  from ranked join disc on p_cos = p group by 1
), idcg as (
  select qid, sum(((1::bigint << rel) - 1) * d) as idcg_ppb
  from ranked join disc on p_rel = p group by 1
)
select dcg.qid, cast(dcg_ppb as bigint) as dcg_ppb,
       cast(idcg_ppb as bigint) as idcg_ppb,
       cast(case when idcg_ppb = 0 then 0 else
            (2 * dcg_ppb::hugeint * 1000000 + idcg_ppb)
            // (2 * idcg_ppb) end as bigint) as ndcg_ppm
from dcg join idcg on dcg.qid = idcg.qid
order by dcg.qid
""",
        # MRR@K truth: same round-4 cosine, exact-label relevance, and
        # the identical integer half-away reciprocal.
        "mrr_eval": f"""
with q as (
  select vec_id as qid, label as qlabel, embedding as q from embeddings
  where vec_id < {similarity.NDCG_NQ}
), cands as (
  select q.qid, e.vec_id, {_DUCK_COS} as cos,
         e.label = q.qlabel as relevant
  from embeddings e, q where e.vec_id <> q.qid
), ranked as (
  select qid, relevant,
         row_number() over (partition by qid
                            order by cos desc, vec_id) as p_cos
  from cands
), hits as (
  select qid, min(p_cos) as first_rel_pos
  from ranked where p_cos <= {similarity.MRR_K} and relevant group by 1
)
select q.qid,
       cast(coalesce(h.first_rel_pos, 0) as bigint) as first_rel_pos,
       cast(case when coalesce(h.first_rel_pos, 0) = 0 then 0 else
            (2 * 1000000 + h.first_rel_pos) // (2 * h.first_rel_pos)
            end as bigint) as rr_ppm
from q left join hits h on q.qid = h.qid
order by q.qid
""",
        # MAP@K truth: same ranking, running relevant count, and the
        # LCM-2520 common-denominator precision sum.
        "map_eval": f"""
with q as (
  select vec_id as qid, label as qlabel, embedding as q from embeddings
  where vec_id < {similarity.NDCG_NQ}
), cands as (
  select q.qid, e.vec_id, {_DUCK_COS} as cos,
         e.label = q.qlabel as relevant
  from embeddings e, q where e.vec_id <> q.qid
), ranked as (
  select qid, relevant,
         row_number() over (partition by qid
                            order by cos desc, vec_id) as p_cos
  from cands
), run as (
  select qid, relevant, p_cos,
         sum(case when relevant then 1 else 0 end) over (
           partition by qid order by p_cos
           rows between unbounded preceding and current row) as relcnt
  from ranked
), agg as (
  select qid,
         sum(case when p_cos <= {similarity.MRR_K} and relevant
             then relcnt * ({similarity.MAP_LCM} // p_cos)
             else 0 end) as s,
         sum(case when relevant then 1 else 0 end) as n_rel
  from run group by 1
)
select qid, cast(n_rel as bigint) as n_rel,
       cast(case when least(n_rel, {similarity.MRR_K}) = 0 then 0 else
            (2 * 1000000::bigint * s
             + {similarity.MAP_LCM} * least(n_rel, {similarity.MRR_K}))
            // (2 * {similarity.MAP_LCM} * least(n_rel, {similarity.MRR_K}))
            end as bigint) as ap_ppm
from agg order by qid
""",
        "ann_brute_topk": f"""
select e.vec_id, e.label, {_DUCK_COS} as cos
from embeddings e, (select embedding as q from embeddings where vec_id = 0) q
where e.vec_id <> 0
order by cos desc, e.vec_id limit {similarity.TOP_K}
""",
        "ann_lsh_topk": f"""
with b as (
  select vec_id, label, embedding, {_ANN_BUCKET_COLS} from embeddings
), q as (
  select embedding as q, {', '.join(f'b{t}' for t in range(similarity.DEFAULT_TABLES))}
  from b where vec_id = 0
)
select e.vec_id, e.label, {_DUCK_COS} as cos
from b e join q on ({_ANN_SAME_BUCKET_ANY('e', 'q')})
where e.vec_id <> 0
order by cos desc, e.vec_id limit {similarity.TOP_K}
""",
        "ann_filtered_topk": f"""
with scored as (
  select e.label, e.vec_id, {_DUCK_COS} as cos
  from embeddings e,
       (select embedding as q from embeddings where vec_id = 0) q
  where e.vec_id <> 0
)
select label, cast(row_number() over (partition by label
                                      order by cos desc, vec_id) as int)
         as rnk,
       vec_id, cos
from scored
qualify rnk <= {similarity.TOP_K}
order by label, rnk
""",
        "ann_ivf_topk": f"""
with a as (
  select vec_id as aid, embedding as avec,
         list_dot_product(embedding::double[], embedding::double[]) as aa
  from embeddings where vec_id < {similarity.DEFAULT_ANCHORS}
), v as (
  select vec_id, label, embedding,
         list_dot_product(embedding::double[], embedding::double[]) as xx
  from embeddings
), dist as (
  select v.vec_id, v.label, v.embedding, a.aid,
         round(v.xx
               - 2 * list_dot_product(v.embedding::double[], a.avec::double[])
               + a.aa, 6) as d
  from v cross join a
), assign as (
  select vec_id, label, embedding, aid as list_id from dist
  qualify row_number() over (partition by vec_id order by d, aid) = 1
), probes as (
  select aid from dist where vec_id = 0
  qualify row_number() over (order by d, aid) <= {similarity.DEFAULT_PROBE}
)
select e.vec_id, e.label, {_DUCK_COS} as cos
from assign e, (select embedding as q from embeddings where vec_id = 0) q
where e.vec_id <> 0 and e.list_id in (select aid from probes)
order by cos desc, e.vec_id limit {similarity.TOP_K}
""",
        # ANN recall truth: both cuts from ONE scored relation (same
        # 4-dp cosine, same (cos desc, vec_id) tie) — recall isolates
        # probe-set coverage exactly as the Spark side does.
        "ann_recall_eval": f"""
with a as (
  select vec_id as aid, embedding as avec,
         list_dot_product(embedding::double[], embedding::double[]) as aa
  from embeddings where vec_id < {similarity.DEFAULT_ANCHORS}
), v as (
  select vec_id, embedding,
         list_dot_product(embedding::double[], embedding::double[]) as xx
  from embeddings
), dist as (
  select v.vec_id, v.embedding, v.xx, a.aid,
         round(v.xx
               - 2 * list_dot_product(v.embedding::double[], a.avec::double[])
               + a.aa, 6) as d
  from v cross join a
), assign as (
  select vec_id, embedding, xx, aid as list_id from dist
  qualify row_number() over (partition by vec_id order by d, aid) = 1
), qpanel as (
  select vec_id as qid, embedding as qv, xx as qxx from v
  where vec_id % {similarity.QUERY_PANEL_MOD} = 0
), probes as (
  select vec_id as qid, aid from dist
  where vec_id % {similarity.QUERY_PANEL_MOD} = 0
  qualify row_number() over (partition by vec_id order by d, aid)
    <= {similarity.DEFAULT_PROBE}
), scored as (
  select q.qid, e.vec_id, e.list_id,
         round(list_dot_product(e.embedding::double[], q.qv::double[]) /
               (sqrt(e.xx) * sqrt(q.qxx)), 4) as cos
  from assign e join qpanel q on e.vec_id <> q.qid
), truth as (
  select qid, vec_id from scored
  qualify row_number() over (partition by qid order by cos desc, vec_id)
    <= {similarity.TOP_K}
), cand as (
  select s.qid, s.vec_id, s.cos
  from scored s join probes p on s.qid = p.qid and s.list_id = p.aid
), ivf as (
  select qid, vec_id from cand
  qualify row_number() over (partition by qid order by cos desc, vec_id)
    <= {similarity.TOP_K}
), hit as (
  select t.qid, count(*) as n_hit
  from truth t join ivf i on t.qid = i.qid and t.vec_id = i.vec_id
  group by t.qid
)
select q.qid, {similarity.TOP_K} as k,
       cast(coalesce(h.n_hit, 0) as bigint) as n_hit,
       (cast(coalesce(h.n_hit, 0) as bigint) * 1000000)
         // {similarity.TOP_K} as recall_ppm
from qpanel q left join hit h on q.qid = h.qid
order by q.qid
""",
        # -- text analysis --
        "token_stats": r"""
select doc_id,
       len(string_split(text, ' ')) as ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) as bpe_ish_tokens,
       length(text) as chars,
       round(length(text)::double / greatest(len(string_split(text, ' ')), 1), 4) as avg_token_len
from documents order by doc_id
""",
        # Flesch truth: same regex counts, same single-trunc milli terms.
        "flesch_readability": f"""
with c as (
  select doc_id,
         greatest(len(regexp_extract_all(lower(text), '[a-z]+')), 1)
           ::bigint as w,
         greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
           ::bigint as s,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))::bigint as y
  from documents
), m as (
  select doc_id, w as n_words, s as n_sentences, y as n_syllable_groups,
         206835 - (1015 * w) // s - (84600 * y) // w as fre_milli,
         (390 * w) // s + (11800 * y) // w - 15590 as fk_grade_milli
  from c
)
select *,
       case when fre_milli >= {text_analysis.FRE_EASY_MILLI} then 'easy'
            when fre_milli >= {text_analysis.FRE_STANDARD_MILLI}
              then 'standard'
            else 'difficult' end as band
from m order by doc_id
""",
        # Zipf truth: identical bit-length logs (length(bin(x))-1 in
        # both engines), HUGEINT normal equations (decimal(38,0) on the
        # Spark side), trunc-div millis (hugeint // truncs toward zero,
        # matching the sign-decomposed Spark div), one terminal round-6.
        "zipf_fit": """
with uni as (
  select word, count(*)::BIGINT as cnt
  from (select unnest(string_split(lower(text), ' ')) as word
        from documents)
  where word <> ''
  group by word
), ranked as (
  select row_number() over (order by cnt desc, word asc) as rnk, cnt
  from uni
), xy as (
  select (length(bin(rnk)) - 1)::HUGEINT as x,
         (length(bin(cnt)) - 1)::HUGEINT as y
  from ranked
), s as (
  select count(*)::HUGEINT as n, sum(x) as sx, sum(y) as sy,
         sum(x * y) as sxy, sum(x * x) as sxx, sum(y * y) as syy
  from xy
)
select n::BIGINT as n_terms,
       case when n < 2 or n * sxx - sx * sx = 0 then null else
         (((n * sxy - sx * sy) * 1000)
          // (n * sxx - sx * sx))::BIGINT end as slope_milli,
       case when n < 2 or n * sxx - sx * sx = 0
                 or n * syy - sy * sy = 0 then null else
         round((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
               / ((n * sxx - sx * sx)::DOUBLE
                  * (n * syy - sy * sy)::DOUBLE), 6) end as r2
from s
""",
        "quality_score": f"""
with t as (
  select doc_id, string_split(text, ' ') as toks from documents
), m as (
  select doc_id,
         len(list_filter(toks, t -> list_contains({_STOP_ALL!r}, lower(t)))) as stop_hits,
         len(list_distinct(toks))::double / len(toks) as distinct_ratio,
         len(toks) as n
  from t
)
select doc_id,
       round(stop_hits::double / n, 4) as stopword_ratio,
       round(distinct_ratio, 4) as distinct_token_ratio,
       n >= 10 as len_ok,
       round((stop_hits::double / n) * 0.5 + distinct_ratio * 0.5, 4) as quality
from m order by doc_id
""",
        "lang_id": f"""
with t as (
  select doc_id, string_split(lower(text), ' ') as toks from documents
), h as (
  select doc_id,
         len(list_filter(toks, t -> list_contains({text_analysis.STOPWORDS['en']!r}, t))) as hits_en,
         len(list_filter(toks, t -> list_contains({text_analysis.STOPWORDS['de']!r}, t))) as hits_de,
         len(list_filter(toks, t -> list_contains({text_analysis.STOPWORDS['es']!r}, t))) as hits_es
  from t
)
select doc_id, hits_en, hits_de, hits_es,
       case when greatest(hits_en, hits_de, hits_es) = 0 then 'unk'
            when hits_en = greatest(hits_en, hits_de, hits_es) then 'en'
            when hits_de = greatest(hits_en, hits_de, hits_es) then 'de'
            else 'es' end as pred_lang
from h order by doc_id
""",
        "fingerprint": """
select doc_id, md5(text) as digest,
       list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                               i -> md5(text[i:i+7]))) as min_shingle_md5
from documents order by doc_id
""",
        # Gopher-style repetition: per-doc n-gram mode via unnest+group
        # (DuckDB range(1,n) = [1..n-1]; list slice l[i:j] is 1-based
        # inclusive, so a 5-gram at i is toks[i:i+4]).
        "repetition_stats": """
with t as (select doc_id, string_split(text, ' ') as toks from documents),
base as (select doc_id, toks, len(toks) as n_tok from t),
uni as (
  select doc_id, max(c) as top_uni from (
    select doc_id, g, count(*) as c
    from (select doc_id, unnest(toks) as g from base)
    group by doc_id, g
  ) group by doc_id
),
bi as (
  select doc_id, max(c) as top_bi from (
    select doc_id, g, count(*) as c
    from (
      select doc_id,
             unnest(list_transform(range(1, n_tok),
                                   i -> toks[i] || ' ' || toks[i+1])) as g
      from base where n_tok >= 2
    )
    group by doc_id, g
  ) group by doc_id
),
d5 as (
  select doc_id,
         case when n_tok >= 5
              then round(1 - len(list_distinct(g5))::double / len(g5), 4)
              else 0.0 end as dup_5gram_frac
  from (
    select doc_id, n_tok,
           case when n_tok >= 5
                then list_transform(range(1, n_tok - 3),
                                    i -> array_to_string(toks[i:i+4], ' '))
                else []::varchar[] end as g5
    from base
  )
),
m as (
  select b.doc_id, b.n_tok as n_tokens,
         round(u.top_uni::double / b.n_tok, 4) as top_unigram_frac,
         round(coalesce(bi.top_bi, 0)::double
               / greatest(b.n_tok - 1, 1), 4) as top_bigram_frac,
         d5.dup_5gram_frac
  from base b
  join uni u using (doc_id)
  left join bi using (doc_id)
  join d5 using (doc_id)
)
select *, (top_unigram_frac <= 0.30 and top_bigram_frac <= 0.18
           and dup_5gram_frac <= 0.30)::int as keep
from m order by doc_id
""",
        "contamination_check": """
with t as (
  select doc_id, string_split(text, ' ') as toks,
         (doc_id % 100 = 0)::int as is_benchmark
  from documents
),
base as (select doc_id, is_benchmark, toks, len(toks) as n_tok from t),
grams as (
  select doc_id, is_benchmark,
         unnest(case when n_tok >= 5
                     then list_transform(range(1, n_tok - 3),
                                         i -> array_to_string(toks[i:i+4], ' '))
                     else []::varchar[] end) as g
  from base
),
bg as (select distinct g from grams where is_benchmark = 1),
ng as (select doc_id, count(*) as n_grams from grams group by doc_id),
hits as (
  select doc_id, count(*) as n_contaminated
  from grams
  where is_benchmark = 0 and g in (select g from bg)
  group by doc_id
)
select b.doc_id, b.is_benchmark,
       coalesce(ng.n_grams, 0) as n_grams,
       coalesce(h.n_contaminated, 0) as n_contaminated,
       (b.is_benchmark = 0 and coalesce(h.n_contaminated, 0) > 0)::int
         as contaminated
from base b
left join ng using (doc_id)
left join hits h using (doc_id)
order by b.doc_id
""",
        # patterns spliced from the module constants so Spark and the
        # oracle can never drift; RE2 and Java regex agree on them
        # (no lookaround, no backrefs).
        "pii_scrub": """
with aug as (
  select doc_id,
         text || ' contact user' || doc_id::varchar || '@example.com or 139'
              || lpad((doc_id % 100000000)::varchar, 8, '0')
              || ' from 10.0.' || (doc_id % 256)::varchar || '.7' as text
  from documents
)
select doc_id,
       len(regexp_extract_all(text, '@EMAIL@')) as n_emails,
       len(regexp_extract_all(text, '@PHONE@')) as n_phones,
       len(regexp_extract_all(text, '@IP@')) as n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(
             text, '@EMAIL@', '[EMAIL]', 'g'),
             '@PHONE@', '[PHONE]', 'g'),
             '@IP@', '[IP]', 'g')) as scrubbed_md5
from aug order by doc_id
""".replace("@EMAIL@", text_analysis.PII_EMAIL)
        .replace("@PHONE@", text_analysis.PII_PHONE)
        .replace("@IP@", text_analysis.PII_IP),
        "dsir_importance_weights": """
with d as (
  select doc_id, (source = 'src0')::int as is_target,
         string_split(lower(text), ' ') as toks
  from documents
), b as (
  select doc_id, is_target, toks, len(toks) as n_tok from d
), feats as (
  select doc_id, is_target,
         substr(md5(unnest(case when n_tok >= 2
                     then list_transform(range(1, n_tok),
                                         i -> array_to_string(toks[i:i+1], ' '))
                     else []::varchar[] end)), 1, 2) as bucket
  from b
), counts as (
  select bucket, sum(is_target) as tgt, count(*) as tot
  from feats group by bucket
), totals as (
  select sum(tgt) as t_tot, sum(tot) as a_tot from counts
), weights as (
  select bucket,
         round(ln(((tgt + 1.0) / (t_tot + 256.0))
                  / ((tot - tgt + 1.0) / (a_tot - t_tot + 256.0))),
               6)::decimal(18,6) as w
  from counts cross join totals
), scored as (
  select doc_id, count(*) as n_feats, sum(w) as sumw
  from feats join weights using (bucket)
  group by doc_id
)
select b.doc_id, b.is_target,
       coalesce(n_feats, 0) as n_feats,
       coalesce(sumw, 0::decimal(28,6)) as dsir_logweight
from b left join scored on b.doc_id = scored.doc_id
order by b.doc_id
""",
        # HTML synthesis + densometric extraction, symmetric with
        # web_extract.py.  DuckDB quirks handled: regexp_replace needs
        # the 'g' flag (Spark replaces all by default) and
        # array_to_string([]) is NULL (Spark's array_join is '').
        "html_block_classify": """
with t as (
  select doc_id, string_split(text, ' ') as toks from documents
), pages as (
  select doc_id,
    '<html><body><nav><a href=/>home</a> <a href=/about>about</a> <a href=/tag>tag'
    || doc_id::varchar
    || '</a></nav><p>' || coalesce(array_to_string(toks[1:8], ' '), '')
    || '</p><p>' || coalesce(array_to_string(toks[9:16], ' '), '')
    || '</p><p>' || coalesce(array_to_string(toks[17:24], ' '), '')
    || '</p><p>share this <a href=t>tweet</a> <a href=f>like</a></p><footer>copyright <a href=c>contact us</a> all rights reserved</footer></body></html>'
    as html
  from t
), raw as (
  select doc_id, 'p' as kind,
         regexp_extract_all(html, '<p>(.*?)</p>', 1) as bl from pages
  union all
  select doc_id, 'nav', regexp_extract_all(html, '<nav>(.*?)</nav>', 1)
  from pages
  union all
  select doc_id, 'footer',
         regexp_extract_all(html, '<footer>(.*?)</footer>', 1) from pages
), rows_k as (
  select doc_id, kind, i - 1 as block_idx, bl[i] as block
  from raw cross join unnest(range(1, len(bl) + 1)) as u(i)
), feats as (
  select doc_id, kind, block_idx,
    len(list_filter(string_split_regex(trim(regexp_replace(
        regexp_replace(block, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')),
        ' +'), x -> x <> '')) as n_words,
    len(list_filter(string_split_regex(coalesce(array_to_string(
        regexp_extract_all(block, '<a[^>]*>([^<]*)</a>', 1), ' '), ''),
        ' +'), x -> x <> '')) as n_link_words,
    trim(regexp_replace(regexp_replace(block, '<[^>]*>', ' ', 'g'),
         ' +', ' ', 'g')) as clean_text
  from rows_k
)
select doc_id, kind, block_idx, n_words, n_link_words,
       (n_words >= 5 and n_link_words * 10 <= n_words * 3)::int
         as is_content,
       clean_text
from feats order by doc_id, kind, block_idx
""",
        "html_main_content": """
with t as (
  select doc_id, string_split(text, ' ') as toks from documents
), pages as (
  select doc_id,
    '<html><body><nav><a href=/>home</a> <a href=/about>about</a> <a href=/tag>tag'
    || doc_id::varchar
    || '</a></nav><p>' || coalesce(array_to_string(toks[1:8], ' '), '')
    || '</p><p>' || coalesce(array_to_string(toks[9:16], ' '), '')
    || '</p><p>' || coalesce(array_to_string(toks[17:24], ' '), '')
    || '</p><p>share this <a href=t>tweet</a> <a href=f>like</a></p><footer>copyright <a href=c>contact us</a> all rights reserved</footer></body></html>'
    as html
  from t
), blocks as (
  select doc_id, regexp_extract_all(html, '<p>(.*?)</p>', 1) as bl
  from pages
), kept as (
  select doc_id, bl,
    list_filter(bl, b ->
      len(list_filter(string_split_regex(trim(regexp_replace(
          regexp_replace(b, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')),
          ' +'), x -> x <> '')) >= 5
      and len(list_filter(string_split_regex(coalesce(array_to_string(
          regexp_extract_all(b, '<a[^>]*>([^<]*)</a>', 1), ' '), ''),
          ' +'), x -> x <> '')) * 10
          <= len(list_filter(string_split_regex(trim(regexp_replace(
          regexp_replace(b, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')),
          ' +'), x -> x <> '')) * 3
    ) as k
  from blocks
)
select doc_id,
       coalesce(array_to_string(list_transform(k, b ->
         trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'),
              ' +', ' ', 'g'))), ' '), '') as main_text,
       len(k) as n_content_blocks,
       len(bl) - len(k) as n_boiler_p_blocks
from kept order by doc_id
""",
        # HTML -> interleaved spans: same synth page plus <img> elements;
        # the window running-sum IS the Spark fold's running offset, and
        # row_number renumbers the density-filtered element stream.
        "html_to_spans": """
with t as (
  select doc_id, string_split(text, ' ') as toks from documents
), pages as (
  select doc_id,
    '<html><body><nav><a href=/>home</a> <a href=/about>about</a> <a href=/tag>tag'
    || doc_id::varchar
    || '</a></nav><img src=img://web' || doc_id::varchar || 'a#gray><p>'
    || coalesce(array_to_string(toks[1:8], ' '), '')
    || '</p><img src=img://web' || doc_id::varchar || 'b#gray><p>'
    || coalesce(array_to_string(toks[9:16], ' '), '')
    || '</p><p>share this <a href=t>tweet</a> <a href=f>like</a></p><footer>copyright <a href=c>contact us</a> all rights reserved</footer></body></html>'
    as html
  from t
), el0 as (
  select doc_id, regexp_extract_all(html, '<p>.*?</p>|<img [^>]*>') as els
  from pages
), el as (
  select doc_id, i, els[i] as elem
  from el0 cross join unnest(range(1, len(els) + 1)) as u(i)
), feat as (
  select doc_id, i, elem,
    elem like '<p>%' as isp,
    trim(regexp_replace(regexp_replace(elem, '<[^>]*>', ' ', 'g'),
         ' +', ' ', 'g')) as clean,
    len(list_filter(string_split_regex(trim(regexp_replace(
        regexp_replace(elem, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')),
        ' +'), x -> x <> '')) as nw,
    len(list_filter(string_split_regex(coalesce(array_to_string(
        regexp_extract_all(elem, '<a[^>]*>([^<]*)</a>', 1), ' '), ''),
        ' +'), x -> x <> '')) as lw
  from el
), kept as (
  select doc_id, i, isp, clean,
    case when isp then null
         else regexp_extract(elem, 'src=([^ >]*)', 1) end as media_ref,
    row_number() over (partition by doc_id order by i) - 1 as span_idx,
    sum(case when isp then length(clean) + 1 else 0 end)
      over (partition by doc_id order by i
            rows between unbounded preceding and 1 preceding) as prev
  from feat
  where (not isp) or (nw >= 5 and lw * 10 <= nw * 3)
)
select doc_id, cast(span_idx as int) as span_idx,
       case when isp then 'text' else 'image' end as kind,
       case when isp then clean end as text,
       media_ref,
       cast(coalesce(prev, 0) as int) as span_offset
from kept order by doc_id, span_idx
""",
        # Per-source-shard packing: window cumulative sum, all integer
        # arithmetic (div = floor on the non-negative offsets).
        "sequence_pack": """
with base as (
  select source, doc_id, len(string_split(text, ' ')) as n_tokens,
         sum(len(string_split(text, ' ')))
           over (partition by source order by doc_id
                 rows unbounded preceding) as cum_end
  from documents
)
select source, doc_id, n_tokens,
       cum_end - n_tokens as start_tok,
       (cum_end - n_tokens) // 128 as first_seq,
       (cum_end - 1) // 128 as last_seq,
       ((cum_end - 1) // 128) - ((cum_end - n_tokens) // 128) + 1
         as n_seqs_spanned
from base order by source, doc_id
""",
        # PageRank in integer ppb arithmetic (floor-division damping),
        # 3 unrolled iterations — integer sums are associative so the
        # value-hash is engine- and partition-order-exact.
        "link_graph_pagerank": """
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
outd as (select src, count(*) as out_deg from edges group by src),
ind as (select dst, count(*) as in_deg from edges group by dst),
pr0 as (select doc_id as v, 1000000000 // nn as pr from documents, n),
c1 as (
  select e.dst as v, sum((85 * p.pr) // (100 * o.out_deg)) as s
  from edges e join pr0 p on e.src = p.v join outd o on e.src = o.src
  group by e.dst
),
it1 as (
  select d.doc_id as v, (150000000 // nn) + coalesce(c1.s, 0) as pr
  from documents d cross join n left join c1 on c1.v = d.doc_id
),
c2 as (
  select e.dst as v, sum((85 * p.pr) // (100 * o.out_deg)) as s
  from edges e join it1 p on e.src = p.v join outd o on e.src = o.src
  group by e.dst
),
it2 as (
  select d.doc_id as v, (150000000 // nn) + coalesce(c2.s, 0) as pr
  from documents d cross join n left join c2 on c2.v = d.doc_id
),
c3 as (
  select e.dst as v, sum((85 * p.pr) // (100 * o.out_deg)) as s
  from edges e join it2 p on e.src = p.v join outd o on e.src = o.src
  group by e.dst
),
it3 as (
  select d.doc_id as v, (150000000 // nn) + coalesce(c3.s, 0) as pr
  from documents d cross join n left join c3 on c3.v = d.doc_id
)
select d.doc_id,
       coalesce(outd.out_deg, 0) as out_deg,
       coalesce(ind.in_deg, 0) as in_deg,
       it3.pr as pr_ppb
from documents d
left join outd on d.doc_id = outd.src
left join ind on d.doc_id = ind.dst
left join it3 on d.doc_id = it3.v
order by d.doc_id
""",
        "stratified_sample": """
select doc_id, lang, source,
       md5(doc_id::varchar || ':' || lang) as sample_key
from documents
where md5(doc_id::varchar || ':' || lang) <
      case lang when 'en' then '8' when 'de' then '4'
                when 'es' then '2' else 'g' end
order by doc_id
""",
        "qr_stock_parse": """
with qr as (
  select s_suppkey,
         'dh:D' || (s_suppkey * 7 % 1000000)::varchar || ' ' ||
         lpad((s_suppkey * 11 % 100000000000)::varchar,
              case when s_suppkey % 2 = 0 then 11 else 12 end, '0') || ' ' ||
         'way:a/b' || (s_suppkey % 9)::varchar as payload
  from supplier
), t as (
  select s_suppkey, string_split(payload, ' ') as toks from qr
), p as (
  select s_suppkey,
         list_filter(toks, x -> position(':' in x) > 0) as kv,
         list_filter(toks, x -> position(':' in x) = 0
                           and regexp_matches(x, '^[0-9]+$')) as digits
  from t
)
select s_suppkey,
       coalesce(replace(substr(list_filter(kv, x -> x like 'dh:%')[1], 4), '/', '、'), '') as doc_number,
       coalesce(list_filter(digits, x -> length(x) = 11)[1], '') as invoice_number,
       coalesce(list_filter(digits, x -> length(x) = 12)[1], '') as invoice_code,
       coalesce(replace(substr(list_filter(kv, x -> x like 'way:%')[1], 5), '/', '、'), '') as rk_way
from p order by s_suppkey
""",
        "table_html": """
with tables as (
  select distinct event_id % 40 as table_id from events
), rs as (
  select table_id, unnest(range(0, table_id % 4 + 3)) as row from tables
), cs as (
  select table_id, unnest(range(0, table_id % 5 + 3)) as col from tables
), cells as (
  select r.table_id, r.row, c.col,
         r.row::varchar || '-' || c.col::varchar as cell_text
  from rs r join cs c on r.table_id = c.table_id
), rows_html as (
  select table_id, row,
         '<tr>' || string_agg('<td>' || cell_text || '</td>', '' order by col) || '</tr>' as row_html
  from cells group by table_id, row
)
select table_id,
       '<table>' || string_agg(row_html, '' order by row) || '</table>' as html
from rows_html group by table_id order by table_id
""",
        # -- container sources / pdf lineage --
        "ofd_extract": """
select o_orderkey,
       lpad((o_orderkey % 1000000000000)::varchar, 12, '0') as InvoiceCode,
       lpad((o_custkey % 100000000)::varchar, 8, '0') as InvoiceNo,
       printf('%.2f', round(o_totalprice, 2)) as TotalAmount,
       strftime(o_orderdate, '%Y-%m-%d') as IssueDate,
       'buyer-' || o_custkey::varchar as Buyer,
       'seller-' || (o_orderkey % 97)::varchar as Seller
from orders where o_orderkey % 100 = 0 order by o_orderkey
""",
        "pdf_page_explode": """
with refs as (
  select 'pdf://o' || o_orderkey::varchar || '/0#' || (o_orderkey % 3 + 2)::varchar as media_ref,
         (o_orderkey % 3 + 2) as n_pages
  from orders where o_orderkey % 20 = 0
)
select media_ref, unnest(range(0, n_pages))::int as page_idx, n_pages::int as n_pages
from refs order by media_ref, page_idx
""",
        # -- table structure --
        "table_cells": """
with tables as (
  select distinct event_id % 40 as table_id from events
), rs as (
  select table_id, unnest(range(0, table_id % 4 + 3)) as row from tables
), rows_ as (
  select table_id, row, row * 20 + table_id % 7 as y0,
         row * 20 + table_id % 7 + 18 as y1
  from rs
), cs as (
  select table_id, unnest(range(0, table_id % 5 + 3)) as col from tables
), cols_ as (
  select table_id, col, col * 30 + table_id % 5 as x0,
         col * 30 + table_id % 5 + 27 as x1
  from cs
)
select r.table_id, r.row, c.col, c.x0, r.y0, c.x1, r.y1
from rows_ r join cols_ c on r.table_id = c.table_id
order by r.table_id, r.row, c.col
""",
        "table_det_assign": """
with tables as (
  select distinct event_id % 40 as table_id from events
), rs as (
  select table_id, unnest(range(0, table_id % 4 + 3)) as row from tables
), rows_ as (
  select table_id, row, row * 20 + table_id % 7 as y0,
         row * 20 + table_id % 7 + 18 as y1
  from rs
), cs as (
  select table_id, unnest(range(0, table_id % 5 + 3)) as col from tables
), cols_ as (
  select table_id, col, col * 30 + table_id % 5 as x0,
         col * 30 + table_id % 5 + 27 as x1
  from cs
), dets as (
  select event_id % 40 as table_id, event_id as det_id,
         (event_id * 13) % 120 as x, (event_id * 11) % 100 as y
  from events
)
select d.table_id, d.det_id, r.row, c.col
from dets d
join rows_ r on d.table_id = r.table_id and d.y between r.y0 and r.y1
join cols_ c on d.table_id = c.table_id and d.x between c.x0 and c.x1
order by d.table_id, d.det_id
""",
        # -- relational --
        "stream_exact_dedup": """
select md5(text) as digest, min(doc_id::varchar) as doc_id, min(text) as text
from documents group by text order by digest
""",
        # Watermarked windowed aggregation, availableNow drain: append
        # mode emits exactly the windows closed by the final watermark
        # (max(ts) - watermark); open windows stay in state.  time_bucket
        # and Spark's window() share the epoch-aligned bucketing origin.
        "stream_window_counts": f"""
with agg as (
  select time_bucket(interval {stream.WINDOW} second, ts) as ws, event_type,
         count(*) as n, round(sum(value), 2) as total
  from events group by ws, event_type
), wm as (select max(ts) as mx from events)
select epoch(ws)::bigint as w_start_s,
       epoch(ws + interval {stream.WINDOW} second)::bigint as w_end_s,
       event_type, n, total
from agg, wm
where ws + interval {stream.WINDOW} second
      <= mx - interval {stream.WINDOW_WATERMARK} second
order by w_start_s, event_type
""",
        # Session windows, availableNow drain: a session is emitted once
        # the watermark passes its end (last event + gap) — the batch
        # gap-sessionization restricted to sessions ending before
        # max(ts) - watermark.  Session end = max(ts in session)+gap,
        # matching F.session_window's window.end.
        "stream_user_sessions": f"""
with g as (
  select user_id, ts, value, event_id,
         case when ts - lag(ts) over (partition by user_id
                                      order by ts, event_id)
                   >= interval {stream.SESSION_GAP} second
              then 1 else 0 end as brk
  from events
),
s as (
  select user_id, ts, value,
         sum(brk) over (partition by user_id order by ts, event_id
                        rows unbounded preceding) as sid
  from g
),
agg as (
  select user_id, sid, min(ts) as st, max(ts) as en,
         count(*) as n_events, round(sum(value), 2) as session_value
  from s group by user_id, sid
),
wm as (select max(ts) as mx from events)
select floor(epoch(st))::bigint as s_start_s,
       floor(epoch(en + interval {stream.SESSION_GAP} second))::bigint
         as s_end_s,
       user_id, n_events, session_value
from agg, wm
where en + interval {stream.SESSION_GAP} second
      <= mx - interval {stream.SESSION_WATERMARK} second
order by user_id, s_start_s
""",
        # Stream-static enrichment is STATELESS: the availableNow drain
        # equals the batch left join against the dimension.
        "stream_enriched_events": """
select e.event_id, floor(epoch(e.ts))::bigint as ts_s, e.user_id,
       e.event_type, e.value, c.c_name, c.c_mktsegment
from events e left join customer c on e.user_id = c.c_custkey
order by e.event_id
""",
        # Stream-stream interval join: with watermark >= the attribution
        # window and time-ordered inputs, the drained inner join equals
        # the batch interval join (click state is never evicted before
        # its last possible purchase arrives).
        "stream_click_attribution": f"""
select c.user_id,
       c.event_id as click_id,
       p.event_id as purchase_id,
       floor(epoch(c.ts))::bigint as click_ts_s,
       floor(epoch(p.ts))::bigint as purchase_ts_s,
       p.value as purchase_value
from events c join events p
  on c.user_id = p.user_id
 and c.event_type = 'click' and p.event_type = 'purchase'
 and p.ts >= c.ts
 and p.ts <= c.ts + interval {stream.ATTRIBUTION_WINDOW} second
order by click_id, purchase_id
""",
        # Skew diagnosis: exact top-K hottest keys; share in integer ppm.
        "heavy_hitters": """
with c as (select user_id, count(*) as n from events group by user_id),
t as (select count(*) as tot from events),
r as (select user_id, n,
             row_number() over (order by n desc, user_id) as rank
      from c)
select rank, user_id, n, (n * 1000000) // tot as share_ppm
from r, t where rank <= 20 order by rank
""",
        # ANALYZE-style profile; doubles as floor(x*100) cents and
        # timestamps as epoch seconds (engine-exact canonicalization).
        "profile_tables": """
with o as (select * from orders), e as (select * from events),
prof as (
  select 'orders' as table_name, 'o_orderkey' as column_name,
         count(*) as n_rows, count(*) - count(o_orderkey) as n_null,
         count(distinct o_orderkey) as n_distinct,
         min(o_orderkey)::varchar as min_val,
         max(o_orderkey)::varchar as max_val from o
  union all
  select 'orders', 'o_custkey', count(*), count(*) - count(o_custkey),
         count(distinct o_custkey),
         min(o_custkey)::varchar, max(o_custkey)::varchar from o
  union all
  select 'orders', 'o_orderstatus', count(*),
         count(*) - count(o_orderstatus), count(distinct o_orderstatus),
         min(o_orderstatus), max(o_orderstatus) from o
  union all
  select 'orders', 'o_totalprice', count(*),
         count(*) - count(o_totalprice), count(distinct o_totalprice),
         floor(min(o_totalprice) * 100)::bigint::varchar,
         floor(max(o_totalprice) * 100)::bigint::varchar from o
  union all
  select 'orders', 'o_orderdate', count(*),
         count(*) - count(o_orderdate), count(distinct o_orderdate),
         floor(epoch(min(o_orderdate)))::bigint::varchar,
         floor(epoch(max(o_orderdate)))::bigint::varchar from o
  union all
  select 'orders', 'o_orderpriority', count(*),
         count(*) - count(o_orderpriority),
         count(distinct o_orderpriority),
         min(o_orderpriority), max(o_orderpriority) from o
  union all
  select 'events', 'event_id', count(*), count(*) - count(event_id),
         count(distinct event_id),
         min(event_id)::varchar, max(event_id)::varchar from e
  union all
  select 'events', 'ts', count(*), count(*) - count(ts),
         count(distinct ts),
         floor(epoch(min(ts)))::bigint::varchar,
         floor(epoch(max(ts)))::bigint::varchar from e
  union all
  select 'events', 'user_id', count(*), count(*) - count(user_id),
         count(distinct user_id),
         min(user_id)::varchar, max(user_id)::varchar from e
  union all
  select 'events', 'event_type', count(*), count(*) - count(event_type),
         count(distinct event_type),
         min(event_type), max(event_type) from e
  union all
  select 'events', 'value', count(*), count(*) - count(value),
         count(distinct value),
         floor(min(value) * 100)::bigint::varchar,
         floor(max(value) * 100)::bigint::varchar from e
  union all
  select 'events', 'props', count(*), count(*) - count(props),
         count(distinct props), min(props), max(props) from e
)
select * from prof order by table_name, column_name
""",
        "pricing_summary": """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) as sum_qty,
       round(sum(l_extendedprice), 2) as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
       count(*) as count_order
from lineitem
where l_shipdate <= timestamp '2024-09-02'
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
""",
        "top_orders_per_segment": """
with j as (
  select c_mktsegment, o_orderkey, o_totalprice,
         row_number() over (partition by c_mktsegment
                            order by o_totalprice desc, o_orderkey asc) as rn
  from orders join customer on o_custkey = c_custkey
)
select c_mktsegment, rn, o_orderkey, round(o_totalprice, 2) as total
from j where rn <= 5 order by c_mktsegment, rn
""",
        "sessionize_events": """
with g as (
  select user_id, event_id, ts, value,
         case when epoch(ts) - epoch(lag(ts) over
                (partition by user_id order by ts, event_id)) >= 1800
              then 1 else 0 end as new_sess
  from events
), s as (
  select user_id, event_id, value,
         sum(new_sess) over (partition by user_id order by ts, event_id
                             rows between unbounded preceding and current row)::bigint as session_id
  from g
)
select user_id, session_id, count(*) as n_events,
       round(sum(value), 2) as session_value
from s group by user_id, session_id order by user_id, session_id
""",
    }
    # The persisted-index ANN returns the exact rows ivf_topk returns at
    # the same (n_anchors, n_probe) — probe selection reuses the same
    # expression — so its oracle IS the ivf oracle.
    sql["ann_ivf_indexed_topk"] = sql["ann_ivf_topk"]
    # Signal fusion composes the three pair oracles verbatim (CTEs over
    # the exact SQL the individual checks run), so the fused oracle can
    # never drift from its parts.
    sql["dedup_signal_fusion"] = f"""
with mh as ({sql["lsh_near_dup"]}),
sh as ({sql["simhash_near_dup"]}),
em0 as ({sql["embedding_near_dup"]}),
em as (select vec_a as doc_a, vec_b as doc_b, cos from em0),
p1 as (
  select coalesce(mh.doc_a, sh.doc_a) as doc_a,
         coalesce(mh.doc_b, sh.doc_b) as doc_b,
         mh.jaccard, sh.hamming
  from mh full join sh on mh.doc_a = sh.doc_a and mh.doc_b = sh.doc_b
),
f as (
  select coalesce(p1.doc_a, em.doc_a) as doc_a,
         coalesce(p1.doc_b, em.doc_b) as doc_b,
         p1.jaccard, p1.hamming, em.cos
  from p1 full join em on p1.doc_a = em.doc_a and p1.doc_b = em.doc_b
)
select doc_a, doc_b,
       (jaccard is not null)::int + (hamming is not null)::int
         + (cos is not null)::int as n_signals,
       coalesce(jaccard, -1.0) as jaccard,
       coalesce(hamming, -1) as hamming,
       coalesce(cos, -9.0) as cos
from f order by doc_a, doc_b
"""
    # Curation keep/drop fuses the quality/repetition/lang oracles
    # verbatim as CTEs — same never-drifts argument as dedup fusion.
    sql["curation_decision"] = f"""
with q as ({sql["quality_score"]}),
r as ({sql["repetition_stats"]}),
l as ({sql["lang_id"]})
select q.doc_id,
       q.len_ok::int as len_ok,
       r.keep as rep_ok,
       (l.pred_lang != 'unk')::int as lang_ok,
       (q.stopword_ratio >= 0.03)::int as stop_ok,
       (q.len_ok and r.keep = 1 and l.pred_lang != 'unk'
        and q.stopword_ratio >= 0.03)::int as keep
from q join r on q.doc_id = r.doc_id join l on q.doc_id = l.doc_id
order by q.doc_id
"""
    # Calibration truth: same tenth-bucket cut on the quality score
    # crossed with the shipped keep decision, ppm keep rate.
    sql["quality_calibration"] = f"""
with q as ({{Q}}),
k as ({{K}}),
b as (
  select q.doc_id,
         least(cast(floor(q.quality * 10) as bigint), 9) as bucket,
         k.keep
  from q join k on q.doc_id = k.doc_id
)
select bucket, count(*) as n_docs,
       cast(sum(keep) as bigint) as n_kept,
       cast((sum(keep) * 1000000) // count(*) as bigint) as keep_ppm
from b group by bucket order by bucket
""".format(Q=sql["quality_score"], K=sql["curation_decision"])
    # As-of join, union-window encoding — the oracle mirrors the exact
    # tie-break order (t, tag, event_id, o_orderkey); null-order
    # divergence between engines is unreachable because null columns
    # only tie within a tag where the remaining keys disambiguate.
    sql["asof_join_order_events"] = """
with u as (
  select user_id as k, ts as t, 0 as tag, event_id, event_type,
         value as ev_value, cast(null as bigint) as o_orderkey
  from events
  union all
  select o_custkey, o_orderdate, 1, null, null, null, o_orderkey
  from orders
), w as (
  select *,
    last_value(event_id ignore nulls) over win as last_event_id,
    last_value(event_type ignore nulls) over win as last_event_type,
    last_value(case when tag = 0 then floor(epoch(t))::bigint end ignore nulls)
      over win as last_event_ts,
    round(last_value(ev_value ignore nulls) over win, 6)
      as last_event_value
  from u
  window win as (partition by k order by t, tag, event_id, o_orderkey
                 rows between unbounded preceding and current row)
)
select o_orderkey, k as user_id, floor(epoch(t))::bigint as order_epoch,
       last_event_id, last_event_type, last_event_ts, last_event_value
from w where tag = 1 order by o_orderkey
"""
    # Trailing 7-day rolling window: RANGE frame over epoch seconds, so
    # equal-timestamp peers are frame-inclusive in both engines.
    sql["rolling_user_value"] = """
select event_id, user_id, floor(epoch(ts))::bigint as epoch,
       round(sum(value) over win, 6) as roll_value_7d,
       count(*) over win as roll_events_7d
from events
window win as (partition by user_id order by floor(epoch(ts))::bigint
               range between 604800 preceding and current row)
order by event_id
"""
    # Exact linear-interpolation percentiles: Spark percentile() and
    # DuckDB quantile_cont() share the pos = p*(n-1) definition.
    sql["percentile_profile"] = """
select l_returnflag, count(*) as n_rows,
       round(quantile_cont(l_extendedprice, 0.25), 6) as price_p25,
       round(quantile_cont(l_quantity, 0.25), 6) as qty_p25,
       round(quantile_cont(l_extendedprice, 0.5), 6) as price_p50,
       round(quantile_cont(l_quantity, 0.5), 6) as qty_p50,
       round(quantile_cont(l_extendedprice, 0.75), 6) as price_p75,
       round(quantile_cont(l_quantity, 0.75), 6) as qty_p75,
       round(quantile_cont(l_extendedprice, 0.9), 6) as price_p90,
       round(quantile_cont(l_quantity, 0.9), 6) as qty_p90,
       round(quantile_cont(l_extendedprice, 0.99), 6) as price_p99,
       round(quantile_cont(l_quantity, 0.99), 6) as qty_p99
from lineitem group by l_returnflag order by l_returnflag
"""
    # Salting is a physical rewrite: the oracle is the PLAIN join —
    # identical output proves the salt changed the shuffle, not the
    # semantics.
    sql["skew_salted_join"] = """
select p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
       count(*) as n_items
from lineitem join part on l_partkey = p_partkey
group by p_brand order by p_brand
"""
    # URL canonicalization: the raw URL is synthesized by the same
    # expression, then canonicalized with the same regex/array steps.
    sql["url_canonicalize"] = r"""
with raw as (
  select doc_id,
         'HTTP://WWW.Site' || (doc_id % 5) || '.COM:80/Path/'
         || (doc_id % 20)
         || case doc_id % 3
              when 0 then '/?utm_source=feed&b=2&a=1#Frag'
              when 1 then '?a=1&utm_campaign=x&fbclid=zz'
              else '/' end as raw_url
  from documents
), parts as (
  select doc_id, raw_url,
    lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      as scheme,
    lower(regexp_extract(raw_url, '^[^:]+://([^/?#]+)', 1)) as host0,
    regexp_replace(
      regexp_extract(raw_url, '^[^:]+://[^/?#]+([^?#]*)', 1),
      '/+$', '') as path,
    regexp_extract(raw_url, '\?([^#]*)', 1) as qraw
  from raw
), canon0 as (
  select doc_id, raw_url, scheme, path, qraw,
    case when scheme = 'http'
           then regexp_replace(regexp_replace(host0, '^www\.', ''),
                               ':80$', '')
         when scheme = 'https'
           then regexp_replace(regexp_replace(host0, '^www\.', ''),
                               ':443$', '')
         else regexp_replace(host0, '^www\.', '') end as host,
    array_to_string(
      list_sort(list_filter(string_split(qraw, '&'),
        x -> not regexp_matches(x, '^(utm_[^=]*|gclid|fbclid)='))),
      '&') as qkeep
  from parts
), c as (
  select doc_id, raw_url,
    scheme || '://' || host || path ||
    case when qraw != '' and qkeep != '' then '?' || qkeep else '' end
      as canon_url
  from canon0
)
select doc_id, raw_url, canon_url,
       (doc_id = min(doc_id) over (partition by canon_url))::int
         as is_survivor
from c order by doc_id
"""
    # SCD-2 dimension build from the order change log.
    sql["scd2_intervals"] = """
select o_custkey, o_orderkey, o_orderstatus,
       floor(epoch(o_orderdate))::bigint as valid_from,
       lead(floor(epoch(o_orderdate))::bigint)
         over (partition by o_custkey
               order by o_orderdate, o_orderkey) as valid_to,
       (lead(o_orderdate) over (partition by o_custkey
                                order by o_orderdate, o_orderkey)
        is null)::int as is_current
from orders order by o_custkey, valid_from, o_orderkey
"""
    # Source-mix rebalance: integer rate arithmetic + Knuth row hash,
    # both engine-exact.
    sql["source_mix_rebalance"] = r"""
with c as (
  select source, count(*) as cnt,
         regexp_extract(source, 'src(\d+)', 1)::bigint + 1 as w
  from documents group by source
), t as (
  select sum(cnt) as total, sum(w) as wsum from c
), r as (
  select source,
         least(16777216, (16777216 * t.total * c.w) // (t.wsum * c.cnt))
           as rate24
  from c, t
)
select d.doc_id, d.source, r.rate24
from documents d join r using (source)
where (d.doc_id * 2654435761) % 16777216 < r.rate24
order by d.doc_id
"""
    # foreachBatch upsert sink: the drained keyed state equals the batch
    # arg-max per user (max ts, tie-break max event_id).
    # Batch twin of the stateful top-K: rank per hour window, CLOSED
    # windows only (window end strictly before max(ts) - delay, in ms —
    # the event-time-timeout firing rule).
    sql["stream_topk_trending"] = f"""
with mx as (select max(ts) as m from events),
w as (
  select cast(epoch(date_trunc('hour', ts)) as bigint) as ws, event_type
  from events
), c as (
  select ws, event_type, count(*) as n from w group by 1, 2
), r as (
  select ws, event_type, n,
         row_number() over (partition by ws
                            order by n desc, event_type) as rnk
  from c
)
select ws, cast(rnk as int) as rnk, event_type, n
from r cross join mx
where rnk <= {stream.TOPK_K}
  and (ws + {stream.TOPK_WINDOW}) * 1000
      < epoch_ms(m) - {stream.TOPK_DELAY * 1000}
order by ws, rnk
"""
    sql["stream_upsert_latest"] = """
select user_id, event_id as last_event_id,
       floor(epoch(ts))::bigint as ts_s,
       event_type as last_event_type,
       round(value, 6) as last_value
from (
  select *, row_number() over (partition by user_id
                               order by ts desc, event_id desc) as rn
  from events
) t where rn = 1 order by user_id
"""
    # Schema-on-read JSON parse + rollup; integer bucket arithmetic.
    sql["json_props_rollup"] = """
select event_type, (json_extract(props, '$.k')::int // 10) as k_bucket,
       count(*) as n, round(sum(value), 6) as sum_value,
       min(json_extract(props, '$.k')::int) as min_k,
       max(json_extract(props, '$.k')::int) as max_k
from events group by event_type, k_bucket order by event_type, k_bucket
"""
    # Batch kNN graph: the oracle reuses the IVF assignment CTE shape
    # (round-6 L2 argmin, aid tie-break) and ranks on the ROUNDED cosine
    # with a dst tie-break — engine-exact ranking.
    sql["knn_graph"] = f"""
with a as (
  select vec_id as aid, embedding as avec,
         list_dot_product(embedding::double[], embedding::double[]) as aa
  from embeddings where vec_id < {similarity.DEFAULT_ANCHORS}
), v as (
  select vec_id, embedding,
         list_dot_product(embedding::double[], embedding::double[]) as xx
  from embeddings
), dist as (
  select v.vec_id, v.embedding, v.xx, a.aid,
         round(v.xx
               - 2 * list_dot_product(v.embedding::double[], a.avec::double[])
               + a.aa, 6) as d
  from v cross join a
), assign as (
  select vec_id, embedding, xx, aid as list_id from dist
  qualify row_number() over (partition by vec_id order by d, aid) = 1
), p as (
  select x.vec_id as src, y.vec_id as dst,
         round(list_dot_product(x.embedding::double[], y.embedding::double[])
               / (sqrt(x.xx) * sqrt(y.xx)), 4) as cos
  from assign x join assign y
    on x.list_id = y.list_id and x.vec_id <> y.vec_id
)
select src, rank, dst, cos from (
  select *, row_number() over (partition by src
                               order by cos desc, dst) as rank
  from p
) t where rank <= {similarity.KNN_K} order by src, rank
"""
    # Unigram-LM perplexity (corpus-fit, add-one smoothing) — same
    # ln/exp arithmetic, rounded after exp.
    sql["lm_perplexity"] = """
with t as (
  select doc_id, unnest(string_split(text, ' ')) as tok from documents
), v as (
  select tok, count(*) as c from t group by tok
), s as (
  select sum(c) as t_total, count(*) as v_size from v
), lm as (
  select tok, ln((c + 1.0) / (t_total + v_size)) as lp from v, s
)
select doc_id, count(*) as n_tokens, round(exp(-avg(lp)), 4) as ppl
from t join lm using (tok)
group by doc_id order by doc_id
"""
    # FK integrity audit: anti-join orphan counts per relationship.
    rels = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders",
         "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
         "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer",
         "c_custkey"),
        ("events->customer", "events", "user_id", "customer",
         "c_custkey"),
    ]
    sql["referential_audit"] = "\nunion all\n".join(
        f"""
select '{name}' as relation,
  (select count(*) from {child}) as n_rows,
  (select count(distinct {key}) from {child}) as n_keys,
  (select count(*) from {child} c
     where not exists (select 1 from {parent} p
                       where p.{pkey} = c.{key})) as n_orphan_rows,
  (select count(distinct {key}) from {child} c
     where not exists (select 1 from {parent} p
                       where p.{pkey} = c.{key})) as n_orphan_keys
"""
        for name, child, key, parent, pkey in rels
    ) + "\norder by relation"
    # Percentile-threshold outlier gate: per-lang p01/p99 from pass one.
    sql["length_outlier_filter"] = """
with th as (
  select lang, round(quantile_cont(n_chars, 0.01), 6) as lo,
         round(quantile_cont(n_chars, 0.99), 6) as hi
  from documents group by lang
)
select d.doc_id, d.lang, d.n_chars, th.lo, th.hi,
       (d.n_chars >= th.lo and d.n_chars <= th.hi)::int as keep
from documents d join th using (lang)
order by d.doc_id
"""
    # ROLLUP: one-pass grouping sets; gid = grouping(flag)*2 +
    # grouping(status), matching Spark's grouping_id() bit order.
    sql["sales_rollup"] = """
select coalesce(l_returnflag, 'ALL') as flag,
       coalesce(l_linestatus, 'ALL') as status,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
       count(*) as n_items,
       grouping(l_returnflag) * 2 + grouping(l_linestatus) as gid
from lineitem
group by rollup(l_returnflag, l_linestatus)
order by gid, flag, status
"""
    # PIVOT as conditional aggregation (identical wide column names).
    sql["priority_pivot"] = """
select o_orderpriority,
  count(*) filter (where o_orderstatus = 'F') as F_n,
  count(*) filter (where o_orderstatus = 'O') as O_n,
  count(*) filter (where o_orderstatus = 'P') as P_n,
  round(avg(o_totalprice) filter (where o_orderstatus = 'F'), 4)
    as F_avg_price,
  round(avg(o_totalprice) filter (where o_orderstatus = 'O'), 4)
    as O_avg_price,
  round(avg(o_totalprice) filter (where o_orderstatus = 'P'), 4)
    as P_avg_price
from orders group by o_orderpriority order by o_orderpriority
"""
    # Ordered funnel: chained first-occurrence-after semantics, strict >.
    sql["funnel_counts"] = """
with per as (
  select user_id,
         min(ts) filter (where event_type = 'click') as t1
  from events group by user_id
), s2 as (
  select p.user_id, p.t1, min(e.ts) as t2
  from per p left join events e
    on e.user_id = p.user_id and e.event_type = 'view' and e.ts > p.t1
  group by p.user_id, p.t1
), s3 as (
  select s.user_id, s.t1, s.t2, min(e.ts) as t3
  from s2 s left join events e
    on e.user_id = s.user_id and e.event_type = 'purchase'
       and e.ts > s.t2
  group by s.user_id, s.t1, s.t2
)
select case when t1 is null then 0 when t2 is null then 1
            when t3 is null then 2 else 3 end as funnel_depth,
       count(*) as n_users
from s3 group by 1 order by 1
"""
    # Daily gap fill: generate_series grid left-joined to real counts.
    sql["gap_fill_daily"] = """
with b as (select min(ts)::date as d0, max(ts)::date as d1 from events),
u as (select distinct user_id from events),
g as (
  select u.user_id,
         unnest(generate_series(b.d0::timestamp, b.d1::timestamp,
                                interval 1 day))::date as day
  from u, b
),
d as (
  select user_id, ts::date as day, count(*) as n,
         round(sum(value), 6) as v
  from events group by 1, 2
)
select g.user_id, strftime(g.day, '%Y-%m-%d') as day,
       coalesce(d.n, 0) as n_events, coalesce(d.v, 0.0) as day_value
from g left join d using (user_id, day)
order by g.user_id, day
"""
    # Lloyd's k-means, KMEANS_ITERS unrolled iterations in fixed-point
    # integer arithmetic (micro-units, truncating `//` means) — the same
    # derivation as the Spark driver loop, bit-exact.  The CTE chain is
    # shared with the SemDeDup oracle below.
    _dist, _kmeans_ctes = _kmeans_cte_chain()
    _n = similarity.KMEANS_ITERS
    sql["kmeans_clusters"] = (
        "with " + _kmeans_ctes + f"""
select vec_id, cluster, dist_sq_micro from (
  select e.vec_id, c.cid as cluster, ({_dist})::bigint as dist_sq_micro
  from e cross join c{_n} c
) t qualify row_number() over (partition by vec_id
                               order by dist_sq_micro, cluster) = 1
order by vec_id
"""
    )
    # SemDeDup: the SAME unrolled k-means assignment, then exact
    # within-cluster cosine (double, round-4 — the embedding_near_dup
    # convention) against every lower-id cluster-mate.
    _sd_cos = (
        "round(list_dot_product(x.emb, y.emb) /"
        " (sqrt(list_dot_product(x.emb, x.emb)) *"
        " sqrt(list_dot_product(y.emb, y.emb))), 4)"
    )
    sql["semdedup_prune"] = (
        "with " + _kmeans_ctes + f""",
asg as (
  select vec_id, cluster from (
    select e.vec_id, c.cid as cluster, {_dist} as d
    from e cross join c{_n} c
  ) t qualify row_number() over (partition by vec_id
                                 order by d, cluster) = 1
),
v as (
  select a.vec_id, a.cluster, emb.embedding::double[] as emb
  from asg a join embeddings emb using (vec_id)
),
p as (
  select x.vec_id as vec_b, min(y.vec_id) as pruned_by
  from v x join v y on x.cluster = y.cluster and y.vec_id < x.vec_id
  where {_sd_cos} >= {similarity.SEMDEDUP_TAU}
  group by x.vec_id
)
select a.vec_id, cast(a.cluster as int) as cluster,
       cast(p.pruned_by is null as int) as is_kept, p.pruned_by
from asg a left join p on a.vec_id = p.vec_b
order by a.vec_id
"""
    )
    sql["bpe_merges"] = _bpe_oracle()
    sql["bpe_tokenize"] = _bpe_tokenize_oracle()
    # Fertility truth: the tokenize oracle as a CTE, rolled up by
    # (source, lang) with the same exact rationals.
    sql["bpe_fertility"] = f"""
with bt as ({sql["bpe_tokenize"]})
select d.source, d.lang,
       count(*) as n_docs,
       sum(bt.n_words)::bigint as n_words,
       sum(bt.n_chars)::bigint as n_chars,
       sum(bt.n_tokens)::bigint as n_tokens,
       cast((2 * sum(bt.n_tokens)::hugeint * 1000000 + sum(bt.n_words))
            // (2 * sum(bt.n_words)) as bigint) as fertility_ppm,
       cast((sum(bt.n_tokens)::hugeint * 1000) // sum(bt.n_chars)
            as bigint) as tokens_per_kchar
from bt join documents d using (doc_id)
group by 1, 2 order by 1, 2
"""
    # Gopher rule-battery truth: the same integer-ppm rules over the
    # identical token arrays (all operands positive, so DuckDB // ==
    # Spark div).
    _gstop = ",".join(f"'{w}'" for w in text_analysis.GOPHER_STOPLIST)
    sql["gopher_rules"] = f"""
with t as (
  select doc_id, string_split(text, ' ') as sp from documents
), m as (
  select doc_id,
         len(sp)::bigint as n_words,
         list_sum(list_transform(sp, w -> len(w)))::bigint as sum_len,
         list_max(list_transform(list_distinct(sp),
             d -> len(list_filter(sp, t -> t = d))))::bigint as top_cnt,
         len(list_filter(list_distinct(sp),
             t -> list_contains([{_gstop}], t)))::bigint as stop_distinct,
         len(list_filter(sp,
             t -> regexp_matches(t, '^[a-z]+$')))::bigint as alpha_cnt
  from t
), p as (
  select doc_id, n_words,
         (sum_len * 1000000) // n_words as meanlen_ppm,
         (top_cnt * 1000000) // n_words as top_token_ppm,
         stop_distinct,
         (alpha_cnt * 1000000) // n_words as alpha_ppm
  from m
)
select *,
       (r_words and r_meanlen and r_toptoken and r_stop and r_alpha)
         as keep
from (
  select doc_id, n_words, meanlen_ppm, top_token_ppm, stop_distinct,
         alpha_ppm,
         n_words between {text_analysis.GOPHER_WORDS_MIN}
                     and {text_analysis.GOPHER_WORDS_MAX} as r_words,
         meanlen_ppm between {text_analysis.GOPHER_MEANLEN_MIN_PPM}
                         and {text_analysis.GOPHER_MEANLEN_MAX_PPM}
           as r_meanlen,
         top_token_ppm <= {text_analysis.GOPHER_TOPTOKEN_MAX_PPM}
           as r_toptoken,
         stop_distinct >= {text_analysis.GOPHER_STOP_MIN} as r_stop,
         alpha_ppm >= {text_analysis.GOPHER_ALPHA_MIN_PPM} as r_alpha
  from p
)
order by doc_id
"""
    # Equi-width histogram in integer cents (truncating div, both
    # operands non-negative -> identical in both engines).
    sql["price_histogram"] = f"""
with c as (select floor(o_totalprice * 100)::bigint as c from orders),
b as (select min(c) as lo, max(c) as hi from c)
select bucket,
       lo + (bucket * (hi - lo + 1)) // {relational.HIST_BUCKETS}
         as bucket_lo_cents,
       count(*) as n_orders
from (
  select least({relational.HIST_BUCKETS - 1},
               ((c.c - b.lo) * {relational.HIST_BUCKETS})
                 // greatest(b.hi - b.lo + 1, 1))::int as bucket,
         b.lo, b.hi
  from c, b
) t group by bucket, lo, hi order by bucket
"""
    # Batch tumbling/sliding windows: time_bucket twins (sliding = the
    # two offset buckets unioned; 1970 vs 2000 epoch origins align for
    # divisors of 24 h).
    sql["window_tumbling_stats"] = """
select epoch(time_bucket(interval '6 hours', ts))::bigint as w_start_s,
       event_type, count(*) as n, round(sum(value), 2) as total
from events group by 1, 2 order by 1, 2
"""
    sql["window_sliding_stats"] = """
with x as (
  select time_bucket(interval '6 hours', ts) as ws, event_type, value
  from events
  union all
  select time_bucket(interval '6 hours', ts - interval '3 hours')
           + interval '3 hours' as ws, event_type, value
  from events
)
select epoch(ws)::bigint as w_start_s, event_type,
       count(*) as n, round(sum(value), 2) as total
from x group by 1, 2 order by 1, 2
"""
    # TPC-H Q3 shape: revenue as per-row integer cents so the top-10 cut
    # cannot flip on accumulation-order noise between engines.
    sql["shipping_priority"] = """
select o_orderkey, floor(epoch(o_orderdate))::bigint as order_epoch,
       revenue_cents
from (
  select o_orderkey, o_orderdate,
         sum(round(l_extendedprice * (1 - l_discount) * 100)::bigint)
           as revenue_cents
  from customer
  join orders on c_custkey = o_custkey
  join lineitem on o_orderkey = l_orderkey
  where c_mktsegment = 'BUILDING'
    and o_orderdate < timestamp '1998-06-30'
    and l_shipdate > timestamp '1998-06-30'
  group by o_orderkey, o_orderdate
)
order by revenue_cents desc, order_epoch, o_orderkey
limit 10
"""
    # TPC-H Q4 shape: EXISTS == the Spark side's LEFT SEMI join.  All
    # o_orderdate values are midnight, so date_add (date) == + interval.
    sql["late_order_priority"] = """
select o_orderpriority, count(*) as n_late_orders
from orders o
where exists (
  select 1 from lineitem l
  where l.l_orderkey = o.o_orderkey
    and l.l_shipdate > o.o_orderdate + interval 20 day
)
group by o_orderpriority order by o_orderpriority
"""
    # TPC-H Q22 shape: integer-cents threshold (floor of exact integer
    # sum / count — one double division, bit-identical in both engines)
    # so no customer can sit within an ulp of the cut.
    sql["idle_rich_customers"] = """
with thr as (
  select floor(sum(round(c_acctbal * 100)::bigint) / count(*))::bigint
           as thr_cents
  from customer where round(c_acctbal * 100)::bigint > 0
)
select c_nationkey, count(*) as n_custs,
       sum(round(c_acctbal * 100)::bigint) as bal_cents
from customer, thr
where round(c_acctbal * 100)::bigint > thr_cents
  and not exists (select 1 from orders
                  where o_custkey = c_custkey
                    and o_orderdate >= timestamp '2000-01-01')
group by c_nationkey order by c_nationkey
"""
    # Point-in-interval join: the oracle mirrors the bin rewrite's exact
    # semantics (7 covered calendar days per order, day == day).
    sql["interval_ship_demand"] = """
with daily as (
  select cast(l_shipdate as date) as day, count(*) as n_ship,
         sum(round(l_quantity)::bigint) as qty_units
  from lineitem group by 1
), days as (
  select o_orderkey, o_orderpriority,
         cast(o_orderdate as date) + i::int as day
  from orders cross join (select unnest(generate_series(0, 6)) as i) t
)
select o_orderpriority,
       sum(n_ship) as shipped_nearby,
       sum(qty_units) as qty_nearby
from days join daily using (day)
group by o_orderpriority order by o_orderpriority
"""
    # Weekly revenue + lag: both engines truncate weeks to Monday.
    sql["revenue_wow_change"] = """
with weekly as (
  select date_trunc('week', o_orderdate) as week, count(*) as n_orders,
         sum(round(o_totalprice * 100)::bigint) as rev_cents
  from orders group by 1
)
select floor(epoch(week))::bigint as week_epoch, n_orders, rev_cents,
       lag(rev_cents) over (order by week) as prev_cents,
       rev_cents - lag(rev_cents) over (order by week) as wow_delta_cents
from weekly order by week_epoch
"""
    # SymSpell equivalence: levenshtein == 1 at a length difference of
    # exactly 1 IFF the short string is a one-deletion of the long one —
    # the oracle states the edit-distance contract literally, the Spark
    # side answers it with the deletion-variant equi-join.
    # Fellegi-Sunter truth: identical dirty-copy synthesis, nationkey
    # blocking, the same integer centibit weights and two thresholds.
    sql["record_linkage_fs"] = f"""
with clean as (
  select c_custkey as key_a, c_nationkey as nk, c_name as name_a,
         c_mktsegment as seg_a,
         cast(round(c_acctbal * 100) as bigint) as bal_a
  from customer
), dirty as (
  select c_custkey as key_b, c_nationkey as nk,
         case when c_custkey % 3 = 0
              then 'Custmoer' || substr(c_name, 9)
              else c_name end as name_b,
         case when c_custkey % 5 = 0 then c_mktsegment || 'X'
              else c_mktsegment end as seg_b,
         case when c_custkey % 7 = 0
              then cast(round(c_acctbal * 100) as bigint) + 1
              else cast(round(c_acctbal * 100) as bigint) end as bal_b
  from customer
), scored as (
  select key_a, key_b,
         (name_a = name_b)::int as name_agree,
         (seg_a = seg_b)::int as seg_agree,
         (bal_a = bal_b)::int as bal_agree
  from clean join dirty using (nk)
), s2 as (
  select *,
         cast(case when name_agree = 1 then {relational.FS_NAME_WA}
                   else {relational.FS_NAME_WD} end
            + case when seg_agree = 1 then {relational.FS_SEG_WA}
                   else {relational.FS_SEG_WD} end
            + case when bal_agree = 1 then {relational.FS_BAL_WA}
                   else {relational.FS_BAL_WD} end as bigint) as score_cbits
  from scored
)
select key_a, key_b, name_agree, seg_agree, bal_agree, score_cbits,
       case when score_cbits >= {relational.FS_LINK_T} then 'link'
            else 'possible' end as verdict
from s2 where score_cbits >= {relational.FS_NON_T}
order by key_a, key_b
"""
    sql["fuzzy_name_match"] = """
with noisy as (
  select p_partkey as src_partkey,
         substring(p_name, 1, p_partkey % length(p_name)) ||
         substring(p_name, p_partkey % length(p_name) + 2) as noisy_name
  from part
)
select distinct n.src_partkey, n.noisy_name,
       p.p_partkey as match_partkey, p.p_name as match_name
from noisy n
join part p
  on length(p.p_name) = length(n.noisy_name) + 1
 and levenshtein(n.noisy_name, p.p_name) = 1
order by src_partkey, match_partkey
"""
    # Overlapping chunk explode: generate_series and Spark sequence share
    # inclusive-stop stepped semantics; char-based length/substring in
    # both engines.
    sql["doc_chunk_overlap"] = """
select doc_id, (o // 192)::int as chunk_id, o::int as offset,
       length(substring(text, o + 1, 256)) as chunk_len,
       substring(text, o + 1, 256) as chunk
from documents
cross join unnest(generate_series(0, greatest(length(text) - 1, 0), 192))
  as t(o)
order by doc_id, chunk_id
"""
    # AUC truth: distinct-score group counts, naive exclusive-cumsum
    # window (DuckDB needs no two-pass), same tie-exact U2 identity.
    sql["auc_rank_eval"] = """
with per_score as (
  select cast(round(value * 100) as bigint) as score,
         sum(case when event_type = 'purchase' then 1 else 0 end) as n1_s,
         sum(case when event_type = 'purchase' then 0 else 1 end) as n0_s
  from events group by 1
), wb as (
  select *, coalesce(sum(n0_s) over (order by score
             rows between unbounded preceding and 1 preceding), 0)
           as n0_below
  from per_score
), a as (
  select sum(n1_s) as n_pos, sum(n0_s) as n_neg,
         sum(n1_s * (2 * n0_below + n0_s)) as u2
  from wb
)
select cast(n_pos as bigint) as n_pos, cast(n_neg as bigint) as n_neg,
       cast(u2 as bigint) as u2,
       cast(case when n_pos * n_neg = 0 then 0 else
            (2 * u2::hugeint * 1000000 + 2 * n_pos * n_neg)
            // (4 * n_pos::hugeint * n_neg) end as bigint) as auc_ppm
from a where n_pos is not null
"""
    # HLL truth: md5-32 buckets/ranks via integer bit-length, integer
    # 2^(Q-M) register sums, the published alpha_32 fixed in ppm — the
    # whole estimate is integer, so even this sketch IS reproducible.
    sql["hll_distinct_users"] = f"""
with h as (
  select event_type,
         ('0x' || substr(md5(user_id::varchar), 1, 8))::bigint as hv
  from events
), br as (
  select event_type, hv // {1 << (32 - relational.HLL_P)} as bucket,
         case when hv % {1 << (32 - relational.HLL_P)} = 0
              then {relational.HLL_Q}
              else {relational.HLL_Q}
                   - length(bin(hv % {1 << (32 - relational.HLL_P)}))
         end as rank
  from h
), reg as (
  select event_type, bucket, max(rank) as m from br group by 1, 2
), regs as (
  select * from reg
  union all
  select 'ALL' as event_type, bucket, max(m) from reg group by 2
), est as (
  select event_type, count(*) as registers_set,
         sum((1::bigint << ({relational.HLL_Q} - m)))
         + ({relational.HLL_M} - count(*))
           * (1::bigint << {relational.HLL_Q}) as s_inv
  from regs group by 1
), est2 as (
  select event_type, cast(registers_set as bigint) as registers_set,
         cast((2 * {relational.HLL_ALPHA_PPM}::hugeint
               * {relational.HLL_M * relational.HLL_M}
               * (1::bigint << {relational.HLL_Q}) + s_inv * 1000000)
              // (2 * s_inv::hugeint * 1000000) as bigint) as hll_estimate
  from est
), exact as (
  select event_type, count(distinct user_id) as exact_users from events
  group by 1
  union all
  select 'ALL', count(distinct user_id) from events
)
select e.event_type, registers_set, hll_estimate,
       cast(exact_users as bigint) as exact_users,
       cast((2 * abs(hll_estimate - exact_users)::hugeint * 1000000
             + exact_users) // (2 * exact_users) as bigint) as err_ppm
from est2 e join exact x on e.event_type = x.event_type
order by e.event_type
"""
    # KMV sketch: the portable multiplicative hash makes the ESTIMATE
    # itself reproducible cross-engine (xxhash sketches never are).
    # (k-1)*2^32 = 63*4294967296 = 270582939648.
    sql["kmv_distinct_users"] = """
with h as (
  select distinct event_type,
         (user_id * 2654435761) % 4294967296 as h
  from events
), r as (
  select event_type, h,
         row_number() over (partition by event_type order by h) as rn
  from h
), a as (
  select event_type, max(rn) as n_seen, max(h) as kth_hash
  from r where rn <= 64 group by event_type
), t as (
  select event_type, count(distinct user_id) as true_distinct
  from events group by event_type
)
select a.event_type, n_seen,
       case when n_seen < 64 then n_seen::double
            else round(270582939648.0 / kth_hash, 3)
       end as kmv_estimate,
       true_distinct
from a join t using (event_type)
order by event_type
"""
    # Watermark-bounded streaming dedup: input is every event written
    # twice with identical bytes, so whichever copy survives, the row is
    # the same — the oracle is the plain distinct.
    sql["stream_watermark_dedup"] = """
select distinct event_id, floor(epoch(ts))::bigint as epoch, user_id,
       event_type, round(value, 6) as value
from events
order by event_id
"""
    # Deterministic hash sample: keep iff hash < 10% of 2^32
    # (429496729 = (2^32 * 10) // 100).
    sql["hash_sample"] = """
select doc_id, source, lang, n_chars,
       (doc_id * 2654435761) % 4294967296 as h
from documents
where (doc_id * 2654435761) % 4294967296 < 429496729
order by doc_id
"""
    # Count-min sketch: same portable hash family as KMV, so the
    # ESTIMATES (min over depth rows of the bucket counters) reproduce
    # bit-for-bit.
    sql["cms_user_frequency"] = """
with cells as (
  select user_id, j.row,
         ((user_id + j.row * 9973) * 2654435761) % 4294967296 % 128
           as bucket
  from events
  cross join (select unnest(generate_series(0, 3)) as row) j
), sketch as (
  select row, bucket, count(*) as cnt from cells group by row, bucket
), keys as (
  select user_id, count(*) as true_events from events group by user_id
), key_cells as (
  select k.user_id, k.true_events, j.row,
         ((k.user_id + j.row * 9973) * 2654435761) % 4294967296 % 128
           as bucket
  from keys k
  cross join (select unnest(generate_series(0, 3)) as row) j
)
select kc.user_id, min(s.cnt) as cms_estimate, kc.true_events
from key_cells kc join sketch s using (row, bucket)
group by kc.user_id, kc.true_events
order by kc.user_id
"""
    # Per-group deterministic sample: k smallest portable hashes per
    # source (hash is injective on doc_id < 2^32 -> no rank ties).
    sql["group_hash_sample"] = """
with r as (
  select source, doc_id, lang, n_chars,
         row_number() over (
           partition by source
           order by (doc_id * 2654435761) % 4294967296
         ) as rn
  from documents
)
select source, rn, doc_id, lang, n_chars
from r where rn <= 5
order by source, rn
"""
    # Bloom pruning oracle via the position-set equivalence: a bit is
    # set iff SOME dim key hashes to that position, so membership can be
    # checked against the distinct position set without reproducing
    # 64-bit word wraparound.
    sql["bloom_semi_prune"] = """
with dim as (
  select distinct o_custkey as k from orders
  where o_orderdate >= timestamp '2001-06-01'
), js as (select unnest(generate_series(0, 3)) as j),
dim_pos as (
  select distinct ((k + j * 9973) * 2654435761) % 4294967296 % 4096 as p
  from dim cross join js
), probe as (
  select c_custkey,
         ((c_custkey + j * 9973) * 2654435761) % 4294967296 % 4096 as p
  from customer cross join js
), checked as (
  select c_custkey,
         sum(case when dp.p is not null then 1 else 0 end) as hits
  from probe left join dim_pos dp using (p)
  group by c_custkey
), truth as (
  select c_custkey,
         max(case when k is not null then 1 else 0 end) as true_match
  from customer left join dim on c_custkey = k
  group by c_custkey
)
select c.c_custkey,
       case when hits = 4 then 1 else 0 end as bloom_pass,
       t.true_match
from checked c join truth t using (c_custkey)
order by c_custkey
"""
    # NFC + cleanup chain: nfc_normalize, CRLF->LF, zero-width strip,
    # horizontal-whitespace collapse, edge trim — same op order as the
    # pandas kernel.
    sql["text_normalize"] = """
with raw as (
  select doc_id,
         (case when doc_id % 3 = 0 then 'e' || chr(769) || ' '
               when doc_id % 3 = 1 then chr(233) || ' '
               else '' end)
         || chr(9) || ' ' || text || chr(13) || chr(10) || ' tail'
         || chr(8203) as raw
  from documents
), norm as (
  select doc_id, length(raw) as n_raw,
         trim(
           regexp_replace(
             regexp_replace(
               regexp_replace(nfc_normalize(raw), '\\r\\n?', chr(10), 'g'),
               '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279)
                 || ']', '', 'g'),
             '[ ' || chr(9) || ']+', ' ', 'g'),
           ' ' || chr(9) || chr(10)) as norm
  from raw
)
select doc_id, n_raw, length(norm) as n_norm,
       substring(norm, 1, 40) as norm_head,
       substring(norm, greatest(length(norm) - 11, 1), 12) as norm_tail
from norm order by doc_id
"""
    # KN truth: one bigram count, marginals, the same two-floor ppb
    # arithmetic with hugeint widening.
    sql["kneser_ney_bigram"] = """
with t as (
  select string_split(lower(text), ' ') as toks from documents
),
b as (
  select unnest(toks[1:len(toks)-1]) as w1,
         unnest(toks[2:len(toks)]) as w2
  from t
),
cxy as materialized (
  select w1, w2, count(*) as c_xy from b group by w1, w2
),
l as (
  select w1, sum(c_xy) as c_head, count(*) as n1p_left
  from cxy group by w1
),
r as (
  select w2, count(*) as n1p_right from cxy group by w2
),
ty as (select count(*) as n_types from cxy)
select cxy.w1, cxy.w2, c_xy,
       cast(c_head as bigint) as c_head,
       cast(n1p_left as bigint) as n1p_left,
       cast(n1p_right as bigint) as n1p_right,
       cast(greatest(c_xy * 1000 - 750, 0)::hugeint * 1000000 // c_head
            + (750000000::hugeint * n1p_left * n1p_right)
              // (c_head * n_types)
            as bigint) as p_kn_ppb
from cxy join l on cxy.w1 = l.w1 join r on cxy.w2 = r.w2, ty
order by cxy.w1, cxy.w2
"""
    # Mojibake truth: identical chr()-built corruption + ordered
    # replace chain; per-pair counts from char-length deltas.
    sql["encoding_repair"] = """
with bad as (
  select chr(226) || chr(8364) || chr(8482) as sq,
         chr(226) || chr(8364) || chr(339)  as dq,
         chr(226) || chr(8364) || chr(8221) as em,
         chr(195) || chr(169)               as ea,
         chr(8217) as sq_g, chr(8220) as dq_g,
         chr(8212) as em_g, chr(233) as ea_g
),
c0 as (
  select doc_id, length(text) as base_len,
         text || case when doc_id % 4 = 0
                        then ' caf' || ea || ' r' || ea || 'sum' || ea
                      when doc_id % 4 = 1
                        then ' don' || sq || 't ' || em || ' wait'
                      when doc_id % 4 = 2
                        then ' ' || dq || 'quoted' || sq
                      else '' end as c
  from documents, bad
),
r as (
  select doc_id, base_len, c,
         ((length(c) - length(replace(c, sq, ''))) // 3
          + (length(c) - length(replace(c, dq, ''))) // 3
          + (length(c) - length(replace(c, em, ''))) // 3
          + (length(c) - length(replace(c, ea, ''))) // 2) as n_moj,
         replace(replace(replace(replace(c, sq, sq_g),
                                 dq, dq_g), em, em_g), ea, ea_g) as fx
  from c0, bad
)
select doc_id,
       cast(n_moj as bigint) as n_mojibake,
       n_moj > 0 as was_corrupted,
       length(c) as n_chars_bad,
       length(fx) as n_chars_fixed,
       substr(fx, base_len + 1, 40) as fixed_tail
from r order by doc_id
"""
    # HRW truth: per-(doc, s) hash rows, argmax by (hv desc, s desc) —
    # identical tie rule to the Spark sort_array(desc) pick.
    sql["rendezvous_shard"] = """
with d as (select doc_id from documents),
g as (select doc_id, unnest(range(0, 9)) as s from d),
m as (
  select doc_id, s,
         (doc_id * 2654435761 + s * 40503) % 2147483647 as mv
  from g
), h as (
  select doc_id, s, (mv * mv) % 2147483647 as hv from m
), a8 as (
  select doc_id, s as shard8 from h where s < 8
  qualify row_number() over (partition by doc_id
                             order by hv desc, s desc) = 1
), a9 as (
  select doc_id, s as shard9 from h
  qualify row_number() over (partition by doc_id
                             order by hv desc, s desc) = 1
)
select d.doc_id, shard8, shard9,
       (shard8 <> shard9)::int as moved
from d join a8 using (doc_id) join a9 using (doc_id)
order by d.doc_id
"""
    # Deterministic shard packing: portable-hash permutation, shard =
    # h mod N_SHARDS, per-shard position + running byte offset.
    # int8 quantization truth: float64 all the way (list elements cast
    # BEFORE any arithmetic), round() = half away from zero in both
    # engines; the CSV pins every quantized component.
    sql["embedding_quantize_int8"] = """
with q as (
  select vec_id,
         len(embedding) as n_dims,
         list_transform(
           embedding::double[],
           x -> case when list_max(list_transform(embedding::double[],
                                                  y -> abs(y))) = 0
                     then 0
                     else cast(round(x * 127.0 /
                       list_max(list_transform(embedding::double[],
                                               y -> abs(y)))) as int)
                end
         ) as qv
  from embeddings
)
select vec_id, cast(n_dims as int) as n_dims,
       cast(list_sum(qv) as bigint) as q_sum,
       cast(list_sum(list_transform(qv, v -> abs(v))) as bigint)
         as q_abs_sum,
       array_to_string(qv, ',') as q_csv
from q order by vec_id
"""
    # Quantized retrieval truth: the same quantize expression feeds an
    # integer dot product — bigint arithmetic end to end.
    sql["ann_int8_topk"] = f"""
with q as (
  select vec_id, label,
         list_transform(
           embedding::double[],
           x -> case when list_max(list_transform(embedding::double[],
                                                  y -> abs(y))) = 0
                     then 0
                     else cast(round(x * 127.0 /
                       list_max(list_transform(embedding::double[],
                                               y -> abs(y)))) as bigint)
                end
         ) as qv
  from embeddings
), qq as (select qv as query_qv from q where vec_id = 0)
select e.vec_id, e.label,
       cast(list_sum(list_transform(range(1, len(e.qv) + 1),
              i -> e.qv[i] * qq.query_qv[i])) as bigint) as int_dot
from q e cross join qq
where e.vec_id <> 0
order by int_dot desc, e.vec_id limit {similarity.TOP_K}
"""
    # Posting-list truth: the lag-window gap IS the delta encoding; the
    # ordered string_agg pins doc order so the hash checks list ORDER,
    # not just membership.
    sql["inverted_index_postings"] = """
with t as (
  select doc_id, unnest(string_split(lower(text), ' ')) as term
  from documents
), pd as (
  select term, doc_id, count(*) as tf from t group by 1, 2
), g as (
  select term, doc_id, tf,
         doc_id - coalesce(
           lag(doc_id) over (partition by term order by doc_id), 0
         ) as gap
  from pd
)
select term, count(*) as df, sum(tf) as cf,
       string_agg(gap::varchar, ',' order by doc_id) as doc_gaps,
       string_agg(tf::varchar, ',' order by doc_id) as tfs
from g group by term order by term
"""
    # Lift in exact ppm integer arithmetic: same div, same marginals —
    # any float log would hash-differ at the ulp.
    sql["pmi_bigram_lift"] = f"""
with toks as (
  select string_split(lower(text), ' ') as ws from documents
), pos as (
  select ws, unnest(generate_series(1, len(ws) - 1)) as i from toks
), bg as (
  select ws[i] as w1, ws[i + 1] as w2 from pos
), cxy as (
  select w1, w2, count(*) as c_xy from bg group by 1, 2
), lx as (select w1, sum(c_xy) as c_x from cxy group by 1),
rx as (select w2, sum(c_xy) as c_y from cxy group by 1),
n as (select sum(c_xy) as np from cxy)
select w1, w2, c_xy,
       cast(c_x as bigint) as c_x, cast(c_y as bigint) as c_y,
       cast((1000000 * c_xy * np) // (c_x * c_y) as bigint) as lift_ppm
from cxy join lx using (w1) join rx using (w2) cross join n
where c_xy >= {text_analysis.PMI_MIN_COUNT}
order by lift_ppm desc, c_xy desc, w1, w2 limit {text_analysis.PMI_TOP_K}
"""
    sql["shard_pack_manifest"] = """
with m as (
  select doc_id, n_chars,
         (doc_id * 2654435761) % 4294967296 as h
  from documents
), s as (
  select doc_id, n_chars, h, h % 8 as shard from m
)
select doc_id, shard,
       row_number() over (partition by shard order by h) as pos,
       cast(coalesce(sum(n_chars) over (
           partition by shard order by h
           rows between unbounded preceding and 1 preceding), 0)
         as bigint) as byte_offset
from s order by doc_id
"""
    # Two-pass global rank == a plain global row_number when the hash
    # has no ties (multiplicative hash is injective on the key domain).
    sql["global_rank_two_pass"] = """
select o_orderkey,
       row_number() over (
         order by (o_orderkey * 2654435761) % 4294967296
       ) as global_rank
from orders
order by o_orderkey
"""
    # Media-blob dedup over the derived interleaved spans: same span
    # derivation as span_explode, media = token length divisible by 3.
    sql["media_ref_dedup"] = """
with spans as (
  select doc_id, u.tok
  from documents,
       unnest(string_split(text, ' ')) as u(tok)
  where length(u.tok) % 3 = 0
)
select tok as media_key,
       count(distinct doc_id) as n_docs,
       count(*) as n_occurrences,
       min(doc_id) as canonical_doc,
       cast((count(*) - 1) * length(tok) as bigint) as bytes_saved
from spans
group by tok
having count(distinct doc_id) > 1
order by media_key
"""
    # Q5 star-join: same integer hundredths-of-a-cent revenue formula.
    sql["regional_revenue"] = """
select n_name,
       cast(sum(cast(round(l_extendedprice * 100) as bigint)
                * (100 - cast(round(l_discount * 100) as bigint)))
         as bigint) as revenue_c2
from lineitem
join orders   on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
join nation   on s_nationkey = n_nationkey
join region   on n_regionkey = r_regionkey
where r_name = 'ASIA'
  and o_orderdate >= timestamp '2000-01-01'
  and o_orderdate <  timestamp '2001-01-01'
group by n_name
order by n_name
"""
    # Order statistics are tie-insensitive: the oracle reads the exact
    # rank-k value directly; the Spark side reaches the same value via
    # histogram refinement without a global sort.
    sql["exact_quantile_refine"] = """
with o as (
  select cast(round(o_totalprice * 100) as bigint) as cents from orders
), r as (
  select cents, row_number() over (order by cents) as rn from o
), n as (select count(*) as c from o),
ks as (
  select 'p25' as quantile, greatest(1, (25 * c + 99) // 100) as k from n
  union all
  select 'p50', greatest(1, (50 * c + 99) // 100) from n
  union all
  select 'p75', greatest(1, (75 * c + 99) // 100) from n
)
select ks.quantile, r.cents as value_cents
from ks join r on r.rn = ks.k
order by ks.quantile
"""
    # Integer-exact EWMA: lag j weighted 2^(9-j) on cents, reported at
    # each user's latest event.
    sql["ewma_user_value"] = """
with ev as (
  select user_id, ts, event_id,
         cast(round(value * 100) as bigint) as cents
  from events
), wtd as (
  select user_id, ts, event_id,
         (coalesce(lag(cents, 0) over w, 0) * 512
        + coalesce(lag(cents, 1) over w, 0) * 256
        + coalesce(lag(cents, 2) over w, 0) * 128
        + coalesce(lag(cents, 3) over w, 0) * 64
        + coalesce(lag(cents, 4) over w, 0) * 32
        + coalesce(lag(cents, 5) over w, 0) * 16
        + coalesce(lag(cents, 6) over w, 0) * 8
        + coalesce(lag(cents, 7) over w, 0) * 4
        + coalesce(lag(cents, 8) over w, 0) * 2
        + coalesce(lag(cents, 9) over w, 0) * 1) as ewma_scaled,
         row_number() over (
           partition by user_id order by ts desc, event_id desc
         ) as rn
  from ev
  window w as (partition by user_id order by ts, event_id)
)
select user_id, cast(ewma_scaled as bigint) as ewma_scaled
from wtd where rn = 1
order by user_id
"""
    # Component truth = transitive closure by recursive CTE (min over
    # all reachable labels); the Spark side must reach the identical
    # labeling via star contraction.
    sql["connected_components_labels"] = """
with recursive raw as (
  select (event_id % 25) * 8 + (event_id % 8) as x,
         (((event_id * 2654435761) % 4294967296) % 25) * 8
           + (event_id % 8) as y
  from events
), edges as (
  select distinct least(x, y) as a, greatest(x, y) as b
  from raw where x <> y
), nodes as (
  select a as n from edges union select b from edges
), sym as (
  select a as s, b as d from edges union select b, a from edges
), reach(n, lab) as (
  select n, n from nodes
  union
  select s.s, r.lab from sym s join reach r on r.n = s.d
), cc as (
  select n as node, min(lab) as cluster_id from reach group by n
)
select node, cluster_id,
       count(*) over (partition by cluster_id) as cluster_size
from cc order by node
"""
    # 2-hop truth: wedge join through the middle node, minus direct
    # neighbors and self (NOT EXISTS = the Spark anti-join).
    sql["two_hop_neighbors"] = """
with raw as (
  select (event_id % 25) * 8 + (event_id % 8) as x,
         (((event_id * 2654435761) % 4294967296) % 25) * 8
           + (event_id % 8) as y
  from events
), edges as (
  select distinct least(x, y) as a, greatest(x, y) as b
  from raw where x <> y
), sym as (
  select a as u, b as v from edges
  union all select b, a from edges
), wedge as (
  select distinct s1.v as v, s2.v as w
  from sym s1 join sym s2 on s1.u = s2.u
  where s1.v <> s2.v
), twoh as (
  select v, w from wedge
  where not exists (
    select 1 from sym s where s.u = wedge.v and s.v = wedge.w
  )
)
select v as node, count(*) as n_two_hop
from twoh group by v order by node
"""
    # Half-life truth: exact power-of-two weights on integer cents.
    sql["half_life_engagement"] = """
with ev as (
  select user_id, cast(ts as date) as d,
         cast(round(value * 100) as bigint) as cents
  from events
), mx as (select max(d) as mxd from ev),
aged as (
  select user_id, cents,
         least(date_diff('day', d, mxd), 30) as age
  from ev cross join mx
)
select user_id,
       cast(sum(cents * (1::bigint << (30 - age))) as bigint)
         as decayed_cents_x2c,
       count(*) as n_events
from aged group by user_id order by user_id
"""
    # KMV join-size truth: identical sketch algebra, nested integer div.
    sql["join_size_estimate"] = """
with ha as (
  select distinct (user_id * 2654435761) % 4294967296 as h
  from events where event_type = 'view' order by h limit 64
), hb as (
  select distinct (user_id * 2654435761) % 4294967296 as h
  from events where event_type = 'purchase' order by h limit 64
), un as (
  select h from (select h from ha union select h from hb) u
  order by h limit 64
), thr as (select max(h) as hk, count(*) as k from un),
common as (
  select count(*) as c
  from ha join hb using (h) cross join thr
  where h <= hk
), exact as (
  select count(*) as exact_n from (
    select user_id from events where event_type = 'view'
    intersect
    select user_id from events where event_type = 'purchase'
  ) q
)
select k, c, exact_n,
       cast((c * ((k - 1) * 4294967296 // hk)) // k as bigint) as est_n,
       cast((abs(cast((c * ((k - 1) * 4294967296 // hk)) // k as bigint)
                 - exact_n) * 1000000) // greatest(exact_n, 1) as bigint)
         as err_ppm
from thr cross join common cross join exact
"""
    # Pruning-audit truth: same bucket formulas, same stats test.
    sql["pruning_effectiveness"] = """
with arrival as (
  select doc_id // 50 as bucket, n_chars from documents
), by_len as (
  select (row_number() over (order by n_chars, doc_id) - 1) // 50
           as bucket,
         n_chars
  from documents
), sa as (
  select min(n_chars) as lo, max(n_chars) as hi
  from arrival group by bucket
), sb as (
  select min(n_chars) as lo, max(n_chars) as hi
  from by_len group by bucket
), ra as (
  select 'arrival' as layout, count(*) as n_buckets,
         sum(case when hi < 400 or lo > 500 then 1 else 0 end)
           as n_skippable
  from sa
), rb as (
  select 'sorted' as layout, count(*) as n_buckets,
         sum(case when hi < 400 or lo > 500 then 1 else 0 end)
           as n_skippable
  from sb
)
select layout, n_buckets,
       cast(n_skippable as bigint) as n_skippable,
       cast((n_skippable * 1000000) // n_buckets as bigint) as skip_ppm
from (select * from ra union all select * from rb)
order by layout
"""
    # MERGE truth: last-writer-wins per side, full outer, delete filter
    # AFTER the join (a delete of an absent key must be a no-op).
    sql["cdc_apply"] = """
with ev as (
  select user_id, ts, event_id,
         cast(round(value * 100) as bigint) as cents,
         (event_id % 10 = 0) as is_delete
  from events
), base as (
  select user_id, cents as b_cents, ts as b_ts from ev
  where ts < timestamp '2024-01-20'
  qualify row_number() over (partition by user_id
                             order by ts desc, event_id desc) = 1
), delta as (
  select user_id, cents as d_cents, ts as d_ts, is_delete from ev
  where ts >= timestamp '2024-01-20'
  qualify row_number() over (partition by user_id
                             order by ts desc, event_id desc) = 1
)
select user_id,
       coalesce(d_cents, b_cents) as cents,
       coalesce(d_ts, b_ts) as ts,
       case when d_ts is not null then 'updated' else 'base' end as src
from base full outer join delta using (user_id)
where is_delete is null or not is_delete
order by user_id
"""
    # Cohort truth: epoch-week floor division, distinct (user, week)
    # activity, ppm integer division.
    sql["cohort_retention"] = """
with ev as (
  select user_id,
         date_diff('day', date '1970-01-01', cast(ts as date)) // 7 as week
  from events
), first as (
  select user_id, min(week) as cohort_week from ev group by user_id
), active as (
  select distinct user_id, week from ev
), joined as (
  select f.cohort_week, a.week - f.cohort_week as "offset"
  from active a join first f using (user_id)
), sizes as (
  select cohort_week, count(*) as cohort_users from first group by 1
), matrix as (
  select cohort_week, "offset", count(*) as n_active
  from joined group by 1, 2
)
select m.cohort_week, m."offset" as offset, m.n_active, s.cohort_users,
       (m.n_active * 1000000) // s.cohort_users as retention_ppm
from matrix m join sizes s using (cohort_week)
order by m.cohort_week, m."offset"
"""
    # Robots LPM truth: same host/path arithmetic, rules via VALUES,
    # longest matching prefix wins (rank by length desc, prefix asc).
    sql["robots_gate"] = """
with urls as (
  select doc_id,
         'site' || (doc_id % 5) || '.com' as host,
         '/path/' || (doc_id % 20) as path
  from documents
), hosts as (
  select distinct host, (doc_id % 5) as h from urls
), rules as (
  select host, prefix, verdict
  from hosts cross join (values
    ('/', 'allow'), ('/path/1', 'deny'), ('/path/12', 'allow')
  ) as r(prefix, verdict)
  union all
  select host, '/path/3', 'deny' from hosts where h % 2 = 0
), matched as (
  select u.doc_id, u.host, u.path, r.prefix, r.verdict,
         row_number() over (partition by u.doc_id
                            order by length(r.prefix) desc, r.prefix)
           as rk
  from urls u join rules r on u.host = r.host
  where starts_with(u.path, r.prefix)
)
select doc_id, host, path, prefix as matched_prefix, verdict
from matched where rk = 1 order by doc_id
"""
    # Boolean-AND truth: distinct matched terms == |query|, tf pivot.
    sql["conjunctive_search"] = """
with t as (
  select doc_id, unnest(string_split(lower(text), ' ')) as tk
  from documents
), hits as (
  select doc_id, tk from t where tk in ('spark', 'join', 'filter')
)
select doc_id,
       sum(case when tk = 'spark' then 1 else 0 end) as tf_spark,
       sum(case when tk = 'join' then 1 else 0 end) as tf_join,
       sum(case when tk = 'filter' then 1 else 0 end) as tf_filter
from hits group by doc_id
having count(distinct tk) = 3
order by doc_id
"""
    # Transition-table truth: same double rank, ppm conditional prob.
    sql["bigram_next_token"] = f"""
with toks as (
  select string_split(lower(text), ' ') as ws from documents
), pos as (
  select ws, unnest(generate_series(1, len(ws) - 1)) as i from toks
), bg as (
  select ws[i] as w1, ws[i + 1] as w2 from pos
), cxy as (
  select w1, w2, count(*) as c_xy from bg group by 1, 2
), heads as (
  select w1, sum(c_xy) as c_head,
         row_number() over (order by sum(c_xy) desc, w1) as head_rank
  from cxy group by w1
  qualify head_rank <= {text_analysis.NEXT_TOKEN_HEADS}
), ranked as (
  select c.w1, h.head_rank, c.w2, c.c_xy, h.c_head,
         row_number() over (partition by c.w1
                            order by c.c_xy desc, c.w2) as next_rank
  from cxy c join heads h using (w1)
  qualify next_rank <= {text_analysis.NEXT_TOKEN_K}
)
select w1, cast(head_rank as int) as head_rank,
       cast(next_rank as int) as next_rank, w2,
       c_xy, cast(c_head as bigint) as c_head,
       cast((c_xy * 1000000) // c_head as bigint) as cond_ppm
from ranked order by head_rank, next_rank
"""
    # Drift truth: even/odd halves, ppm shares, conditional-agg pivot.
    # Isotonic truth: same per-bucket rollup (reusing the
    # quality_calibration oracle as the bin CTE), same ppm-rounded
    # minimax identity over B^3 bounded rows.
    sql["isotonic_calibration"] = f"""
with bins as materialized ({{qc}}),
cum as (
  select bucket, n_docs, n_kept,
         sum(n_kept) over (order by bucket) as ck,
         sum(n_docs) over (order by bucket) as cd
  from bins
), lo as (
  select bucket as j, ck - n_kept as k_lo, cd - n_docs as d_lo from cum
), hi as (
  select bucket as k, ck as k_hi, cd as d_hi from cum
), ranges as (
  select j, k,
         (2 * (k_hi - k_lo) * 1000000 + (d_hi - d_lo))
           // (2 * (d_hi - d_lo)) as mean_ppm
  from lo join hi on j <= k
), inner_min as (
  select b.bucket as i, r.j, min(r.mean_ppm) as m
  from ranges r join bins b on r.j <= b.bucket and b.bucket <= r.k
  group by 1, 2
), iso as (
  select i, max(m) as iso_ppm from inner_min group by 1
)
select b.bucket, b.n_docs, b.n_kept, b.keep_ppm as raw_ppm,
       cast(iso_ppm as bigint) as iso_ppm
from bins b join iso on b.bucket = iso.i
order by b.bucket
""".format(qc=sql["quality_calibration"])
    # Confusion truth: the lang_id oracle as the prediction CTE.
    sql["lang_id_confusion"] = """
with pred as materialized ({li}),
cells as (
  select d.lang as true_lang, p.pred_lang, count(*) as n_docs
  from documents d join pred p on d.doc_id = p.doc_id
  group by 1, 2
), totals as (
  select true_lang, sum(n_docs) as class_total from cells group by 1
)
select c.true_lang, c.pred_lang,
       cast(c.n_docs as bigint) as n_docs,
       cast(t.class_total as bigint) as class_total,
       cast((2 * c.n_docs * 1000000 + t.class_total)
            // (2 * t.class_total) as bigint) as cell_ppm
from cells c join totals t on c.true_lang = t.true_lang
order by c.true_lang, c.pred_lang
""".format(li=sql["lang_id"])
    # CCNet-bucket truth: the lm_perplexity oracle as the score CTE,
    # same exact tertile edges over distinct ppl-milli values.
    sql["perplexity_bucket_mix"] = """
with ppl as materialized ({lm}),
pm as (
  select d.doc_id, d.lang, p.n_tokens,
         cast(round(p.ppl * 1000) as bigint) as pplm
  from documents d join ppl p on d.doc_id = p.doc_id
), counts as (
  select lang, pplm, count(*) as nd, sum(n_tokens) as nt
  from pm group by 1, 2
), cum as (
  select lang, pplm,
         sum(nd) over (partition by lang order by pplm
                       rows between unbounded preceding
                       and current row) as cum
  from counts
), ntot as (select lang, count(*) as n from pm group by 1),
e1 as (
  select c.lang, min(pplm) as e1 from cum c join ntot t on c.lang = t.lang
  where cum >= (n + 2) // 3 group by 1
), e2 as (
  select c.lang, min(pplm) as e2 from cum c join ntot t on c.lang = t.lang
  where cum >= (2 * n + 2) // 3 group by 1
)
select pm.lang,
       case when pplm <= e1.e1 then 'head'
            when pplm <= e2.e2 then 'middle'
            else 'tail' end as bucket,
       count(*) as n_docs,
       cast(sum(n_tokens) as bigint) as tok_total
from pm join e1 on pm.lang = e1.lang join e2 on pm.lang = e2.lang
group by 1, 2 order by 1, 2
""".format(lm=sql["lm_perplexity"])
    # Entropy-rate truth: same per-doc lead pairs, same micro-nat
    # rounding per bigram, same bigint accumulation.
    sql["entropy_rate"] = """
with toks as (
  select source, doc_id, pos, term from (
    select source, doc_id,
           generate_subscripts(string_split(lower(text), ' '), 1) as pos,
           unnest(string_split(lower(text), ' ')) as term
    from documents) t
  where term != ''
), pairs as (
  select source, a, b from (
    select source, term as a,
           lead(term) over (partition by doc_id order by pos) as b
    from toks) t
  where b is not null
), cab as (
  select source, a, b, count(*) as c_ab from pairs group by 1, 2, 3
), ca as (
  select source, a, sum(c_ab) as c_a from cab group by 1, 2
), tot as (
  select source, sum(c_ab) as t from cab group by 1
), term as (
  select cab.source,
         cast(round((c_ab / t::double) * ln(c_a / c_ab::double)
                    * 1000000) as bigint) as h_micro
  from cab join ca on cab.source = ca.source and cab.a = ca.a
  join tot on cab.source = tot.source
)
select source, cast(sum(h_micro) as bigint) as entropy_rate_micro,
       count(*) as n_bigram_types
from term group by 1 order by 1
"""
    # Skip-gram truth: same per-doc lead offsets, both directions,
    # same deterministic cut.
    sql["skipgram_pairs"] = f"""
with toks as (
  select doc_id, pos, term from (
    select doc_id,
           generate_subscripts(string_split(lower(text), ' '), 1) as pos,
           unnest(string_split(lower(text), ' ')) as term
    from documents) t
  where term != ''
), leads as (
  select term,
         {", ".join(
             f"lead(term, {d}) over (partition by doc_id order by pos)"
             f" as l{d}"
             for d in range(1, text_analysis.SKIPGRAM_WINDOW + 1))}
  from toks
), pairs as (
  {" union all ".join(
      f"select term as center, l{d} as context from leads"
      f" where l{d} is not null"
      f" union all select l{d} as center, term as context from leads"
      f" where l{d} is not null"
      for d in range(1, text_analysis.SKIPGRAM_WINDOW + 1))}
)
select center, context, count(*) as n
from pairs group by 1, 2
having count(*) >= {text_analysis.SKIPGRAM_MIN_COUNT}
order by n desc, center, context limit {text_analysis.SKIPGRAM_TOP}
"""
    # Burstiness truth: same (doc,term) pre-agg, same ppm, same cut.
    sql["term_burstiness"] = f"""
with per_doc as (
  select doc_id, term, count(*) as k from (
    select doc_id, unnest(string_split(lower(text), ' ')) as term
    from documents) t
  where term != '' group by 1, 2
), stats as (
  select term, count(*) as df, sum(k) as cf from per_doc group by 1
)
select term, cast(df as bigint) as df, cast(cf as bigint) as cf,
       cast((2 * cf * 1000000 + df) // (2 * df) as bigint) as burst_ppm
from stats where df >= {text_analysis.BURST_MIN_DF}
order by burst_ppm desc, df desc, term limit {text_analysis.BURST_TOP}
"""
    # JS truth: same tokenization, same half-weighted micro-nat
    # contributions, same associative bigint total.
    sql["js_divergence_drift"] = """
with t as (
  select doc_id % 2 = 0 as is_a,
         unnest(string_split(lower(text), ' ')) as term
  from documents
), counts as (
  select term,
         sum(case when is_a then 1 else 0 end) as cnt_a,
         sum(case when not is_a then 1 else 0 end) as cnt_b
  from t where term != '' group by term
), tot as (
  select sum(cnt_a) as tot_a, sum(cnt_b) as tot_b from counts
), contrib as (
  select cast(round((
           case when cnt_a = 0 then 0.0 else
             (cnt_a / tot_a::double) *
             ln(2.0 * (cnt_a / tot_a::double) /
                (cnt_a / tot_a::double + cnt_b / tot_b::double)) end
         + case when cnt_b = 0 then 0.0 else
             (cnt_b / tot_b::double) *
             ln(2.0 * (cnt_b / tot_b::double) /
                (cnt_a / tot_a::double + cnt_b / tot_b::double)) end
         ) * 500000) as bigint) as term_js_micro
  from counts cross join tot
)
select cast(sum(term_js_micro) as bigint) as js_micro,
       count(*) as n_terms,
       cast(tot.tot_a as bigint) as tot_a,
       cast(tot.tot_b as bigint) as tot_b
from contrib cross join tot group by tot.tot_a, tot.tot_b
"""
    sql["term_drift"] = f"""
with t as (
  select doc_id % 2 = 0 as is_a,
         unnest(string_split(lower(text), ' ')) as term
  from documents
), counts as (
  select term,
         sum(case when is_a then 1 else 0 end) as cnt_a,
         sum(case when not is_a then 1 else 0 end) as cnt_b
  from t group by term
), tot as (
  select sum(cnt_a) as tot_a, sum(cnt_b) as tot_b from counts
)
select term, cast(cnt_a as bigint) as cnt_a, cast(cnt_b as bigint) as cnt_b,
       cast((cnt_a * 1000000) // greatest(tot_a, 1) as bigint)
         as share_a_ppm,
       cast((cnt_b * 1000000) // greatest(tot_b, 1) as bigint)
         as share_b_ppm,
       abs(cast((cnt_a * 1000000) // greatest(tot_a, 1) as bigint)
           - cast((cnt_b * 1000000) // greatest(tot_b, 1) as bigint))
         as drift_ppm
from counts cross join tot
order by drift_ppm desc, term limit {text_analysis.DRIFT_TOP}
"""
    # Basket truth: distinct (order, part), pair self-join, top support.
    sql["market_basket_pairs"] = f"""
with li as (
  select distinct l_orderkey as ok, l_partkey as pk from lineitem
), pairs as (
  select a.pk as pa, b.pk as pb, count(*) as support
  from li a join li b on a.ok = b.ok and a.pk < b.pk
  group by 1, 2
), freq as (
  select pk, count(*) as n_orders from li group by pk
)
select pa, pb, support,
       fa.n_orders as n_a, fb.n_orders as n_b
from pairs join freq fa on pairs.pa = fa.pk
           join freq fb on pairs.pb = fb.pk
order by support desc, pa, pb limit {relational.BASKET_TOP}
"""
    # Anomaly truth: lag-7 window over day counts, ppm ratio, strict >.
    sql["events_anomaly_days"] = """
with ev as (
  select date_diff('day', date '1970-01-01', cast(ts as date)) as day
  from events
), daily as (select day, count(*) as n from ev group by day),
trailed as (
  select day, n,
         count(n) over (order by day
                        rows between 7 preceding and 1 preceding)
           as trail_n,
         sum(n) over (order by day
                      rows between 7 preceding and 1 preceding)
           as trail_sum
  from daily
)
select day, n,
       case when trail_n = 7
            then cast((n * 7 * 1000000) // trail_sum as bigint)
       end as ratio_ppm,
       cast(coalesce(
         (case when trail_n = 7
               then (n * 7 * 1000000) // trail_sum end) > 1500000,
         false) as int) as is_anomaly
from trailed order by day
"""
    # LTV truth: rank over the aggregated user table, equal-count cut.
    sql["ltv_deciles"] = """
with ev as (
  select user_id, cast(round(value * 100) as bigint) as cents from events
), ltv as (
  select user_id, sum(cents) as ltv_cents from ev group by user_id
), nt as (select count(*) as n_total from ltv),
ranked as (
  select ltv_cents,
         row_number() over (order by ltv_cents desc, user_id) as rk
  from ltv
), dec as (
  select cast(((rk - 1) * 10) // n_total as bigint) as decile, ltv_cents
  from ranked cross join nt
), tot as (select sum(ltv_cents) as tot from ltv)
select decile, count(*) as n_users,
       cast(min(ltv_cents) as bigint) as min_cents,
       cast(max(ltv_cents) as bigint) as max_cents,
       cast(sum(ltv_cents) as bigint) as sum_cents,
       cast((sum(ltv_cents) * 1000000) // max(tot) as bigint)
         as value_share_ppm
from dec cross join tot group by decile order by decile
"""
    # DQ truth: one conditional-aggregate scan, unpivoted tall.
    sql["dq_expectations"] = """
with agg as (
  select count(*) as n,
         sum(case when o_orderkey is null then 1 else 0 end) as f_key_null,
         count(*) - count(distinct o_orderkey) as f_key_dupes,
         sum(case when o_custkey is null then 1 else 0 end) as f_cust_null,
         sum(case when not (o_totalprice > 0) then 1 else 0 end)
           as f_price_pos,
         sum(case when o_orderstatus not in ('O', 'F', 'P') then 1
                  else 0 end) as f_status_set,
         sum(case when not (o_orderdate >= timestamp '1992-01-01'
                            and o_orderdate < timestamp '2030-01-01')
                  then 1 else 0 end) as f_date_range
  from orders
)
select e.expectation, a.n as n_checked,
       cast(case e.expectation
         when 'orderkey_not_null' then a.f_key_null
         when 'orderkey_unique' then a.f_key_dupes
         when 'custkey_not_null' then a.f_cust_null
         when 'totalprice_positive' then a.f_price_pos
         when 'orderstatus_accepted' then a.f_status_set
         else a.f_date_range end as bigint) as n_failed,
       cast(case when (case e.expectation
         when 'orderkey_not_null' then a.f_key_null
         when 'orderkey_unique' then a.f_key_dupes
         when 'custkey_not_null' then a.f_cust_null
         when 'totalprice_positive' then a.f_price_pos
         when 'orderstatus_accepted' then a.f_status_set
         else a.f_date_range end) = 0 then 1 else 0 end as int) as pass
from agg a cross join (values
  ('custkey_not_null'), ('orderdate_in_horizon'),
  ('orderkey_not_null'), ('orderkey_unique'),
  ('orderstatus_accepted'), ('totalprice_positive')
) as e(expectation)
order by e.expectation
"""
    # Dwell truth: lead over (user, ts, event_id), integer-div average.
    sql["dwell_time_stats"] = """
with ev as (
  select user_id, event_type,
         cast(epoch(date_trunc('second', ts)) as bigint) as s, event_id
  from events
), gapped as (
  select event_type,
         lead(s) over (partition by user_id
                       order by s, event_id) - s as gap_s
  from ev
)
select event_type, count(*) as n_gaps,
       cast(sum(gap_s) // count(*) as bigint) as avg_gap_s,
       min(gap_s) as min_gap_s, max(gap_s) as max_gap_s
from gapped where gap_s is not null
group by event_type order by event_type
"""
    # Sliding-distinct truth: dedup to (user, day), explode into the 7
    # covering window-ends, distinct, count; full windows only.
    sql["sliding_distinct_users"] = """
with ev as (
  select user_id,
         date_diff('day', date '1970-01-01', cast(ts as date)) as day
  from events
), activity as (select distinct user_id, day from ev),
bounds as (select min(day) as d0, max(day) as d1 from ev),
covered as (
  select distinct user_id, day + o as win_end
  from activity cross join unnest(range(0, 7)) as t(o)
)
select win_end, count(*) as n_distinct_users
from covered cross join bounds
where win_end >= d0 + 6 and win_end <= d1
group by win_end order by win_end
"""
    # BM25 truth: identical literal arithmetic; ln + round(4) follows
    # the lm_perplexity precedent for float-producing oracles.
    sql["bm25_topk"] = f"""
with d as (
  select doc_id, string_split(lower(text), ' ') as ws from documents
), base as (
  select doc_id, len(ws) as dl, unnest(ws) as t from d
), hits as (
  select * from base
  where t in ('spark', 'join', 'filter')
), tf as (
  select doc_id, t, count(*) as tf, min(dl) as dl
  from hits group by 1, 2
), dfx as (
  select t, count(distinct doc_id) as df from hits group by t
), stats as (
  select count(*) as n, avg(len(ws)) as avgdl from d
), scored as (
  select tf.doc_id,
         ln(1 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * ({text_analysis.BM25_K1} + 1))
           / (tf.tf + {text_analysis.BM25_K1}
              * (1 - {text_analysis.BM25_B}
                 + {text_analysis.BM25_B} * tf.dl / stats.avgdl)) as part
  from tf join dfx using (t) cross join stats
)
select doc_id, round(sum(part), 4) as score
from scored group by doc_id
order by score desc, doc_id limit {text_analysis.BM25_TOP}
"""
    # Span-corruption truth: same square-mix start selection, 3-token
    # expansion clipped at n, distinct positions, lag-window span count.
    sql["span_corruption_mask"] = """
with t as (
  select doc_id, len(string_split(text, ' ')) as n from documents
), pos as (
  select doc_id, n, unnest(range(1, n + 1)) as p from t
), sel as (
  select doc_id, n, p from pos
  where ((((doc_id * 2654435761 + p * 40503) % 2147483647)
          * ((doc_id * 2654435761 + p * 40503) % 2147483647))
         % 2147483647) % 20 = 0
), mask as (
  select distinct doc_id, p + o as m
  from sel cross join (values (0), (1), (2)) as ofs(o)
  where p + o <= n
), lagged as (
  select doc_id, m,
         lag(m) over (partition by doc_id order by m) as prev
  from mask
), agg as (
  select doc_id, count(*) as n_masked,
         sum(case when prev is null or m - prev > 1 then 1 else 0 end)
           as n_spans,
         min(m) as firstm
  from lagged group by doc_id
)
select t.doc_id, cast(t.n as int) as n_tokens,
       cast(coalesce(a.n_masked, 0) as int) as n_masked,
       cast(coalesce(a.n_spans, 0) as int) as n_spans,
       cast(coalesce(a.firstm, 0) as int) as first_masked_pos
from t left join agg a using (doc_id)
order by t.doc_id
"""
    # Vocab coverage: rank/cumsum over the aggregated vocabulary,
    # coverage in exact ppm integer division.
    sql["vocab_coverage"] = f"""
with t as (
  select unnest(string_split(lower(text), ' ')) as word from documents
), u as (
  select word, count(*) as cnt from t group by word
), tot as (select sum(cnt) as tot from u),
r as (
  select word, cnt,
         row_number() over (order by cnt desc, word) as rnk,
         sum(cnt) over (order by cnt desc, word
                        rows unbounded preceding) as cum
  from u
)
select cast(rnk as int) as rnk, word, cnt,
       cast((cum * 1000000) // tot as bigint) as coverage_ppm
from r cross join tot
where rnk <= {text_analysis.VOCAB_TOP}
order by rnk
"""
    # Merge-vs-recompute equivalence: the oracle is the FULL recompute;
    # the Spark side must reach the identical table via state + delta.
    sql["incremental_agg_merge"] = """
select user_id,
       count(*) as n_events,
       cast(sum(cast(round(value * 100) as bigint)) as bigint) as sum_cents,
       max(ts) as last_ts
from events
group by user_id
order by user_id
"""
    # Skyline truth: the direct NOT EXISTS dominance test (quadratic is
    # fine at oracle scale; the Spark side is the two-pass collapsed
    # frontier) — an INDEPENDENT formulation of the same set.
    sql["pareto_frontier_docs"] = """
with scored as (
  select doc_id,
         cast(length(list_distinct(string_split(text, ' '))) as bigint)
           as q,
         n_chars as l
  from documents
)
select s.doc_id, s.q as distinct_tokens, s.l as n_chars
from scored s
where not exists (
  select 1 from scored o
  where (o.q > s.q and o.l >= s.l) or (o.q = s.q and o.l > s.l)
)
order by s.doc_id
"""
    # Rebuild truth: same chunking + global-first-occurrence survivorship,
    # reassembly via ordered list aggregation.
    sql["paragraph_dedup_rebuild"] = f"""
with t as (
  select doc_id, string_split(text, ' ') as toks from documents
), ch as (
  select doc_id, cast(i as bigint) as chunk_idx,
         array_to_string(
           toks[i*{text_analysis.PARA_W}+1 : i*{text_analysis.PARA_W}+{text_analysis.PARA_W}],
           ' ') as chunk
  from t, unnest(range(0, (length(toks)+{text_analysis.PARA_W}-1)//{text_analysis.PARA_W})) as u(i)
), surv as (
  select md5(chunk) as h,
         min(struct_pack(d := doc_id, i := chunk_idx)) as first_occ
  from ch group by h
), marked as (
  select c.doc_id, c.chunk_idx, c.chunk,
         (s.first_occ.d = c.doc_id and s.first_occ.i = c.chunk_idx) as keep
  from ch c join surv s on md5(c.chunk) = s.h
)
select doc_id,
       count(*) as n_chunks,
       cast(sum(case when keep then 1 else 0 end) as bigint) as n_kept,
       coalesce(array_to_string(
         list(case when keep then chunk end order by chunk_idx)
           filter (where keep), ' '), '') as text_dedup
from marked group by doc_id order by doc_id
"""
    # BFS truth: recursive reachability with a hop counter; min(hop)
    # Triangle truth: id-ordered closed-wedge join over the canonical
    # undirected edges — every triangle appears once as a < b < c, the
    # same set the degree-ordered Spark orientation finds.
    sql["triangle_count"] = """
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
ed as (
  select distinct least(src, dst) as s, greatest(src, dst) as t
  from e0 where src <> dst
),
tri as (
  select e1.s as a, e1.t as b, e2.t as c
  from ed e1
  join ed e2 on e2.s = e1.t
  join ed e3 on e3.s = e1.s and e3.t = e2.t
),
nodes as (
  select unnest([a, b, c]) as doc_id from tri
),
cnt as (
  select doc_id, count(*) as n_triangles from nodes group by doc_id
)
select d.doc_id, cast(coalesce(c.n_triangles, 0) as bigint) as n_triangles
from documents d left join cnt c using (doc_id)
order by d.doc_id
"""
    # Z-order truth: the SAME generated arithmetic interleave (only the
    # integer-div token differs by dialect) over the same normalized grid.
    _zgrid = 1 << relational.ZORDER_BITS
    _zx = relational._morton_terms(
        f"(((cust - lo_c) * {_zgrid}) // (hi_c - lo_c + 1))", 0, "//"
    )
    _zy = relational._morton_terms(
        f"(((day - lo_d) * {_zgrid}) // (hi_d - lo_d + 1))", 1, "//"
    )
    _zw = (1 << (2 * relational.ZORDER_BITS)) // relational.ZORDER_BUCKETS
    sql["zorder_layout"] = f"""
with o as (
  select o_custkey::bigint as cust,
         date_diff('day', DATE '1995-01-01', o_orderdate)::bigint as day
  from orders
), st as (
  select min(cust) as lo_c, max(cust) as hi_c,
         min(day) as lo_d, max(day) as hi_d
  from o
), z as (
  select cust, day, (({_zx}) + ({_zy})) // {_zw} as bucket_id
  from o, st
)
select bucket_id, count(*) as n_rows,
       min(cust) as min_cust, max(cust) as max_cust,
       min(day) as min_day, max(day) as max_day
from z group by bucket_id order by bucket_id
"""
    # Count-Min truth: same fixed hash coefficients, same d x w grid.
    _cm_cells = " union all ".join(
        f"select {j} as j, (user_id * {relational.CM_HASH_A[j]}"
        f" + {relational.CM_HASH_B[j]}) % {relational.CM_PRIME}"
        f" % {relational.CM_WIDTH} as cell, user_id from ev"
        for j in range(relational.CM_DEPTH)
    )
    sql["countmin_heavy_hitters"] = f"""
with ev as (select user_id from events),
cells as ({_cm_cells}),
sketch as (select j, cell, count(*) as c from cells group by j, cell),
top as (
  select user_id, count(*) as n from ev
  group by user_id order by n desc, user_id limit {relational.HH_TOP_K}
),
probes as (
  select t.user_id, t.n, s.j, s.cell
  from top t join (select distinct j, cell, user_id from cells) s
    using (user_id)
),
est as (
  select p.user_id, p.n, min(k.c) as est
  from probes p join sketch k using (j, cell)
  group by p.user_id, p.n
)
select cast(row_number() over (order by n desc, user_id) as int) as rank,
       user_id, n, est, est - n as overcount
from est order by rank
"""
    # Correlation truth: the same generated sign-decomposed integer
    # formula (only the div token differs); DuckDB's hugeint sums equal
    # the int64 sums wherever the documented bound holds.
    _corr_feats = relational.CORR_FEATURES
    _corr_pairs = [
        (a, b)
        for i, a in enumerate(_corr_feats)
        for b in _corr_feats[i + 1 :]
    ]
    _corr_sums = ", ".join(
        [f"sum({f}) as sx_{f}, sum({f} * {f}) as sxx_{f}" for f in _corr_feats]
        + [f"sum({a} * {b}) as sxy_{a}_{b}" for a, b in _corr_pairs]
    )
    _corr_rows = "\n  union all\n".join(
        f"select '{a}' as feat_a, '{b}' as feat_b, n as n_users,"
        f" cast({relational._corr_expr(a, b, '//')} as bigint) as corr_ppm"
        " from st"
        for a, b in _corr_pairs
    )
    sql["feature_correlation"] = f"""
with uf as (
  select user_id, count(*) as n_events,
         sum(cast(floor(value) as bigint)) as value_units,
         count(distinct event_type) as n_types,
         count(distinct cast(ts as date)) as n_days
  from events group by user_id
), st as (
  select count(*) as n, {_corr_sums} from uf
)
select * from (
{_corr_rows}
) order by feat_a, feat_b
"""
    # ROUGE-L truth: closed form — the degraded candidate preserves
    # reference order, so the LCS is exactly the kept-and-unsubstituted
    # count; the Spark kernel runs the GENERAL numpy DP instead (two
    # unrelated computations that must agree).
    sql["rouge_l_eval"] = f"""
with t as (
  select doc_id, len(string_split(text, ' ')) as n from documents
), c as (
  select t.doc_id, t.n,
         sum(case when (i + doc_id) % {evalmetrics.BLEU_DROP_MOD} <> 0
                  then 1 else 0 end) as cand_len,
         sum(case when (i + doc_id) % {evalmetrics.BLEU_DROP_MOD} <> 0
                   and (i + doc_id) % {evalmetrics.BLEU_UNK_MOD} <> 0
                  then 1 else 0 end) as lcs_len
  from t, unnest(range(t.n)) u(i)
  group by t.doc_id, t.n
), m as (
  select doc_id, cast(n as bigint) as ref_len,
         cast(cand_len as bigint) as cand_len,
         cast(lcs_len as bigint) as lcs_len,
         case when cand_len > 0
              then (lcs_len * 1000000) // cand_len else 0 end as p,
         case when n > 0
              then (lcs_len * 1000000) // n else 0 end as r
  from c
)
select doc_id, ref_len, cand_len, lcs_len,
       cast(p as bigint) as rouge_p_ppm,
       cast(r as bigint) as rouge_r_ppm,
       cast(case when p + r > 0 then (2 * p * r) // (p + r)
                 else 0 end as bigint) as rouge_f_ppm
from m order by doc_id
"""
    # Snapshot-diff truth: the same derived versions, digest compare.
    sql["snapshot_diff"] = f"""
with d as (select doc_id, text from documents),
a as (
  select doc_id, md5(text) as dig_a from d
  where doc_id % {relational.DIFF_MISS_A} <> 0
),
b as (
  select doc_id,
         md5(case when doc_id % {relational.DIFF_EDIT_B} = 0
                  then text || ' v2' else text end) as dig_b
  from d where doc_id % {relational.DIFF_MISS_B} <> 0
)
select doc_id,
       case when a.dig_a is null then 'added'
            when b.dig_b is null then 'removed'
            when a.dig_a <> b.dig_b then 'changed'
            else 'unchanged' end as status
from a full outer join b using (doc_id)
order by doc_id
"""
    # Phrase truth: positional posting lists joined on (doc, start).
    sql["phrase_search"] = f"""
with t as (
  select doc_id, string_split(lower(text), ' ') as toks from documents
), p as (
  select doc_id, i as pos, toks[i+1] as tok
  from t, unnest(range(len(toks))) u(i)
),
q0 as (select doc_id, pos - 0 as start from p
       where tok = '{text_analysis.PHRASE_QUERY[0]}'),
q1 as (select doc_id, pos - 1 as start from p
       where tok = '{text_analysis.PHRASE_QUERY[1]}'),
q2 as (select doc_id, pos - 2 as start from p
       where tok = '{text_analysis.PHRASE_QUERY[2]}')
select doc_id, count(*) as n_matches,
       cast(min(start) as bigint) as first_pos
from q0 join q1 using (doc_id, start) join q2 using (doc_id, start)
group by doc_id order by doc_id
"""
    # collapses multi-path discoveries to the true BFS distance.
    sql["bfs_hop_distance"] = f"""
with recursive n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
reach(v, hop) as (
  select doc_id, 0 from documents
  where doc_id % {web_extract.BFS_SEED_MOD} = 0
  union
  select e.dst, r.hop + 1 from reach r join edges e on e.src = r.v
  where r.hop < {web_extract.BFS_MAX_HOP}
)
select v as doc_id, cast(min(hop) as bigint) as hop
from reach group by v order by v
"""
    # HyperBall truth: identical md5-32 registers, the same one-round
    # register-max recurrence unrolled as chained CTEs (HB_HOPS is a
    # compile-time constant), identical integer estimate arithmetic,
    # and the exact ball-pair CTE chain alongside.
    _hb_lo = 1 << (32 - web_extract.HB_P)
    _hb_hops = "".join(
        f""",
r{t} as (
  select v, bucket, max(rank) as rank from (
    select * from r{t - 1}
    union all
    select e.src as v, r.bucket, r.rank
    from edges e join r{t - 1} r on r.v = e.dst
  ) group by v, bucket
),
b{t} as (
  select distinct v, u from (
    select * from b{t - 1}
    union all
    select e.src as v, b.u from edges e join b{t - 1} b on b.v = e.dst
  )
)"""
        for t in range(1, web_extract.HB_HOPS + 1)
    )
    _hb_ests = "\nunion all\n".join(
        f"""select {t} as hop,
       cast(sum((2 * {web_extract.HB_ALPHA_PPM}::hugeint
                 * {web_extract.HB_M * web_extract.HB_M}
                 * (1::bigint << {web_extract.HB_Q}) + s_inv * 1000000)
                // (2 * s_inv::hugeint * 1000000)) as bigint) as est_pairs,
       (select count(*) from b{t}) as exact_pairs
from (select v, count(*) as rs,
             sum((1::bigint << ({web_extract.HB_Q} - rank)))
             + ({web_extract.HB_M} - count(*))
               * (1::bigint << {web_extract.HB_Q}) as s_inv
      from r{t} group by v)"""
        for t in range(web_extract.HB_HOPS + 1)
    )
    sql["hyperball_neighborhood"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
h as (select doc_id as v,
             ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint as hv
      from documents),
r0 as (select v, hv // {_hb_lo} as bucket,
              case when hv % {_hb_lo} = 0 then {web_extract.HB_Q}
                   else {web_extract.HB_Q} - length(bin(hv % {_hb_lo}))
              end as rank
       from h),
b0 as (select doc_id as v, doc_id as u from documents){_hb_hops}
select hop, est_pairs, exact_pairs,
       cast((2 * abs(est_pairs - exact_pairs)::hugeint * 1000000
             + exact_pairs) // (2 * exact_pairs) as bigint) as err_ppm
from ({_hb_ests})
order by hop
"""
    # Harmonic truth: registers-only chain (the exact-ball CTEs would
    # dangle here), per-NODE estimates at each t, same monotone-delta
    # 1e6-div-t fold.
    _hb_rchain = "".join(
        f""",
r{t} as (
  select v, bucket, max(rank) as rank from (
    select * from r{t - 1}
    union all
    select e.src as v, r.bucket, r.rank
    from edges e join r{t - 1} r on r.v = e.dst
  ) group by v, bucket
)"""
        for t in range(1, web_extract.HB_HOPS + 1)
    )
    _hb_node_ests = ",\n".join(
        f"""e{t} as (
  select v, (2 * {web_extract.HB_ALPHA_PPM}::hugeint
             * {web_extract.HB_M * web_extract.HB_M}
             * (1::bigint << {web_extract.HB_Q}) + s_inv * 1000000)
            // (2 * s_inv::hugeint * 1000000) as est
  from (select v,
               sum((1::bigint << ({web_extract.HB_Q} - rank)))
               + ({web_extract.HB_M} - count(*))
                 * (1::bigint << {web_extract.HB_Q}) as s_inv
        from r{t} group by v)
)"""
        for t in range(web_extract.HB_HOPS + 1)
    )
    _hb_fold = " + ".join(
        f"((e{t}.est - e{t - 1}.est) * 1000000) // {t}"
        for t in range(1, web_extract.HB_HOPS + 1)
    )
    _hb_joins = " ".join(
        f"join e{t} using (v)" for t in range(1, web_extract.HB_HOPS + 1)
    )
    sql["harmonic_centrality"] = f"""
with n as (select count(*) as nn from documents),
e0x as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0x where src != dst),
h as (select doc_id as v,
             ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint as hv
      from documents),
r0 as (select v, hv // {_hb_lo} as bucket,
              case when hv % {_hb_lo} = 0 then {web_extract.HB_Q}
                   else {web_extract.HB_Q} - length(bin(hv % {_hb_lo}))
              end as rank
       from h){_hb_rchain},
{_hb_node_ests}
select e0.v as doc_id,
       cast({_hb_fold} as bigint) as harmonic_ppm,
       cast(e{web_extract.HB_HOPS}.est as bigint) as reach_est
from e0 {_hb_joins}
order by doc_id
"""
    # Rollup truth: the same daily-partial -> weekly-merge arithmetic;
    # the merged ESTIMATE is deterministic given the hash, so it is
    # value-checked, not just the exact baseline.
    sql["kmv_weekly_rollup"] = f"""
with ev as (
  select cast(ts as date) as day,
         (user_id * {relational.KMV_HASH_A}) % {relational.KMV_HASH_M}
           as h,
         user_id
  from events
), daily as (select distinct day, h from ev),
dsk as (
  select day, h from (
    select day, h,
           row_number() over (partition by day order by h) as rn
    from daily
  ) where rn <= {relational.KMV_K}
),
wk0 as (
  select distinct
    date_diff('day', date '2024-01-01', day) // 7 as week, h
  from dsk
),
wks as (
  select week, h,
         row_number() over (partition by week order by h) as rn
  from wk0
),
sk as (
  select week, cast(max(rn) as bigint) as n_seen, max(h) as kth_hash
  from wks where rn <= {relational.KMV_K} group by week
),
ex as (
  select date_diff('day', date '2024-01-01', cast(ts as date)) // 7
           as week,
         count(distinct user_id) as true_distinct
  from events group by week
)
select cast(sk.week as bigint) as week, sk.n_seen,
       case when sk.n_seen < {relational.KMV_K}
            then cast(sk.n_seen as double)
            else round(
              {float((relational.KMV_K - 1) * relational.KMV_HASH_M)}
                / sk.kth_hash, 3)
       end as kmv_estimate,
       cast(ex.true_distinct as bigint) as true_distinct
from sk join ex on sk.week = ex.week
order by sk.week
"""
    # Containment truth: same posting join as the Jaccard oracle, with
    # the per-direction |A∩B|/|A| ratios and an either-direction gate.
    sql["containment_pairs"] = f"""
with d as (
  select doc_id, {_SHINGLES} as sh from documents
),
p as (select doc_id, len(sh) as n, unnest(sh) as s from d),
shared as (
  select a.doc_id as doc_a, b.doc_id as doc_b,
         a.n as na, b.n as nb, count(*) as c
  from p a join p b on a.s = b.s and a.doc_id < b.doc_id
  group by 1, 2, 3, 4
)
select doc_a, doc_b, c as shared_shingles,
       round(c::double / na, 6) as cont_a_in_b,
       round(c::double / nb, 6) as cont_b_in_a
from shared
where round(c::double / na, 6) >= {dedup.CONTAIN_TAU}
   or round(c::double / nb, 6) >= {dedup.CONTAIN_TAU}
order by doc_a, doc_b
"""
    # Winnowing truth: same md5-32 k-gram hashes, window minima via
    # inclusive list slices, the MAXDF boilerplate gate, posting-list
    # self-join, half-away containment ppm.
    sql["winnowing_near_dup"] = f"""
with d0 as (
  select doc_id, replace(text, ' ', '') as s from documents
  where length(replace(text, ' ', '')) >= {dedup.WINNOW_K}
), hv as (
  select doc_id, length(s) - {dedup.WINNOW_K} + 1 as n_kg,
         list_transform(generate_series(1, length(s) - {dedup.WINNOW_K} + 1),
           i -> ('0x' || substr(md5(substr(s, i, {dedup.WINNOW_K})),
                                1, 8))::bigint) as hashes
  from d0
), win as (
  select doc_id, hashes, least({dedup.WINNOW_W}, n_kg) as wl,
         n_kg - least({dedup.WINNOW_W}, n_kg) + 1 as n_win
  from hv
), fpx as (
  select distinct doc_id, fp from (
    select doc_id, list_min(hashes[j : j + wl - 1]) as fp
    from (select doc_id, hashes, wl,
                 unnest(generate_series(1, n_win)) as j from win))
), kept as (
  select fp from fpx group by fp having count(*) <= {dedup.WINNOW_MAXDF}
), inf as (
  select fpx.doc_id, fpx.fp from fpx join kept using (fp)
), sz as (
  select doc_id, count(*) as n_fp from inf group by 1
), pairs as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as shared_fps
  from inf a join inf b on a.fp = b.fp and a.doc_id < b.doc_id
  group by 1, 2 having count(*) >= {dedup.WINNOW_MIN_SHARED}
)
select doc_a, doc_b, cast(shared_fps as bigint) as shared_fps,
       cast(sa.n_fp as bigint) as fp_a, cast(sb.n_fp as bigint) as fp_b,
       cast((2 * shared_fps::hugeint * 1000000
             + least(sa.n_fp, sb.n_fp))
            // (2 * least(sa.n_fp, sb.n_fp)) as bigint) as containment_ppm
from pairs join sz sa on pairs.doc_a = sa.doc_id
           join sz sb on pairs.doc_b = sb.doc_id
order by doc_a, doc_b
"""
    # PQ truth: identical codebook (subvectors of vec_id < K in integer
    # micros), argmin codes with lower-k ties, ADC sum, (d, vec_id) rank.
    sql["ann_pq_topk"] = f"""
with emb as (
  select vec_id,
         list_transform(embedding,
           x -> cast(round(cast(x as double)*{similarity.PQ_MICRO})
                  as bigint)) as e
  from embeddings
),
subs as (
  select vec_id, cast(m as int) as m,
         e[m*{similarity.PQ_SUB}+1 : m*{similarity.PQ_SUB}+{similarity.PQ_SUB}] as s
  from emb, unnest(range(0, {similarity.PQ_M})) as u(m)
),
cent as (select vec_id as k, m, s as c from subs where vec_id < {similarity.PQ_K}),
dists as (
  select s.vec_id, s.m, c.k,
         list_sum(list_transform(range(1, {similarity.PQ_SUB}+1),
           i -> (s.s[i]-c.c[i])*(s.s[i]-c.c[i]))) as d
  from subs s join cent c on s.m = c.m
),
codes as (
  select vec_id, m, k as code from (
    select vec_id, m, k,
           row_number() over (partition by vec_id, m order by d, k) as rn
    from dists) where rn = 1
),
adc as (select m, k, d from dists where vec_id = 0),
approx as (
  select c.vec_id, sum(a.d) as approx_d
  from codes c join adc a on c.m = a.m and c.code = a.k
  where c.vec_id != 0
  group by c.vec_id
)
select cast(row_number() over (order by approx_d, vec_id) as bigint) as rank,
       vec_id, cast(approx_d as bigint) as approx_d
from approx order by approx_d, vec_id limit {similarity.PQ_TOPK}
"""
    # JL truth: identical parity-hash sign matrix regenerated from
    # (i, j) (DuckDB lists are 1-based, hence the i - 1), identical
    # integer-micro encode, pure integer dot fold.
    sql["jl_projection"] = f"""
select vec_id,
       list_transform(range(0, {similarity.JL_OUT_DIM}), j ->
         cast(list_sum(list_transform(range(1, len(embedding) + 1), i ->
           cast(round(cast(embedding[i] as double)
                      * {similarity.PQ_MICRO}) as bigint)
           * (1 - 2 * ((({similarity.JL_HASH_A}
                         * ((i - 1) * {similarity.JL_OUT_DIM} + j)
                         + {similarity.JL_HASH_B})
                        % {similarity.JL_HASH_P}) % 2)))) as bigint))
         as proj
from embeddings order by vec_id
"""
    # IVFPQ truth: proven IVF assignment (round-6 argmin, lower-aid
    # ties) + residual codes vs the [PQ_K, 2*PQ_K) residual codebook +
    # per-probed-list ADC tables; the adc join doubles as the probe cut.
    sql["ann_ivfpq_topk"] = f"""
with a as (
  select vec_id as aid, embedding as avec,
         list_dot_product(embedding::double[], embedding::double[]) as aa,
         list_transform(embedding,
           x -> cast(round(cast(x as double)*{similarity.PQ_MICRO}) as bigint)) as amicro
  from embeddings where vec_id < {similarity.DEFAULT_ANCHORS}
), v as (
  select vec_id, embedding,
         list_dot_product(embedding::double[], embedding::double[]) as xx,
         list_transform(embedding,
           x -> cast(round(cast(x as double)*{similarity.PQ_MICRO}) as bigint)) as e
  from embeddings
), dist as (
  select v.vec_id, v.e, a.aid,
         round(v.xx - 2*list_dot_product(v.embedding::double[], a.avec::double[]) + a.aa, 6) as d
  from v cross join a
), assign as (
  select vec_id, e, aid as list_id from dist
  qualify row_number() over (partition by vec_id order by d, aid) = 1
), res as (
  select s.vec_id, s.list_id,
         list_transform(range(1, {similarity.PQ_M * similarity.PQ_SUB}+1),
                        i -> s.e[i] - a.amicro[i]) as r
  from assign s join a on s.list_id = a.aid
), csubs as (
  select cast(vec_id - {similarity.PQ_K} as int) as k, cast(m as int) as m,
         r[m*{similarity.PQ_SUB}+1 : m*{similarity.PQ_SUB}+{similarity.PQ_SUB}] as c
  from res, unnest(range(0, {similarity.PQ_M})) as u(m)
  where vec_id >= {similarity.PQ_K} and vec_id < {2 * similarity.PQ_K}
), rsubs as (
  select vec_id, list_id, cast(m as int) as m,
         r[m*{similarity.PQ_SUB}+1 : m*{similarity.PQ_SUB}+{similarity.PQ_SUB}] as s
  from res, unnest(range(0, {similarity.PQ_M})) as u(m)
), rd as (
  select r0.vec_id, r0.m, c.k,
         list_sum(list_transform(range(1, {similarity.PQ_SUB}+1),
           i -> (r0.s[i]-c.c[i])*(r0.s[i]-c.c[i]))) as d
  from rsubs r0 join csubs c on r0.m = c.m
), codes as (
  select vec_id, m, k as code from (
    select vec_id, m, k,
           row_number() over (partition by vec_id, m order by d, k) as rn
    from rd) where rn = 1
), probes as (
  select aid from dist where vec_id = 0
  qualify row_number() over (order by d, aid) <= {similarity.DEFAULT_PROBE}
), qres as (
  select p.aid as l,
         list_transform(range(1, {similarity.PQ_M * similarity.PQ_SUB}+1),
                        i -> q.e[i] - a.amicro[i]) as r
  from probes p
  join a on p.aid = a.aid
  cross join (select e from v where vec_id = 0) q
), qsubs as (
  select l, cast(m as int) as m,
         r[m*{similarity.PQ_SUB}+1 : m*{similarity.PQ_SUB}+{similarity.PQ_SUB}] as s
  from qres, unnest(range(0, {similarity.PQ_M})) as u(m)
), adc as (
  select q0.l, q0.m, c.k,
         list_sum(list_transform(range(1, {similarity.PQ_SUB}+1),
           i -> (q0.s[i]-c.c[i])*(q0.s[i]-c.c[i]))) as d
  from qsubs q0 join csubs c on q0.m = c.m
), cand as (
  select r1.vec_id, r1.list_id, c.m, c.code
  from res r1 join codes c on r1.vec_id = c.vec_id
  where r1.vec_id != 0
), approx as (
  select cand.vec_id, cand.list_id, sum(adc.d) as approx_d
  from cand join adc on adc.l = cand.list_id and adc.m = cand.m
                    and adc.k = cand.code
  group by cand.vec_id, cand.list_id
)
select cast(row_number() over (order by approx_d, vec_id) as bigint) as rank,
       vec_id, cast(list_id as int) as list_id,
       cast(approx_d as bigint) as approx_d
from approx order by approx_d, vec_id limit {similarity.PQ_TOPK}
"""
    # Theta truth: same k-min sketches, θ = min per-period θ, sample =
    # sketch hashes < θ, inclusion-exclusion on the sample.
    sql["theta_sketch_overlap"] = f"""
with ev as (
  select event_type,
         date_diff('day', date '2024-01-01', cast(ts as date))
           // {relational.THETA_PERIOD_DAYS} as p,
         (user_id * {relational.KMV_HASH_A}) % {relational.KMV_HASH_M} as h,
         user_id
  from events
  where date_diff('day', date '2024-01-01', cast(ts as date))
          // {relational.THETA_PERIOD_DAYS} <= 1
), dist as (select distinct event_type, p, h from ev),
sk as (
  select event_type, p, h, rn from (
    select event_type, p, h,
           row_number() over (partition by event_type, p order by h) as rn
    from dist) where rn <= {relational.KMV_K}
),
theta_p as (
  select event_type, p,
         case when max(rn) < {relational.KMV_K}
              then {relational.KMV_HASH_M} else max(h) end as theta_p
  from sk group by event_type, p
),
th as (select event_type, min(theta_p) as theta from theta_p group by event_type),
rows_ as (
  select sk.event_type, sk.p, sk.h, th.theta
  from sk join th on sk.event_type = th.event_type
  where sk.h < th.theta
),
counts as (
  select event_type, theta,
         count(distinct h) as u,
         count(distinct case when p = 0 then h end)
           + count(distinct case when p = 1 then h end)
           - count(distinct h) as c
  from rows_ group by event_type, theta
),
exact as (
  select event_type,
         count(distinct user_id) as true_union,
         count(distinct case when p = 0 then user_id end)
           + count(distinct case when p = 1 then user_id end)
           - count(distinct user_id) as true_inter
  from ev group by event_type
)
select counts.event_type,
       round(u::double * {relational.KMV_HASH_M} / theta, 3) as union_est,
       round(c::double * {relational.KMV_HASH_M} / theta, 3) as inter_est,
       cast(true_union as bigint) as true_union,
       cast(true_inter as bigint) as true_inter
from counts join exact on counts.event_type = exact.event_type
order by counts.event_type
"""
    # PPS truth: plain global cumsum (the Spark side is the two-pass
    # bucketed equivalent) + the same integer stride-hit rule.
    sql["pps_systematic_sample"] = f"""
with w as (select doc_id, n_chars as w from documents),
c as (
  select doc_id, w,
         sum(w) over (order by doc_id
                      rows between unbounded preceding and current row)
           as cum
  from w
), t as (select sum(w) as tw from w),
s as (
  select c.doc_id, c.w, c.cum,
         greatest(t.tw // {relational.PPS_SAMPLE_N}, 1) as step
  from c cross join t
)
select doc_id, cast(w as bigint) as w, cast(cum as bigint) as cum_end,
       cast((cum // step) - ((cum - w) // step) as bigint) as n_hits
from s
where (cum // step) - ((cum - w) // step) >= 1
order by doc_id
"""
    # Hybrid truth: the bm25 and brute-cosine oracles verbatim as CTEs,
    # ranked, full-outer fused with integer-ppb RRF contributions.
    sql["hybrid_rrf_search"] = f"""
with d as (
  select doc_id, string_split(lower(text), ' ') as ws from documents
), base as (
  select doc_id, len(ws) as dl, unnest(ws) as t from d
), hits as (
  select * from base
  where t in {text_analysis.BM25_QUERY!r}
), tf as (
  select doc_id, t, count(*) as tf, min(dl) as dl
  from hits group by 1, 2
), dfx as (
  select t, count(distinct doc_id) as df from hits group by t
), stats as (
  select count(*) as n, avg(len(ws)) as avgdl from d
), scored as (
  select tf.doc_id,
         ln(1 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
           * (tf.tf * ({text_analysis.BM25_K1} + 1))
           / (tf.tf + {text_analysis.BM25_K1}
              * (1 - {text_analysis.BM25_B}
                 + {text_analysis.BM25_B} * tf.dl / stats.avgdl)) as part
  from tf join dfx using (t) cross join stats
), bm as (
  select doc_id, round(sum(part), 4) as score
  from scored group by doc_id
  order by score desc, doc_id limit {text_analysis.BM25_TOP}
), lex as (
  select doc_id,
         row_number() over (order by score desc, doc_id) as lex_rank
  from bm
), sem0 as (
  select e.vec_id as doc_id, {_DUCK_COS} as cos
  from embeddings e,
       (select embedding as q from embeddings where vec_id = 0) q
  where e.vec_id <> 0
  order by cos desc, e.vec_id limit {similarity.TOP_K}
), sem as (
  select doc_id,
         row_number() over (order by cos desc, doc_id) as sem_rank
  from sem0
), fused as (
  select coalesce(l.doc_id, s.doc_id) as doc_id,
         coalesce(l.lex_rank, 0) as lex_rank,
         coalesce(s.sem_rank, 0) as sem_rank,
         (case when l.lex_rank is not null
               then {text_analysis.RRF_SCALE} // ({text_analysis.RRF_K} + l.lex_rank)
               else 0 end
          + case when s.sem_rank is not null
                 then {text_analysis.RRF_SCALE} // ({text_analysis.RRF_K} + s.sem_rank)
                 else 0 end) as rrf_ppb
  from lex l full outer join sem s on l.doc_id = s.doc_id
)
select cast(row_number() over (order by rrf_ppb desc, doc_id) as bigint)
         as rank,
       doc_id, cast(lex_rank as bigint) as lex_rank,
       cast(sem_rank as bigint) as sem_rank,
       cast(rrf_ppb as bigint) as rrf_ppb
from fused order by rrf_ppb desc, doc_id limit {text_analysis.HYBRID_TOP}
"""
    # k-anonymity truth: the QI groupBy with the same sub-k flag.
    sql["k_anonymity_audit"] = f"""
select c_nationkey as nation, c_mktsegment as segment,
       c_acctbal >= 0 as bal_nonneg,
       count(*) as class_size,
       count(*) < {relational.KANON_K} as violates_k
from customer
group by 1, 2, 3
order by nation, segment, bal_nonneg
"""
    sql["l_diversity_audit"] = f"""
select c_nationkey as nation, c_mktsegment as segment,
       c_acctbal >= 0 as bal_nonneg,
       count(*) as class_size,
       count(distinct cast(floor(c_acctbal / 1000.0) as bigint))
         as distinct_sensitive,
       count(distinct cast(floor(c_acctbal / 1000.0) as bigint))
         < {relational.LDIV_L} as violates_l
from customer
group by 1, 2, 3
order by nation, segment, bal_nonneg
"""
    # t-closeness truth: ordered-metric EMD as integer cumulative
    # deviations (hugeint — products reach table^2) and exact rational
    # half-away ppb rounding, mirroring the decimal div on the Spark
    # side.
    sql["t_closeness_audit"] = f"""
with sens as (
  select c_nationkey as nation, c_mktsegment as segment,
         c_acctbal >= 0 as bal_nonneg,
         cast(floor(c_acctbal / 1000.0) as bigint) as bal_band
  from customer
), gb as (
  select bal_band, count(*) as tot from sens group by 1
), t as (
  select sum(tot) as n_total, count(*) as m_bands from gb
), cs as (
  select nation, segment, bal_nonneg, count(*) as class_size
  from sens group by 1, 2, 3
), cb as (
  select nation, segment, bal_nonneg, bal_band, count(*) as cnt
  from sens group by 1, 2, 3, 4
), grid as (
  select cs.nation, cs.segment, cs.bal_nonneg, cs.class_size,
         gb.bal_band, gb.tot, coalesce(cb.cnt, 0) as cnt,
         t.n_total, t.m_bands
  from cs cross join gb cross join t
  left join cb on cb.nation = cs.nation and cb.segment = cs.segment
              and cb.bal_nonneg = cs.bal_nonneg
              and cb.bal_band = gb.bal_band
), cum as (
  select nation, segment, bal_nonneg, class_size, n_total, m_bands,
         sum(cnt::hugeint * n_total - tot::hugeint * class_size) over (
           partition by nation, segment, bal_nonneg order by bal_band
           rows between unbounded preceding and current row) as cum_diff
  from grid
), emd as (
  select nation, segment, bal_nonneg, class_size, n_total, m_bands,
         sum(abs(cum_diff)) as abs_sum
  from cum group by 1, 2, 3, 4, 5, 6
), scored as (
  select nation, segment, bal_nonneg, class_size,
         case when m_bands <= 1 then 0
              else cast((2 * abs_sum * 1000000000
                         + class_size::hugeint * n_total * (m_bands - 1))
                        // (2 * class_size::hugeint * n_total
                            * (m_bands - 1)) as bigint)
         end as emd_ppb
  from emd
)
select nation, segment, bal_nonneg, class_size, emd_ppb,
       emd_ppb > {relational.TCLOSE_T_PPB} as violates_t
from scored order by nation, segment, bal_nonneg
"""
    # DP-release truth: identical md5-driven uniform, identical literal
    # noise-interval table (exact Fraction CDF, generated once and
    # shared by both engines).
    _dp_rows = ", ".join(
        f"({k}, {lo}, {hi})" for k, lo, hi in relational._dp_noise_intervals()
    )
    sql["dp_noisy_counts"] = f"""
with counts as (
  select c_nationkey as nation, c_mktsegment as segment,
         count(*) as exact_count
  from customer group by 1, 2
), keyed as (
  select *, ('0x' || substr(md5('dpn:' || nation || ':' || segment),
                            1, 10))::bigint as u
  from counts
), iv(noise, lo, hi) as (values {_dp_rows})
select nation, segment, exact_count,
       cast(noise as bigint) as noise,
       greatest(0, exact_count + noise)::bigint as released_count
from keyed join iv on keyed.u >= iv.lo and keyed.u < iv.hi
order by nation, segment
"""
    # CUSUM truth: daily counts, floor-div mean, running deviation sum,
    # global-max |cusum| peak flag.
    sql["cusum_changepoint"] = """
with daily as (
  select cast(ts as date) as day, count(*) as n
  from events group by 1
), m as (select sum(n) // count(*) as mean_n from daily),
c as (
  select day, n,
         sum(n - mean_n) over (order by day
           rows between unbounded preceding and current row) as cusum
  from daily cross join m
)
select day, cast(n as bigint) as n_events, cast(cusum as bigint) as cusum,
       abs(cusum) = max(abs(cusum)) over () as is_peak
from c order by day
"""
    # PIT truth: the interval formulation the as-of encoding replaces —
    # max valid_from <= ts, version ties to max o_orderkey.
    sql["pit_join_events_scd2"] = """
with dim as (
  select o_custkey as k, o_orderkey, o_orderstatus, o_orderdate as vf
  from orders
), ev as (
  select event_id, user_id, ts from events
), j as (
  select ev.event_id, dim.o_orderkey, dim.o_orderstatus,
         row_number() over (partition by ev.event_id
                            order by dim.vf desc, dim.o_orderkey desc) as rn
  from ev join dim on dim.k = ev.user_id and dim.vf <= ev.ts
)
select e.event_id, e.user_id,
       floor(epoch(e.ts))::bigint as event_epoch,
       j.o_orderkey as version_key, j.o_orderstatus as version_status
from ev e left join (select * from j where rn = 1) j
  on e.event_id = j.event_id
order by e.event_id
"""
    # Manifest truth: the curation and near-dup oracles verbatim as
    # CTEs + the packing arithmetic over the filtered stream.
    sql["training_manifest"] = """
with k as ({K}),
nd as ({ND}),
d as (
  select doc_id, source,
         len(string_split(text, ' ')) as n_tokens
  from documents
),
ship as (
  select d.source, d.doc_id, d.n_tokens
  from d
  join k on d.doc_id = k.doc_id
  join nd on d.doc_id = nd.doc_id
  where k.keep = 1 and nd.is_survivor = 1
),
packed as (
  select source, doc_id, n_tokens,
         sum(n_tokens) over (partition by source order by doc_id
           rows between unbounded preceding and current row) as cum_end
  from ship
)
select source, doc_id, cast(n_tokens as bigint) as n_tokens,
       cast(cum_end - n_tokens as bigint) as start_tok,
       cast((cum_end - n_tokens) // {L} as bigint) as first_seq,
       cast((cum_end - 1) // {L} as bigint) as last_seq
from packed order by source, doc_id
""".format(
        K=sql["curation_decision"],
        ND=sql["near_dup_clusters"],
        L=text_analysis.SEQ_LEN,
    )
    # MAD truth: same doubled-order-statistic medians and the exact
    # integer comparison dev*10000 > mad4*22239.
    sql["mad_outliers"] = f"""
with ev as (
  select event_id, event_type,
         cast(round(value*100) as bigint) as cents
  from events
),
r as (
  select *, row_number() over (partition by event_type
              order by cents, event_id) as rn,
         count(*) over (partition by event_type) as n
  from ev
),
med as (
  select event_type,
         sum(cents) * (case when max(n) % 2 = 1 then 2 else 1 end) as med2
  from r where rn = (n+1)//2 or rn = (n+2)//2
  group by event_type
),
dev as (
  select e.event_id, e.event_type, e.cents, m.med2,
         abs(e.cents*2 - m.med2) as dev
  from ev e join med m using (event_type)
),
dr as (
  select *, row_number() over (partition by event_type
              order by dev, event_id) as rn,
         count(*) over (partition by event_type) as n
  from dev
),
mad as (
  select event_type,
         sum(dev) * (case when max(n) % 2 = 1 then 2 else 1 end) as mad4
  from dr where rn = (n+1)//2 or rn = (n+2)//2
  group by event_type
)
select d.event_id, d.event_type, d.cents,
       cast(d.med2 as bigint) as med2, cast(mad.mad4 as bigint) as mad4,
       (d.dev * {relational.MAD_DEN} > mad.mad4 * {relational.MAD_NUM})
         as is_outlier
from dev d join mad using (event_type)
where d.dev * {relational.MAD_DEN} > mad.mad4 * {relational.MAD_NUM}
order by d.event_id
"""
    # Template truth: same chunking, per-doc-distinct coverage counts,
    # (count desc, chunk) top-k per source, ppm coverage.
    sql["source_template_paragraphs"] = f"""
with t as (
  select doc_id, source, string_split(text, ' ') as toks from documents
), ch as (
  select distinct doc_id, source,
         array_to_string(
           toks[i*{text_analysis.PARA_W}+1 : i*{text_analysis.PARA_W}+{text_analysis.PARA_W}],
           ' ') as chunk
  from t, unnest(range(0,
           (length(toks)+{text_analysis.PARA_W}-1)//{text_analysis.PARA_W}))
         as u(i)
), nsrc as (select source, count(*) as n_docs from documents group by source),
freq as (
  select source, chunk, count(*) as n_docs_with
  from ch group by source, chunk
  having count(*) >= {text_analysis.TEMPLATE_MIN_DOCS}
),
rk as (
  select source, chunk, n_docs_with,
         row_number() over (partition by source
           order by n_docs_with desc, chunk) as rank
  from freq
)
select rk.source, cast(rank as int) as rank, chunk, n_docs_with,
       cast((n_docs_with * 1000000) // n_docs as bigint) as coverage_ppm
from rk join nsrc on rk.source = nsrc.source
where rank <= {text_analysis.TEMPLATE_TOP}
order by rk.source, rank
"""
    # Split truth: hash-ordered rank per source, floor-division cuts.
    sql["train_val_test_split"] = f"""
with d as (
  select doc_id, source,
         (doc_id * {relational.KMV_HASH_A}) % {relational.KMV_HASH_M} as h
  from documents
), r as (
  select doc_id, source,
         row_number() over (partition by source order by h, doc_id) as rk,
         count(*) over (partition by source) as n
  from d
)
select doc_id, source,
       case when rk <= (n * {text_analysis.SPLIT_TRAIN_PCT}) // 100
              then 'train'
            when rk <= (n * {text_analysis.SPLIT_TRAIN_PCT + text_analysis.SPLIT_VAL_PCT}) // 100
              then 'val'
            else 'test' end as split
from r order by doc_id
"""
    # Epoch-shuffle truth: the naive global window the two-pass rank is
    # bit-equal to (the multiplicative hash is the same on both sides).
    sql["corpus_shuffle_shards"] = f"""
with k as (
  select doc_id,
         (doc_id * {relational.KMV_HASH_A}) % {relational.KMV_HASH_M}
           as shuffle_key
  from documents
), r as (
  select doc_id, shuffle_key,
         row_number() over (order by shuffle_key, doc_id) - 1 as global_pos
  from k
)
select doc_id, shuffle_key, global_pos,
       global_pos // {text_analysis.SHUFFLE_SHARD_DOCS} as shard_id,
       global_pos % {text_analysis.SHUFFLE_SHARD_DOCS} as pos_in_shard
from r order by doc_id
"""
    # CCNet frequency-rule truth: doc-frequency per chunk hash, drop
    # chunks at nd >= threshold from EVERY document (no keep-first).
    sql["boilerplate_prune"] = f"""
with t as (
  select doc_id, string_split(text, ' ') as toks from documents
), ch as (
  select doc_id, cast(i as bigint) as chunk_idx,
         array_to_string(
           toks[i*{text_analysis.PARA_W}+1 : i*{text_analysis.PARA_W}+{text_analysis.PARA_W}],
           ' ') as chunk
  from t, unnest(range(0, (length(toks)+{text_analysis.PARA_W}-1)//{text_analysis.PARA_W})) as u(i)
), df as (
  select md5(chunk) as h, count(distinct doc_id) as nd
  from ch group by h
), marked as (
  select c.doc_id, c.chunk_idx, c.chunk,
         (f.nd >= {text_analysis.BOILER_MIN_DOCS}) as is_boiler
  from ch c join df f on md5(c.chunk) = f.h
)
select doc_id,
       count(*) as n_chunks,
       cast(sum(case when is_boiler then 1 else 0 end) as bigint) as n_boiler,
       coalesce(array_to_string(
         list(case when not is_boiler then chunk end order by chunk_idx)
           filter (where not is_boiler), ' '), '') as text_kept
from marked group by doc_id order by doc_id
"""
    # Temperature-sampling truth: exact isqrt weights, floor shares,
    # largest-remainder seats (ties to the first language).
    sql["temperature_sampling_budget"] = f"""
with c as (
  select lang, count(*) as cnt from documents group by lang
), s as (
  select lang, cnt,
         cast(floor(sqrt(cast(cnt as double))) as bigint) as s0
  from c
), w as (
  select lang, cnt,
         s0 + (case when (s0+1)*(s0+1) <= cnt then 1 else 0 end)
            - (case when s0*s0 > cnt then 1 else 0 end) as w
  from s
), t as (
  select sum(w) as wsum, sum(cnt) as total from w
), b as (
  select lang, cnt, w, total,
         ({text_analysis.TEMP_TOTAL_BUDGET} * w) // wsum as base,
         ({text_analysis.TEMP_TOTAL_BUDGET} * w) % wsum as rem
  from w, t
), sp as (
  select sum(base) as spent from b
), r as (
  select b.*,
         row_number() over (order by rem desc, lang) as seat_rank
  from b
), g as (
  select lang, cnt, w, total,
         cast(base + (case when seat_rank <=
             {text_analysis.TEMP_TOTAL_BUDGET} - sp.spent
           then 1 else 0 end) as bigint) as budget
  from r, sp
)
select lang, cnt, w, budget,
       (cnt * 1000000) // total as natural_ppm,
       (budget * 1000000) // {text_analysis.TEMP_TOTAL_BUDGET}
         as sampled_ppm
from g order by lang
"""
    # Span-corruption truth: per-block explode + ordered string_agg
    # rebuild, same hashed in-block offsets.
    sql["span_corruption_plan"] = f"""
with t as (
  select doc_id, text, string_split(text, ' ') as toks,
         len(string_split(text, ' ')) as n
  from documents
), bl as (
  select doc_id, toks, n, cast(u.b as bigint) as b,
         (doc_id * {text_analysis.CORRUPT_OFF_A}
          + u.b * {text_analysis.CORRUPT_OFF_B})
           % {text_analysis.CORRUPT_BLOCK - text_analysis.CORRUPT_SPAN + 1}
           as off
  from t, unnest(range(n // {text_analysis.CORRUPT_BLOCK})) u(b)
), pc as (
  select doc_id, b,
         array_to_string(list_filter([
           array_to_string(toks[b*{text_analysis.CORRUPT_BLOCK}+1 :
                                b*{text_analysis.CORRUPT_BLOCK}+off], ' '),
           '<extra_id_' || b || '>',
           array_to_string(toks[b*{text_analysis.CORRUPT_BLOCK}+off+{text_analysis.CORRUPT_SPAN}+1 :
                                (b+1)*{text_analysis.CORRUPT_BLOCK}], ' ')
         ], x -> x <> ''), ' ') as piece,
         '<extra_id_' || b || '> ' ||
           array_to_string(toks[b*{text_analysis.CORRUPT_BLOCK}+off+1 :
                                b*{text_analysis.CORRUPT_BLOCK}+off+{text_analysis.CORRUPT_SPAN}], ' ')
           as tgt
  from bl
), agg as (
  select doc_id,
         string_agg(piece, ' ' order by b) as body,
         string_agg(tgt, ' ' order by b) as target,
         count(*) as n_blocks
  from pc group by doc_id
)
select t.doc_id,
       cast(t.n as bigint) as n_tokens,
       cast(coalesce(a.n_blocks, 0) as bigint) as n_blocks,
       cast(coalesce(a.n_blocks, 0) * {text_analysis.CORRUPT_SPAN} as bigint)
         as n_masked,
       case when t.n > 0
            then (coalesce(a.n_blocks, 0) * {text_analysis.CORRUPT_SPAN}
                  * 1000000) // t.n
            else 0 end as masked_ppm,
       case when coalesce(a.n_blocks, 0) > 0 then
         array_to_string(list_filter([a.body,
           array_to_string(toks[a.n_blocks*{text_analysis.CORRUPT_BLOCK}+1 : t.n], ' ')
         ], x -> x <> ''), ' ')
       else t.text end as corrupted,
       case when coalesce(a.n_blocks, 0) > 0 then a.target else '' end
         as target
from t left join agg a using (doc_id)
order by t.doc_id
"""
    # Incremental-pack truth: the FULL re-pack restricted to the batch —
    # the oracle IS the append-stability invariant.
    sql["sequence_pack_incremental"] = f"""
with d as (
  select doc_id, source,
         len(string_split(text, ' ')) as n_tokens
  from documents
), nn as (select count(*) as n from documents),
full_pack as (
  select doc_id, source, n_tokens,
         sum(n_tokens) over (partition by source order by doc_id
           rows between unbounded preceding and current row) as cum_end
  from d
)
select source, doc_id, cast(n_tokens as bigint) as n_tokens,
       cast(cum_end - n_tokens as bigint) as start_tok,
       cast((cum_end - n_tokens) // {text_analysis.SEQ_LEN} as bigint)
         as first_seq,
       cast((cum_end - 1) // {text_analysis.SEQ_LEN} as bigint) as last_seq
from full_pack cross join nn
where doc_id >= n - n // {text_analysis.PACK_BATCH_SPLIT_FRAC}
order by source, doc_id
"""
    # Apportionment truth: same floor + largest-remainder arithmetic.
    sql["budget_allocation"] = f"""
with d as (
  select source, len(string_split(text, ' ')) as n_tokens from documents
), per as (select source, sum(n_tokens) as tok from d group by source),
tot as (select sum(tok) as total from per),
base as (
  select source, tok,
         ({text_analysis.BUDGET_TOTAL} * tok) // total as floor_alloc,
         ({text_analysis.BUDGET_TOTAL} * tok) % total as rem
  from per cross join tot
),
lo as (
  select {text_analysis.BUDGET_TOTAL} - sum(floor_alloc) as leftover
  from base
),
rk as (
  select source, tok, floor_alloc,
         row_number() over (order by rem desc, source) as rem_rank
  from base
)
select source, cast(tok as bigint) as tok,
       cast(floor_alloc
            + case when rem_rank <= leftover then 1 else 0 end
         as bigint) as alloc
from rk cross join lo
order by source
"""
    # PPR truth: global-PR arithmetic with the teleport restricted to
    # the seed set; same floor-division damping, three unrolled rounds.
    sql["personalized_pagerank"] = f"""
with n as (
  select count(*) as nn,
         greatest(1, (count(*) + {web_extract.PPR_SEED_MOD} - 1)
                     // {web_extract.PPR_SEED_MOD}) as ns
  from documents
),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
outd as (select src, count(*) as out_deg from edges group by src),
pr0 as (
  select doc_id as v,
         case when doc_id % {web_extract.PPR_SEED_MOD} = 0
              then {web_extract.PR_SCALE} // ns else 0 end as pr
  from documents, n
),
c1 as (
  select e.dst as v, sum((85 * p.pr) // (100 * o.out_deg)) as s
  from edges e join pr0 p on e.src = p.v join outd o on e.src = o.src
  group by e.dst
),
it1 as (
  select d.doc_id as v,
         (case when d.doc_id % {web_extract.PPR_SEED_MOD} = 0
               then 150000000 // ns else 0 end)
           + coalesce(c1.s, 0) as pr
  from documents d cross join n left join c1 on c1.v = d.doc_id
),
c2 as (
  select e.dst as v, sum((85 * p.pr) // (100 * o.out_deg)) as s
  from edges e join it1 p on e.src = p.v join outd o on e.src = o.src
  group by e.dst
),
it2 as (
  select d.doc_id as v,
         (case when d.doc_id % {web_extract.PPR_SEED_MOD} = 0
               then 150000000 // ns else 0 end)
           + coalesce(c2.s, 0) as pr
  from documents d cross join n left join c2 on c2.v = d.doc_id
),
c3 as (
  select e.dst as v, sum((85 * p.pr) // (100 * o.out_deg)) as s
  from edges e join it2 p on e.src = p.v join outd o on e.src = o.src
  group by e.dst
),
it3 as (
  select d.doc_id as v,
         (case when d.doc_id % {web_extract.PPR_SEED_MOD} = 0
               then 150000000 // ns else 0 end)
           + coalesce(c3.s, 0) as pr
  from documents d cross join n left join c3 on c3.v = d.doc_id
)
select d.doc_id, cast(it3.pr as bigint) as ppr_ppb,
       d.doc_id % {web_extract.PPR_SEED_MOD} = 0 as is_seed
from documents d join it3 on it3.v = d.doc_id
where it3.pr > 0
order by d.doc_id
"""
    # Redirect truth: sequential recursive walk to the terminal — the
    # O(L)-round formulation the pointer doubling replaces.
    sql["redirect_resolution"] = """
with recursive f as (
  select doc_id as u,
         case when doc_id % 10 != 0 then doc_id - 1 else doc_id end as nxt
  from documents
),
walk(u, cur, hops) as (
  select u, u, 0 from f
  union all
  select w.u, f.nxt, w.hops + 1
  from walk w join f on f.u = w.cur
  where f.nxt != w.cur
),
fin as (
  select u, cur, hops,
         row_number() over (partition by u order by hops desc) as rn
  from walk
)
select u as doc_id, cast(cur as bigint) as final_id,
       cast(hops as bigint) as chain_len
from fin where rn = 1 order by u
"""
    # Path truth: same first-purchase cutoff, ordered string_agg paths.
    sql["purchase_paths"] = f"""
with r as (
  select user_id, ts, event_id, event_type,
         sum(case when event_type = 'purchase' then 1 else 0 end)
           over (partition by user_id order by ts, event_id
                 rows between unbounded preceding and current row) as np
  from events
),
conv as (
  select distinct user_id from events where event_type = 'purchase'
),
pre as (
  select r.* from r join conv using (user_id)
  where np = 0 or (np = 1 and event_type = 'purchase')
),
paths as (
  select user_id,
         string_agg(event_type, '>' order by ts, event_id) as path
  from pre group by user_id
),
freq as (select path, count(*) as n_users from paths group by path),
rk as (
  select path, n_users,
         row_number() over (order by n_users desc, path) as rank
  from freq
)
select cast(rank as int) as rank, path, cast(n_users as bigint) as n_users
from rk where rank <= {relational.PATH_TOP} order by rank
"""
    # PSI truth: reference-period decile edges via order statistics,
    # fold-bucketing, add-one smoothed (p−q)·ln(p/q) per bucket.
    sql["psi_drift"] = f"""
with ev as (
  select date_diff('day', date '2024-01-01', cast(ts as date))
           // {relational.THETA_PERIOD_DAYS} as p,
         cast(round(value*100) as bigint) as cents, event_id
  from events
  where date_diff('day', date '2024-01-01', cast(ts as date))
          // {relational.THETA_PERIOD_DAYS} <= 1
),
ref as (select cents, event_id from ev where p = 0),
nn as (select count(*) as n0 from ref),
rk as (
  select cents,
         row_number() over (order by cents, event_id) as rn
  from ref
),
edges as (
  select list(cents order by cents) as edges
  from rk cross join nn
  where rn in (
    select (n0 * k + {relational.PSI_BUCKETS} - 1)
             // {relational.PSI_BUCKETS}
    from nn, unnest(range(1, {relational.PSI_BUCKETS})) as u(k)
  )
),
b as (
  select p,
         len(list_filter(coalesce(edges.edges, []),
                         e -> e < ev.cents)) as bucket
  from ev cross join edges
),
c as (
  select bucket,
         sum(case when p = 0 then 1 else 0 end) as n_ref,
         sum(case when p = 1 then 1 else 0 end) as n_cur
  from b group by bucket
),
n1t as (select count(*) as n1 from ev where p = 1)
select cast(bucket as int) as bucket,
       cast(n_ref as bigint) as n_ref, cast(n_cur as bigint) as n_cur,
       round(((n_ref+1)/(n0+{relational.PSI_BUCKETS}.0)
              - (n_cur+1)/(n1+{relational.PSI_BUCKETS}.0))
             * ln(((n_ref+1)/(n0+{relational.PSI_BUCKETS}.0))
                  / ((n_cur+1)/(n1+{relational.PSI_BUCKETS}.0))), 6)
         as psi_contrib
from c cross join nn cross join n1t
order by bucket
"""
    # KS truth: per-value counts, window ECDFs, integer cross-multiplied
    # deviation in HUGEINT (decimal(38,0) on the Spark side), trunc-div ppm.
    sql["ks_drift"] = f"""
with ev as (
  select date_diff('day', date '2024-01-01', cast(ts as date))
           // {relational.THETA_PERIOD_DAYS} as p,
         cast(round(value*100) as bigint) as cents
  from events
  where date_diff('day', date '2024-01-01', cast(ts as date))
          // {relational.THETA_PERIOD_DAYS} <= 1
),
nn as (
  select sum(case when p = 0 then 1 else 0 end) as n0,
         sum(case when p = 1 then 1 else 0 end) as n1
  from ev
),
c as (
  select cents,
         sum(case when p = 0 then 1 else 0 end) as c_ref,
         sum(case when p = 1 then 1 else 0 end) as c_cur
  from ev group by cents
),
cum as (
  select cents,
         sum(c_ref) over (order by cents) as cum_ref,
         sum(c_cur) over (order by cents) as cum_cur
  from c
),
d as (
  select cents, cum_ref, cum_cur,
         abs(cast(cum_ref as hugeint) * n1
             - cast(cum_cur as hugeint) * n0) as d_num,
         n0, n1
  from cum cross join nn
)
select cents as at_cents,
       cast(cum_ref as bigint) as cum_ref,
       cast(cum_cur as bigint) as cum_cur,
       cast(n0 as bigint) as n_ref, cast(n1 as bigint) as n_cur,
       cast((d_num * 1000000) // (cast(n0 as hugeint) * n1) as bigint)
         as d_ppm
from d order by d_num desc, cents limit 1
"""
    # Compaction truth: exclusive per-source cumsum, integer bin div,
    # identical rollup.
    sql["compaction_plan"] = f"""
with f as (
  select doc_id, source, n_chars as bytes,
         coalesce(sum(n_chars) over (partition by source order by doc_id
                  rows between unbounded preceding and 1 preceding), 0)
           as off
  from documents
)
select source,
       cast(off // {relational.COMPACT_TARGET_BYTES} as bigint) as bin_id,
       count(*) as n_files,
       cast(sum(bytes) as bigint) as bin_bytes,
       min(doc_id) as first_doc, max(doc_id) as last_doc
from f group by 1, 2 order by source, bin_id
"""
    # Q8 truth: identical integer c2 revenue, HUGEINT numerator
    # (bigint overflows past ~9e18), trunc-div ppm (both sides
    # non-negative so // == div).
    sql["market_share"] = """
with j as (
  select year(o_orderdate) as o_year,
         (cast(round(l_extendedprice * 100) as bigint)
          * (100 - cast(round(l_discount * 100) as bigint))) as rev_c2,
         n2.n_name as supp_nation
  from lineitem
  join part     on l_partkey = p_partkey
  join orders   on l_orderkey = o_orderkey
  join customer on o_custkey = c_custkey
  join nation n1 on c_nationkey = n1.n_nationkey
  join region   on n1.n_regionkey = r_regionkey
  join supplier on l_suppkey = s_suppkey
  join nation n2 on s_nationkey = n2.n_nationkey
  where p_type = 'PROMO' and r_name = 'EUROPE'
    and o_orderdate >= timestamp '1996-01-01'
    and o_orderdate <  timestamp '2001-01-01'
)
select o_year,
       case when sum(rev_c2) = 0 then null else
         cast((sum(case when supp_nation = 'NATION_3' then rev_c2
                        else 0 end)::HUGEINT * 1000000)
              // sum(rev_c2)::HUGEINT as bigint) end as share_ppm,
       cast(sum(rev_c2) as bigint) as total_rev_c2
from j group by o_year order by o_year
"""
    # Attribution truth: identical lookback join, identical ppm split
    # (remainder to the last touch), NOT-EXISTS for the (none) row.
    _lb = relational.ATTR_LOOKBACK_DAYS
    sql["multi_touch_attribution"] = f"""
with conv as (
  select event_id as conv_id, user_id as cu, ts as conv_ts,
         cast(round(value * 100) as bigint) as cents
  from events where event_type = 'purchase'
), touch as (
  select user_id as tu, event_type as channel, ts as touch_ts,
         event_id as touch_id
  from events where event_type in ('click', 'view')
), j as (
  select conv_id, cents, channel, touch_ts, touch_id
  from conv join touch on cu = tu
   and touch_ts < conv_ts
   and touch_ts >= conv_ts - interval {_lb} day
), per as (
  select conv_id, cents, channel,
         count(*) over (partition by conv_id) as n,
         row_number() over (partition by conv_id
                            order by touch_ts, touch_id) as rn
  from j
), credited as (
  select channel, cents, rn, n,
         1000000 // n
         + case when rn = n then 1000000 % n else 0 end as credit_ppm
  from per
), att as (
  select channel,
         cast(sum(case when rn = 1 then 1 else 0 end) as bigint)
           as first_touch_convs,
         cast(sum(case when rn = n then 1 else 0 end) as bigint)
           as last_touch_convs,
         cast(sum(credit_ppm) as bigint) as linear_credit_ppm,
         cast(sum(credit_ppm * cents) as bigint) as value_c_ppm
  from credited group by channel
), orph as (
  select '(none)' as channel,
         count(*)::bigint as first_touch_convs,
         count(*)::bigint as last_touch_convs,
         (count(*) * 1000000)::bigint as linear_credit_ppm,
         (coalesce(sum(cents), 0) * 1000000)::bigint as value_c_ppm
  from conv c where not exists (
    select 1 from touch t where t.tu = c.cu
      and t.touch_ts < c.conv_ts
      and t.touch_ts >= c.conv_ts - interval {_lb} day)
)
select * from att union all select * from orph order by channel
"""
    # Q2 truth: the CORRELATED min-subquery formulation (vs the
    # engine's struct-min) — agreement validates the decorrelation.
    sql["min_cost_supplier"] = """
with u as (
  select l_partkey, l_suppkey,
         cast(round(l_extendedprice * 100) as bigint) * 10000
         // cast(round(l_quantity * 100) as bigint) as unit_micro
  from lineitem
)
select u.l_partkey, s_name, unit_micro
from u join supplier on l_suppkey = s_suppkey
where (unit_micro, l_suppkey) = (
  select (min(unit_micro), min(l_suppkey) filter (
            where unit_micro = (select min(unit_micro) from u u3
                                where u3.l_partkey = u.l_partkey)))
  from u u2 where u2.l_partkey = u.l_partkey)
order by u.l_partkey
"""
    # Q11 truth: HAVING against the scalar total, same exact ppm.
    sql["revenue_concentrated_parts"] = f"""
with pr as (
  select l_partkey,
         sum(cast(round(l_extendedprice * 100) as bigint)
             * (100 - cast(round(l_discount * 100) as bigint)))
           as part_rev_c2
  from lineitem group by 1
), t as (select sum(part_rev_c2)::hugeint as tot from pr)
select l_partkey, cast(part_rev_c2 as bigint) as part_rev_c2,
       cast((part_rev_c2::hugeint * 1000000) // tot as bigint)
         as share_ppm
from pr, t
where part_rev_c2::hugeint * 1000000 > {relational.Q11_SHARE_PPM} * tot
order by l_partkey
"""
    # Q13 truth: same join-condition filter (NOT a where clause).
    sql["customer_order_distribution"] = """
with pc as (
  select c_custkey, count(o_orderkey) as n_orders
  from customer left join orders on c_custkey = o_custkey
   and o_orderpriority <> '1-URGENT'
  group by 1
)
select cast(n_orders as bigint) as n_orders,
       cast(count(*) as bigint) as n_customers
from pc group by n_orders
order by n_customers desc, n_orders desc
"""
    # Q18 truth: identical HAVING rollup then dimension joins.
    sql["large_volume_orders"] = f"""
with big as (
  select l_orderkey,
         sum(cast(round(l_quantity * 100) as bigint)) as total_qty_c
  from lineitem group by 1
  having total_qty_c > {relational.Q18_MIN_QTY_C}
)
select c_name, o_orderkey, total_qty_c,
       cast(round(o_totalprice * 100) as bigint) as price_c
from big join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
order by total_qty_c desc, o_orderkey
"""
    # Apriori truth: the DIRECT (prune-free) triple count — agreement
    # proves the engine's downward-closure prune is lossless.
    sql["market_basket_triples"] = f"""
with li as (select distinct l_orderkey as ok, l_partkey as p from lineitem)
select a.p as pa, b.p as pb, c.p as pc, count(*) as support
from li a
join li b on a.ok = b.ok and a.p < b.p
join li c on a.ok = c.ok and b.p < c.p
group by 1, 2, 3
having count(*) >= {relational.BASKET_MINSUP}
order by pa, pb, pc
"""
    # Q20-shape truth: same two-level aggregate, same 2x-fair-share cut.
    sql["single_source_parts"] = """
with pair as (
  select l_partkey, l_suppkey,
         sum(cast(round(l_quantity * 100) as bigint)) as supp_qty_c
  from lineitem group by 1, 2
), tot as (
  select l_partkey, sum(supp_qty_c) as part_qty_c,
         count(*) as n_suppliers
  from pair group by 1
)
select p_partkey, p_brand, s_name,
       cast(supp_qty_c as bigint) as supp_qty_c,
       cast(part_qty_c as bigint) as part_qty_c,
       cast(n_suppliers as bigint) as n_suppliers,
       cast((supp_qty_c * 1000) // part_qty_c as bigint) as share_milli
from pair join tot using (l_partkey)
join part on l_partkey = p_partkey
join supplier on l_suppkey = s_suppkey
where n_suppliers > 1 and supp_qty_c * n_suppliers > part_qty_c * 2
order by p_partkey, s_name
"""
    # Diversity truth: same n-gram windows, one literal-n branch per
    # order (DuckDB v1.0 cannot bind a VALUES column inside a lateral).
    sql["distinct_ngram_diversity"] = """
with toks as (
  select source,
         list_filter(string_split(lower(text), ' '), t -> t != '') as toks
  from documents
), grams as (
  select source, 1 as n, unnest(toks) as gram from toks
  union all
  select source, 2, array_to_string(toks[i : i + 1], ' ')
  from toks, lateral (select unnest(range(1, greatest(0, len(toks) - 1)
                                          + 1)) as i)
  union all
  select source, 3, array_to_string(toks[i : i + 2], ' ')
  from toks, lateral (select unnest(range(1, greatest(0, len(toks) - 2)
                                          + 1)) as i)
)
select source, cast(n as int) as n,
       cast(count(*) as bigint) as total_grams,
       cast(count(distinct gram) as bigint) as distinct_grams,
       cast(count(distinct gram) * 1000000 // count(*) as bigint)
         as distinct_ppm
from grams group by source, n order by source, n
"""
    # Lexicon truth: identical leet synthesis + fold + literal list.
    _lex = ", ".join(f"'{t}'" for t in text_analysis.POLICY_LEXICON)
    sql["policy_lexicon_score"] = f"""
with wire as (
  select doc_id,
         case when doc_id % 5 = 1 then 1 else 0 end as obfuscated,
         case when doc_id % 5 = 1
              then translate(text, '{text_analysis.LEET_TO}',
                             '{text_analysis.LEET_FROM}')
              else text end as wt
  from documents
), toks as (
  select doc_id, obfuscated,
         list_filter(string_split(translate(wt,
             '{text_analysis.LEET_FROM}', '{text_analysis.LEET_TO}'), ' '),
             t -> t != '') as toks
  from wire
), h as (
  select doc_id, obfuscated,
         list_filter(toks,
             t -> list_contains([{_lex}], t)) as hits_arr,
         len(toks) as n_tokens
  from toks
)
select doc_id, obfuscated,
       cast(len(hits_arr) as bigint) as hits,
       cast(len(list_distinct(hits_arr)) as bigint) as distinct_terms,
       cast(case when n_tokens = 0 then 0
            else len(hits_arr) * 1000 // n_tokens end as bigint)
         as rate_milli,
       case when (case when n_tokens = 0 then 0
                  else len(hits_arr) * 1000 // n_tokens end)
                 >= {text_analysis.POLICY_RATE_MILLI}
                 or len(list_distinct(hits_arr)) >= 2
            then 1 else 0 end as flagged
from h order by doc_id
"""
    # Q21 truth: the textbook EXISTS / NOT-EXISTS double self-join,
    # deliberately a DIFFERENT formulation from the engine's two-agg
    # plan — agreement checks the rewrite, not the transcription.
    sql["late_sole_supplier"] = f"""
with l as (
  select distinct l_orderkey as ok, l_suppkey as sk,
         bool_or(l_shipdate > o_orderdate
                 + interval {relational.LATE_DAYS} day)
           over (partition by l_orderkey, l_suppkey) as late
  from lineitem join orders on l_orderkey = o_orderkey
)
select s_name, count(*) as numwait
from l l1 join supplier on l1.sk = s_suppkey
where l1.late
  and exists (select 1 from l l2 where l2.ok = l1.ok and l2.sk <> l1.sk)
  and not exists (select 1 from l l3
                  where l3.ok = l1.ok and l3.sk <> l1.sk and l3.late)
group by s_name order by numwait desc, s_name
"""
    # Homoglyph truth: same spoof synthesis + confusable translate.
    sql["homoglyph_dedup"] = f"""
with named as (
  select s_suppkey,
         unnest([s_name,
                 case when s_suppkey % 3 = 1
                      then translate(s_name, 'ae', 'ае')
                      else s_name end]) as display_name
  from supplier
), sk as (
  select s_suppkey, display_name,
         lower(translate(display_name,
               '{dedup.HOMOGLYPH_FROM}', '{dedup.HOMOGLYPH_TO}'))
           as skeleton
  from named
)
select skeleton, count(*) as n_names,
       count(distinct display_name) as n_raw_variants,
       cast(min(s_suppkey) as bigint) as canonical_key
from sk group by skeleton
having count(distinct display_name) > 1
order by skeleton
"""
    # HITS truth: HITS_ITERS unrolled (authority, hub) half-steps, each
    # renormalized by its round max via hugeint floor division — the
    # same integer-exact rule as the Spark side's decimal(38,0) div.
    _hits_rounds = []
    _prev_hub = "h0"
    for _i in range(1, web_extract.HITS_ITERS + 1):
        _hits_rounds.append(
            f"a{_i}r as materialized (select e.dst as v, sum(h.hub) as s"
            f" from edges e join {_prev_hub} h on e.src = h.v"
            f" group by e.dst)"
        )
        _hits_rounds.append(f"a{_i}m as (select max(s) as mx from a{_i}r)")
        _hits_rounds.append(
            f"a{_i} as materialized (select v, cast(s::hugeint *"
            f" {web_extract.HITS_SCALE} // mx as bigint) as auth"
            f" from a{_i}r, a{_i}m)"
        )
        _hits_rounds.append(
            f"h{_i}r as materialized (select e.src as v, sum(a.auth) as s"
            f" from edges e join a{_i} a on e.dst = a.v"
            f" group by e.src)"
        )
        _hits_rounds.append(f"h{_i}m as (select max(s) as mx from h{_i}r)")
        _hits_rounds.append(
            f"h{_i} as materialized (select v, cast(s::hugeint *"
            f" {web_extract.HITS_SCALE} // mx as bigint) as hub"
            f" from h{_i}r, h{_i}m)"
        )
        _prev_hub = f"h{_i}"
    _hits_last = web_extract.HITS_ITERS
    sql["hits_hubs_authorities"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as materialized (select distinct src, dst from e0 where src != dst),
h0 as (select doc_id as v, cast({web_extract.HITS_SCALE} as bigint) as hub
       from documents),
{",".join(_hits_rounds)}
select d.doc_id,
       cast(coalesce(h.hub, 0) as bigint) as hub_ppm,
       cast(coalesce(a.auth, 0) as bigint) as auth_ppm
from documents d
left join h{_hits_last} h on d.doc_id = h.v
left join a{_hits_last} a on d.doc_id = a.v
order by d.doc_id
"""
    # Anchor truth: same graph + leading-token anchors; the window's
    # (cnt desc, term desc) pick equals Spark's max(struct(cnt, term)).
    sql["anchor_text_aggregation"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as materialized (select distinct src, dst from e0 where src != dst),
a as (
  select e.dst,
         unnest(string_split(lower(d.text), ' ')
                [1:{web_extract.ANCHOR_TOKENS}]) as term
  from edges e join documents d on e.src = d.doc_id
),
c as (select dst, term, count(*) as cnt from a group by dst, term),
inl as (select dst, count(*) as n_inlinks from edges group by dst),
top as (
  select dst, term, cnt,
         row_number() over (partition by dst
                            order by cnt desc, term desc) as rn,
         count(*) over (partition by dst) as n_terms
  from c
)
select t.dst as doc_id, t.term as top_term, t.cnt as top_cnt,
       cast(i.n_inlinks as bigint) as n_inlinks,
       cast(t.n_terms as bigint) as n_terms
from top t join inl i on t.dst = i.dst
where rn = 1 order by doc_id
"""
    # Co-citation truth: same graph, src self-join, ppm squared cosine.
    sql["cocitation_pairs"] = """
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as materialized (select distinct src, dst from e0 where src != dst),
p as (
  select e1.dst as a, e2.dst as b, count(*) as cocite_cnt
  from edges e1 join edges e2 on e1.src = e2.src and e1.dst < e2.dst
  group by e1.dst, e2.dst
),
ind as (select dst, count(*) as indeg from edges group by dst)
select p.a as doc_a, p.b as doc_b, cocite_cnt,
       cast(ia.indeg as bigint) as indeg_a,
       cast(ib.indeg as bigint) as indeg_b,
       cocite_cnt * cocite_cnt * 1000000 // (ia.indeg * ib.indeg)
         as cos2_ppm
from p join ind ia on p.a = ia.dst join ind ib on p.b = ib.dst
order by doc_a, doc_b
"""
    # k-core truth: three unrolled peel rounds over the undirected graph.
    # k-core: KCORE_MAX_ROUNDS unrolled peels == the fixed point at any
    # convergence depth (peeling is idempotent once converged; Spark
    # stops at the first zero-drop round, capped at the same constant).
    # WL truth: same degree seed, sorted neighbor-color multisets,
    # md5-32 recoloring, unrolled WL_ROUNDS rounds.
    _wl_rounds = []
    for _i in range(1, web_extract.WL_ROUNDS + 1):
        _wl_rounds.append(
            f"wa{_i} as materialized ("
            f" select und.src,"
            f" array_to_string(list(s.lbl order by s.lbl), ',') as nls"
            f" from und join ws{_i - 1} s on und.dst = s.doc_id"
            f" group by und.src)"
        )
        _wl_rounds.append(
            f"ws{_i} as materialized ("
            f" select s.doc_id,"
            f" (('0x' || substr(md5(s.lbl || '|' || coalesce(a.nls, '')),"
            f" 1, 8))::bigint)::varchar as lbl"
            f" from ws{_i - 1} s left join wa{_i} a on s.doc_id = a.src)"
        )
    sql["wl_refinement"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges union select dst, src from edges
),
deg as (select src, count(*) as deg from und group by 1),
ws0 as materialized (
  select d.doc_id, coalesce(deg.deg, 0)::varchar as lbl
  from (select doc_id from documents) d
  left join deg on d.doc_id = deg.src
),
{",".join(_wl_rounds)},
fin as (
  select doc_id, lbl::bigint as wl_label
  from ws{web_extract.WL_ROUNDS}
),
sz as (select wl_label, count(*) as class_size from fin group by 1)
select fin.doc_id, fin.wl_label, cast(sz.class_size as bigint) as class_size
from fin join sz using (wl_label)
order by fin.doc_id
"""
    # Assortativity truth: same symmetric edge list, same generated
    # exact-Pearson formula with DuckDB's // division.
    sql["degree_assortativity"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges union select dst, src from edges
),
deg as (select src, count(*) as deg from und group by 1),
stats as (
  select count(*) as n,
         sum(du.deg) as sx_du, sum(du.deg * du.deg) as sxx_du,
         sum(dv.deg) as sx_dv, sum(dv.deg * dv.deg) as sxx_dv,
         sum(du.deg * dv.deg) as sxy_du_dv
  from und
  join deg du on und.src = du.src
  join deg dv on und.dst = dv.src
)
select cast(n as bigint) as n_directed_edges,
       cast({relational._corr_expr("du", "dv", "//")} as bigint)
         as assortativity_ppm
from stats where n > 0
"""
    # Link-prediction truth: same wedge candidates, inclusion-exclusion
    # union, anti-join against canonical edges, half-away ppm.
    sql["link_prediction_jaccard"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges union select dst, src from edges
),
deg as (select src, count(*) as deg from und group by 1),
cn as (
  select a.src as u, b.src as v, count(*) as cn
  from und a join und b on a.dst = b.dst and a.src < b.src
  group by 1, 2 having count(*) >= {web_extract.LP_MIN_CN}
),
nonedges as (
  select cn.* from cn
  left join (select src as u, dst as v from und where src < dst) e
    on cn.u = e.u and cn.v = e.v
  where e.u is null
)
select ne.u, ne.v, cast(ne.cn as bigint) as cn,
       cast(du.deg as bigint) as deg_u, cast(dv.deg as bigint) as deg_v,
       cast((2 * ne.cn::hugeint * 1000000 + (du.deg + dv.deg - ne.cn))
            // (2 * (du.deg + dv.deg - ne.cn)) as bigint) as jaccard_ppm
from nonedges ne
join deg du on ne.u = du.src
join deg dv on ne.v = dv.src
order by ne.u, ne.v
"""
    # k-truss: unrolled support-peel rounds over the canonical (a < b)
    # edge list — same idempotence argument as the k-core unroll.
    _kt_rounds = []
    for _i in range(1, web_extract.TRUSS_MAX_ROUNDS + 1):
        _kt_rounds.append(
            f"t{_i} as materialized ("
            f" select e1.a as x, e1.b as y, e2.b as z from te{_i - 1} e1"
            f" join te{_i - 1} e2 on e1.b = e2.a"
            f" join te{_i - 1} e3 on e3.a = e1.a and e3.b = e2.b)"
        )
        _kt_rounds.append(
            f"te{_i} as materialized ("
            f" select a, b, count(*) as sup from ("
            f"  select x as a, y as b from t{_i}"
            f"  union all select y, z from t{_i}"
            f"  union all select x, z from t{_i}) group by 1, 2"
            f" having count(*) >= {web_extract.TRUSS_K - 2})"
        )
    sql["ktruss_edges"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
te0 as materialized (
  select distinct least(src, dst) as a, greatest(src, dst) as b
  from e0 where src != dst
),
{",".join(_kt_rounds)}
select a, b, cast(sup as bigint) as support
from te{web_extract.TRUSS_MAX_ROUNDS}
order by a, b
"""
    _kc_rounds = []
    _kc_rounds.append(
        "d1 as materialized"
        " (select src, count(*) as deg from und group by src)"
    )
    for _i in range(2, web_extract.KCORE_MAX_ROUNDS + 1):
        _kc_rounds.append(
            f"a{_i - 1} as materialized (select src as v from d{_i - 1}"
            f" where deg >= {web_extract.KCORE_K})"
        )
        _kc_rounds.append(
            f"d{_i} as materialized"
            f" (select u.src, count(*) as deg from und u"
            f" where u.src in (select v from a{_i - 1})"
            f" and u.dst in (select v from a{_i - 1}) group by u.src)"
        )
    sql["kcore_peel"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges
  union
  select dst, src from edges
),
{",".join(_kc_rounds)}
select src as doc_id, cast(deg as bigint) as residual_degree
from d{web_extract.KCORE_MAX_ROUNDS} where deg >= {web_extract.KCORE_K}
order by src
"""
    # KM truth: same lifetimes/censoring, cumulative exp-sum-ln product.
    sql["km_churn_survival"] = """
with last as (
  select user_id, max(cast(ts as date)) as last_day
  from events group by user_id
),
mx as (select max(last_day) as mxd from last),
lt as (
  select user_id, last_day,
         case when last_day < mxd then 1 else 0 end as churned
  from last cross join mx
),
per as (
  select last_day, count(*) as n_leaving, sum(churned) as d_churned
  from lt group by last_day
),
tot as (select count(*) as total from lt),
risk as (
  select last_day, d_churned,
         total - coalesce(sum(n_leaving) over (order by last_day
           rows between unbounded preceding and 1 preceding), 0)
           as n_at_risk
  from per cross join tot
),
steps as (select * from risk where d_churned > 0)
select last_day as day, cast(d_churned as bigint) as d_churned,
       cast(n_at_risk as bigint) as n_at_risk,
       round(exp(sum(ln(1.0 - d_churned / n_at_risk::double))
             over (order by last_day
                   rows between unbounded preceding and current row)), 6)
         as survival
from steps order by day
"""
    # Benford truth: identical literal expectations, ppm arithmetic.
    _benford_case = " ".join(
        f"when {d} then {p}" for d, p in relational.BENFORD_PPM.items()
    )
    sql["benford_audit"] = f"""
with c0 as (
  select cast(substr(cast(cast(floor(o_totalprice) as bigint) as varchar), 1, 1)
              as int) as digit
  from orders
),
c as (
  select digit, count(*) as n from c0
  where digit between 1 and 9 group by digit
),
t as (select sum(n) as tot from c)
select digit, cast(n as bigint) as n,
       cast((n * 1000000) // tot as bigint) as obs_ppm,
       cast(case digit {_benford_case} end as bigint) as benford_ppm,
       cast(abs((n * 1000000) // tot
                - case digit {_benford_case} end) as bigint)
         as abs_dev_ppm
from c cross join t order by digit
"""
    # Heaps truth: same deterministic token stream, min-seq first
    # occurrences, correlated checkpoint counts.
    sql["heaps_vocab_growth"] = f"""
with d as (
  select doc_id, string_split(text, ' ') as toks from documents
),
cnt as (select doc_id, len(toks) as n_tok from d),
off as (
  select doc_id,
         coalesce(sum(n_tok) over (order by doc_id
           rows between unbounded preceding and 1 preceding), 0) as off
  from cnt
),
tk as (
  select off.off + u.i as seq, d.toks[u.i] as term
  from d join off using (doc_id),
       unnest(range(1, len(d.toks) + 1)) as u(i)
),
first as (select term, min(seq) as fs from tk group by term),
cp as (
  select unnest({list(text_analysis.HEAPS_CHECKPOINTS)}) as checkpoint
)
select cast(checkpoint as bigint) as checkpoint,
       cast((select count(*) from first where fs <= checkpoint)
            as bigint) as distinct_terms
from cp order by checkpoint
"""
    # Seasonality truth: ISO-independent dayofweek (Sun=1 in both via
    # dayofweek/dow+1), 7-group ppm shares.
    sql["weekday_seasonality"] = """
with per as (
  select dayofweek(ts) + 1 as weekday, count(*) as n_events,
         sum(cast(round(value * 100) as bigint)) as sum_cents
  from events group by 1
),
tot as (select sum(n_events) as tn, sum(sum_cents) as tc from per)
select weekday, cast(n_events as bigint) as n_events,
       cast(sum_cents as bigint) as sum_cents,
       cast((n_events * 1000000) // tn as bigint) as volume_ppm,
       cast((sum_cents * 1000000) // tc as bigint) as value_ppm
from per cross join tot order by weekday
"""
    # Gini truth: same ascending (cents, user_id) ranks and floor-div
    # ppm definition.
    sql["gini_concentration"] = """
with u as (
  select user_id, sum(cast(round(value * 100) as bigint)) as cents
  from events group by user_id
),
r as (
  select user_id, cents,
         row_number() over (order by cents, user_id) as rk
  from u
),
t as (select count(*) as n, sum(cents) as s0 from u)
select cast(t.n as bigint) as n_users, cast(t.s0 as bigint) as total_cents,
       cast((2 * sum(rk * cents) * 1000000) // (t.n * t.s0)
            - ((t.n + 1) * 1000000) // t.n as bigint) as gini_ppm,
       cast((sum(case when rk > t.n - greatest(t.n // 100, 1)
                      then cents else 0 end) * 1000000) // t.s0
            as bigint) as top1_share_ppm,
       cast((sum(case when rk > t.n - greatest(t.n // 10, 1)
                      then cents else 0 end) * 1000000) // t.s0
            as bigint) as top10_share_ppm
from r cross join t
group by t.n, t.s0
"""
    # Entropy truth: identical -p·ln(p) fold over source shares.
    sql["source_entropy"] = """
with per as (select source, count(*) as n from documents group by source),
tot as (select sum(n) as tn, count(*) as k from per),
terms as (
  select k, -(n::double / tn) * ln(n::double / tn) as term
  from per cross join tot
)
select cast(k as bigint) as n_sources,
       round(sum(term), 6) as entropy_nats,
       case when k > 1 then round(sum(term) / ln(k::double), 6)
            else 0.0 end as entropy_normalized
from terms group by k
"""
    # Path truth: same synthesized 3-level paths, prefix counts.
    sql["url_path_rollup"] = f"""
with p as (
  select doc_id,
         '/cat' || (doc_id % 5)::varchar as cat
  from documents
), full_ as (
  select doc_id, cat,
         cat || '/sub' || (doc_id % 20)::varchar as sub
  from p
), pref as (
  select 1 as depth, cat as prefix from full_
  union all
  select 2, sub from full_
  union all
  select 3, sub || '/page' || doc_id::varchar from full_
)
select cast(depth as int) as depth, prefix,
       cast(count(*) as bigint) as n_pages
from pref group by depth, prefix
having count(*) >= {text_analysis.PATH_MIN_DOCS}
order by depth, prefix
"""
    # Quantile-norm truth: identical rank mapping r -> ceil(r·N/n_s).
    sql["quantile_normalize_length"] = """
with d as (select doc_id, source, n_chars from documents),
nt as (select count(*) as n from d),
cs as (select source, count(*) as n_s from d group by source),
r as (
  select d.doc_id, d.source, d.n_chars,
         row_number() over (partition by d.source
                            order by d.n_chars, d.doc_id) as rk
  from d
),
g as (
  select row_number() over (order by n_chars, doc_id) as grank,
         n_chars as norm_chars
  from d
)
select r.doc_id, r.source, r.n_chars,
       cast(g.norm_chars as bigint) as norm_chars
from r
join cs on r.source = cs.source
cross join nt
join g on g.grank = (r.rk * nt.n + cs.n_s - 1) // cs.n_s
order by r.doc_id
"""
    # Unpivot truth: the UNION ALL the stack() expansion replaces.
    sql["unpivot_measures"] = """
with long as (
  select 'quantity' as measure, l_quantity as val from lineitem
  union all
  select 'extendedprice', l_extendedprice from lineitem
  union all
  select 'discount', l_discount from lineitem
  union all
  select 'tax', l_tax from lineitem
)
select measure, count(*) as n_rows,
       cast(sum(cast(round(val * 100) as bigint)) as bigint) as sum_cents,
       cast(max(cast(round(val * 100) as bigint)) as bigint) as max_cents
from long group by measure order by measure
"""
    # End-to-end eval metrics: the gt parquet is the SAME file the Spark
    # query reads; predictions are re-synthesized with identical md5
    # arithmetic; greedy IoU matching replays via a recursive CTE in
    # (iou_ppb desc, gt_id, dt_id) order — bit-equal to the Spark
    # applyInPandas greedy loop (operators/evalmetrics.py).
    sql["eval_end2end"] = _eval_end2end_oracle()
    # A-ES weighted-sample truth: identical md5 uniform, identical
    # ln(u)/w e12 integer key, TakeOrdered-equivalent limit.
    sql["weighted_sample_aes"] = f"""
with keyed as (
  select doc_id, n_chars as weight,
         cast(round(ln((('0x' || substr(md5('aes:' || doc_id), 1, 10))::bigint
                        + 1) / {float(1 << relational.AES_UBITS)})
                    / n_chars * 1e12, 0) as bigint) as key_e12
  from documents
), top as (
  select * from keyed order by key_e12 desc, doc_id limit {relational.AES_K}
)
select cast(row_number() over (order by key_e12 desc, doc_id) as int) as rank,
       doc_id, weight, key_e12
from top order by rank
"""
    # DoReMi-mixture truth: same integer MW rounds unrolled as CTEs.
    _dm_parts = [
        """stats as (
  select source, sum(n_chars) // count(*) as stat from documents group by 1
), rng as (
  select min(stat) as lo, max(stat) as hi, count(*) as n_src from stats
), r0 as (
  select source,
         ((stat - lo) * 1000000) // greatest(hi - lo, 1) as excess_ppm,
         1000000 // n_src as w
  from stats cross join rng
)"""
    ]
    for _t in range(1, text_analysis.DOREMI_ROUNDS + 1):
        _dm_parts.append(
            f"""v{_t} as materialized (
  select source, excess_ppm,
         w * (1000000 + ({text_analysis.DOREMI_ETA_PPM} * excess_ppm)
              // 1000000) as v
  from r{_t - 1}
), r{_t} as (
  select source, excess_ppm,
         (v * 1000000) // (select sum(v) from v{_t}) as w
  from v{_t}
)"""
        )
    sql["doremi_mixture"] = (
        "with "
        + ",\n".join(_dm_parts)
        + f"""
select source, excess_ppm, w as weight_ppm
from r{text_analysis.DOREMI_ROUNDS} order by source
"""
    )
    # Label-propagation truth: the knn_graph oracle as a CTE, seeds by
    # vec_id residue, two unrolled vote rounds with the identical
    # Hard-negative truth: the kNN and near-dup oracles composed as
    # materialized CTEs; exclusion via NOT EXISTS on the canonical pair.
    sql["hard_negative_mining"] = f"""
with knn as materialized ({sql["knn_graph"]}),
dup as materialized ({sql["embedding_near_dup"]}),
kept as (
  select k.src, k.dst, k.cos from knn k
  where not exists (
    select 1 from dup d
    where d.vec_a = least(k.src, k.dst)
      and d.vec_b = greatest(k.src, k.dst)
  )
), r as (
  select src, dst, cos,
         cast(row_number() over (partition by src
                                 order by cos desc, dst) as int)
           as neg_rank
  from kept
)
select src, neg_rank, dst, cos from r
where neg_rank <= {similarity.HARD_NEG_K}
order by src, neg_rank
"""
    # (count desc, label asc) argmax.
    sql["knn_label_propagation"] = f"""
with knn as materialized ({sql["knn_graph"]}),
seeds as materialized (
  select vec_id,
         case when vec_id % {similarity.LP_SEED_MOD} = 0 then label end
           as lbl
  from embeddings
), v1 as (
  select k.src, s.lbl as nl, count(*) as c
  from knn k join seeds s on k.dst = s.vec_id
  where s.lbl is not null group by 1, 2
), p1 as (
  select src, nl from v1
  qualify row_number() over (partition by src order by c desc, nl) = 1
), l1 as (
  select s.vec_id, coalesce(s.lbl, p1.nl) as lbl
  from seeds s left join p1 on s.vec_id = p1.src
), v2 as (
  select k.src, s.lbl as nl, count(*) as c
  from knn k join l1 s on k.dst = s.vec_id
  where s.lbl is not null group by 1, 2
), p2 as (
  select src, nl from v2
  qualify row_number() over (partition by src order by c desc, nl) = 1
), l2 as (
  select s.vec_id, coalesce(s.lbl, p2.nl) as lbl
  from seeds s left join p2 on s.vec_id = p2.src
)
select vec_id, cast(lbl as int) as label,
       vec_id % {similarity.LP_SEED_MOD} = 0 as is_seed
from l2 order by vec_id
"""
    # Bitext-mining truth: identical rounded-cosine integerization,
    # identical (cos desc, partner) neighborhood top-K, exact rational
    # margin, same best-per-probe tie-break.
    sql["bitext_mining"] = f"""
with e as (
  select vec_id, embedding,
         sqrt(list_dot_product(embedding::double[],
                               embedding::double[])) as nrm
  from embeddings
), src as (
  select vec_id as src_id, embedding as es, nrm as ns from e
  where vec_id % 2 = 0 and vec_id < {2 * similarity.BITEXT_PROBES}
), tgt as (
  select vec_id as tgt_id, embedding as et, nrm as nt from e
  where vec_id % 2 = 1
), pairs as (
  select src_id, tgt_id,
         cast(round(list_dot_product(es::double[], et::double[])
                    / (ns * nt) * 10000, 0) as bigint) as cos_x1e4
  from src cross join tgt
), ranked as (
  select *,
         row_number() over (partition by src_id
                            order by cos_x1e4 desc, tgt_id) as rx,
         row_number() over (partition by tgt_id
                            order by cos_x1e4 desc, src_id) as ry
  from pairs
), nx as (
  select src_id, sum(cos_x1e4) as sx, count(*) as cx
  from ranked where rx <= {similarity.BITEXT_K} group by 1
), ny as (
  select tgt_id, sum(cos_x1e4) as sy, count(*) as cy
  from ranked where ry <= {similarity.BITEXT_K} group by 1
), cand as (
  select p.src_id, p.tgt_id, p.cos_x1e4,
         (2 * (cx + cy) * cos_x1e4 * 1000000000 + (sx + sy))
           // (2 * (sx + sy)) as margin_ppb
  from pairs p join nx using (src_id) join ny using (tgt_id)
  where cos_x1e4 > 0 and sx + sy > 0
)
select src_id, tgt_id, cos_x1e4, cast(margin_ppb as bigint) as margin_ppb
from cand where margin_ppb > {similarity.BITEXT_MARGIN_MIN_PPB}
qualify row_number() over (partition by src_id
                           order by margin_ppb desc, tgt_id) = 1
order by src_id
"""
    # Hashed-classifier truth: identical md5 feature hash + md5-derived
    # weight matrix, identical argmax tie-break (smallest class id).
    _ngc_w = (
        "((('0x' || substr(md5('ngw:' || b || ':{c}'), 1, 8))::bigint"
        f" % {text_analysis.NGC_WRANGE}) - 1000)"
    )
    _ngc_sums = ",\n         ".join(
        f"sum({_ngc_w.format(c=c)}) as score_{c}"
        for c in range(text_analysis.NGC_CLASSES)
    )
    sql["hashed_ngram_classify"] = f"""
with toks as (
  select doc_id, string_split(lower(text), ' ') as ws from documents
), uni as (
  select doc_id, unnest(ws) as g from toks
), bi as (
  select doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])) as g
  from toks where len(ws) >= 2
), grams as (
  select * from uni union all select * from bi
), bucketed as (
  select doc_id,
         ('0x' || substr(md5('ngc:' || g), 1, 8))::bigint
           % {text_analysis.NGC_BUCKETS} as b
  from grams
), agg as (
  select doc_id,
         {_ngc_sums}
  from bucketed group by doc_id
)
select doc_id, score_0, score_1, score_2, score_3,
       cast(case when score_0 >= score_1 and score_0 >= score_2
                  and score_0 >= score_3 then 0
                 when score_1 >= score_2 and score_1 >= score_3 then 1
                 when score_2 >= score_3 then 2
                 else 3 end as int) as predicted_class,
       list_sort([score_0, score_1, score_2, score_3])[4]
         - list_sort([score_0, score_1, score_2, score_3])[3] as margin
from agg order by doc_id
"""
    # BLEU-components truth: identical deterministic candidate synthesis
    # (drop %7, UNK %5 on the doc_id-shifted 0-based position), identical
    # array-side n-gram windows, clipped counts, exact rational ppm.
    sql["bleu_eval"] = f"""
with base as (
  select doc_id, string_split(text, ' ') as ref_toks from documents
), cand as (
  select doc_id, ref_toks,
         list_transform(
           list_filter(generate_series(1, len(ref_toks)),
                       i -> ((i - 1) + doc_id) % {evalmetrics.BLEU_DROP_MOD}
                            <> 0),
           i -> case when ((i - 1) + doc_id) % {evalmetrics.BLEU_UNK_MOD} = 0
                     then 'UNK' else ref_toks[i] end) as cand_toks
  from base
), ns as (
  select unnest(generate_series(1, {evalmetrics.BLEU_MAX_N})) as n
), cpos as (
  select doc_id, cand_toks, n,
         unnest(generate_series(1, len(cand_toks) - n + 1)) as i
  from cand cross join ns where len(cand_toks) >= n
), cc as (
  select doc_id, n, array_to_string(cand_toks[i : i + n - 1], ' ') as gram,
         count(*) as c_cnt
  from cpos group by 1, 2, 3
), rpos as (
  select doc_id, ref_toks, n,
         unnest(generate_series(1, len(ref_toks) - n + 1)) as i
  from cand cross join ns where len(ref_toks) >= n
), rc as (
  select doc_id, n, array_to_string(ref_toks[i : i + n - 1], ' ') as gram,
         count(*) as r_cnt
  from rpos group by 1, 2, 3
), clip as (
  select cc.n,
         sum(least(cc.c_cnt, coalesce(rc.r_cnt, 0))) as clipped_matches,
         sum(cc.c_cnt) as cand_ngrams
  from cc left join rc
    on cc.doc_id = rc.doc_id and cc.n = rc.n and cc.gram = rc.gram
  group by 1
), lens as (
  select sum(len(cand_toks)) as cand_len, sum(len(ref_toks)) as ref_len
  from cand
)
select n, cast(clipped_matches as bigint) as clipped_matches,
       cast(cand_ngrams as bigint) as cand_ngrams,
       cast((2 * clipped_matches::hugeint * 1000000 + cand_ngrams)
            // (2 * cand_ngrams) as bigint) as precision_ppm,
       cast(cand_len as bigint) as cand_len,
       cast(ref_len as bigint) as ref_len,
       cast((2 * cand_len::hugeint * 1000000 + ref_len)
            // (2 * ref_len) as bigint) as length_ratio_ppm
from clip cross join lens order by n
"""
    # Kappa truth: same 2x2 cells, same exact rational with
    # sign-decomposed half-away ppm.
    sql["cohen_kappa"] = f"""
with bits as (
  select case when n_chars >= {evalmetrics.KAPPA_LEN_T} then 1 else 0 end
           as ra,
         case when len(string_split(text, ' ')) >= {evalmetrics.KAPPA_TOK_T}
              then 1 else 0 end as rb
  from documents
), a as (
  select count(*) as n,
         sum(ra * rb) as n11, sum(ra * (1 - rb)) as n10,
         sum((1 - ra) * rb) as n01, sum((1 - ra) * (1 - rb)) as n00
  from bits
), k as (
  select cast(n as bigint) as n, cast(n11 as bigint) as n11,
         cast(n10 as bigint) as n10, cast(n01 as bigint) as n01,
         cast(n00 as bigint) as n00,
         (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10) as pe_num
  from a
)
select n, n11, n10, n01, n00,
       cast((2 * (n11 + n00)::hugeint * 1000000 + n) // (2 * n) as bigint)
         as po_ppm,
       cast((2 * pe_num::hugeint * 1000000 + n * n) // (2 * n * n)
            as bigint) as pe_ppm,
       cast(case when n * n = pe_num then 1000000 else
            (case when n * (n11 + n00) < pe_num then -1 else 1 end)
            * ((2 * abs(n * (n11 + n00) - pe_num)::hugeint * 1000000
                + (n * n - pe_num)) // (2 * (n * n - pe_num))) end
            as bigint) as kappa_ppm
from k where n > 0
"""
    # chrF truth: the bleu_eval degradation re-joined without spaces,
    # char n-grams via substr windows, clipped via a per-doc full join.
    sql["chrf_eval"] = f"""
with base as (
  select doc_id, string_split(text, ' ') as ref_toks from documents
), cand as (
  select doc_id,
         array_to_string(ref_toks, '') as ref_chars,
         array_to_string(list_transform(
           list_filter(generate_series(1, len(ref_toks)),
                       i -> ((i - 1) + doc_id) % {evalmetrics.BLEU_DROP_MOD}
                            <> 0),
           i -> case when ((i - 1) + doc_id) % {evalmetrics.BLEU_UNK_MOD} = 0
                     then 'UNK' else ref_toks[i] end), '') as cand_chars
  from base
), ns as (
  select unnest(generate_series(1, {evalmetrics.CHRF_MAX_N})) as n
), cc as (
  select doc_id, n, substr(cand_chars, i, n) as gram, count(*) as c_cnt
  from (select doc_id, cand_chars, n,
               unnest(generate_series(1, len(cand_chars) - n + 1)) as i
        from cand cross join ns where len(cand_chars) >= n)
  group by 1, 2, 3
), rc as (
  select doc_id, n, substr(ref_chars, i, n) as gram, count(*) as r_cnt
  from (select doc_id, ref_chars, n,
               unnest(generate_series(1, len(ref_chars) - n + 1)) as i
        from cand cross join ns where len(ref_chars) >= n)
  group by 1, 2, 3
), clip as (
  select coalesce(cc.n, rc.n) as n,
         sum(least(coalesce(cc.c_cnt, 0), coalesce(rc.r_cnt, 0)))
           as clipped_matches,
         sum(coalesce(cc.c_cnt, 0)) as cand_ngrams,
         sum(coalesce(rc.r_cnt, 0)) as ref_ngrams
  from cc full join rc
    on cc.doc_id = rc.doc_id and cc.n = rc.n and cc.gram = rc.gram
  group by 1
), pr as (
  select n, cast(clipped_matches as bigint) as clipped_matches,
         cast(cand_ngrams as bigint) as cand_ngrams,
         cast(ref_ngrams as bigint) as ref_ngrams,
         cast(case when cand_ngrams = 0 then 0 else
              (2 * clipped_matches::hugeint * 1000000 + cand_ngrams)
              // (2 * cand_ngrams) end as bigint) as chrp_ppm,
         cast(case when ref_ngrams = 0 then 0 else
              (2 * clipped_matches::hugeint * 1000000 + ref_ngrams)
              // (2 * ref_ngrams) end as bigint) as chrr_ppm
  from clip
)
select n, clipped_matches, cand_ngrams, ref_ngrams, chrp_ppm, chrr_ppm,
       cast(case when {evalmetrics.CHRF_BETA2} * chrp_ppm + chrr_ppm = 0
                 then 0 else
            (2 * (1 + {evalmetrics.CHRF_BETA2}) * chrp_ppm::hugeint
             * chrr_ppm
             + ({evalmetrics.CHRF_BETA2} * chrp_ppm + chrr_ppm))
            // (2 * ({evalmetrics.CHRF_BETA2} * chrp_ppm + chrr_ppm))
            end as bigint) as chrf2_ppm
from pr order by n
"""
    # Leakage-audit truth: the verified-pair and split oracles composed
    # as materialized CTEs, rolled up by unordered split pair.
    sql["split_leakage_audit"] = f"""
with pairs as materialized ({sql["lsh_near_dup"]}),
sp as materialized ({sql["train_val_test_split"]}),
j as (
  select least(a.split, b.split) as split_lo,
         greatest(a.split, b.split) as split_hi
  from pairs p
  join sp a on p.doc_a = a.doc_id
  join sp b on p.doc_b = b.doc_id
), g as (
  select split_lo, split_hi, count(*)::bigint as n_pairs
  from j group by 1, 2
), t as (select sum(n_pairs) as tot from g)
select split_lo, split_hi, split_lo <> split_hi as leaked, n_pairs,
       cast((n_pairs * 1000000) // tot as bigint) as share_ppm
from g cross join t order by split_lo, split_hi
"""
    # LPA truth: identical synthesized link graph, symmetrized, with
    # LPA_ROUNDS synchronous vote rounds unrolled as CTEs and the same
    # (count desc, label asc) argmax.
    _lpa_parts = [
        """n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges union select dst, src from edges
),
l0 as (select doc_id as node, doc_id as label from documents)"""
    ]
    for _t in range(1, web_extract.LPA_ROUNDS + 1):
        _lpa_parts.append(
            f"""v{_t} as (
  select u.src, l.label as nl, count(*) as c
  from und u join l{_t - 1} l on u.dst = l.node group by 1, 2
), p{_t} as (
  select src, nl from v{_t}
  qualify row_number() over (partition by src order by c desc, nl) = 1
), l{_t} as materialized (
  select l.node, coalesce(p.nl, l.label) as label
  from l{_t - 1} l left join p{_t} p on l.node = p.src
)"""
        )
    _lf = f"l{web_extract.LPA_ROUNDS}"
    sql["lpa_communities"] = (
        "with "
        + ",\n".join(_lpa_parts)
        + f""",
cs as (select label, count(*)::bigint as community_size
       from {_lf} group by 1)
select l.node as doc_id, cast(l.label as bigint) as community,
       cs.community_size
from {_lf} l join cs using (label) order by doc_id
"""
    )
    # Coreset truth: the kmeans oracle as the assignment CTE, same
    # (dist asc, vec_id) pick window per cluster.
    sql["kmeans_coreset"] = """
with assign as materialized ({km})
select cluster, cast(rn as int) as rank, vec_id, dist_sq_micro
from (
  select *, row_number() over (partition by cluster
              order by dist_sq_micro, vec_id) as rn
  from assign) t
where rn <= {r}
order by cluster, rn
""".format(km=sql["kmeans_clusters"], r=similarity.CORESET_PER_CLUSTER)
    # MMR truth: same integer ten-thousandth cosines, same unrolled
    # greedy picks with (score desc, vec_id) ties.
    def _cosm(A: str, B: str) -> str:
        dot = (
            f"list_dot_product({A}.embedding::double[],"
            f" {B}.embedding::double[])"
        )
        na = (
            f"sqrt(list_dot_product({A}.embedding::double[],"
            f" {A}.embedding::double[]))"
        )
        nb = (
            f"sqrt(list_dot_product({B}.embedding::double[],"
            f" {B}.embedding::double[]))"
        )
        return (
            f"cast(round(round({dot} / ({na} * {nb}), 4) * 10000)"
            " as bigint)"
        )

    _lam = similarity.MMR_LAMBDA_TENTHS
    _com = 10 - _lam
    _mmr_parts = [
        "q as (select embedding from embeddings where vec_id = 0)",
        f"""pool as (
  select e.vec_id, e.embedding, {_cosm('e', 'q')} as rel_m
  from embeddings e, q where e.vec_id <> 0
  order by rel_m desc, e.vec_id limit {similarity.MMR_POOL})""",
        f"""sims as (
  select pa.vec_id as xa, pb.vec_id as xb, {_cosm('pa', 'pb')} as sim_m
  from pool pa join pool pb on pa.vec_id <> pb.vec_id)""",
        f"""s1 as (
  select vec_id, rel_m, rel_m * {_lam} as score_m, 1 as "rank"
  from pool order by score_m desc, vec_id limit 1)""",
        "sel1 as (select vec_id from s1)",
    ]
    for _t in range(2, similarity.MMR_OUT + 1):
        _p = _t - 1
        _mmr_parts.append(f"""s{_t} as (
  select p.vec_id, p.rel_m,
         p.rel_m * {_lam} - coalesce(mx.m, 0) * {_com} as score_m,
         {_t} as "rank"
  from pool p
  left join (select xa, max(sim_m) as m from sims
             join sel{_p} on xb = vec_id group by 1) mx
    on p.vec_id = mx.xa
  where p.vec_id not in (select vec_id from sel{_p})
  order by score_m desc, p.vec_id limit 1)""")
        _mmr_parts.append(
            f"sel{_t} as (select vec_id from sel{_p}"
            f" union all select vec_id from s{_t})"
        )
    _mmr_union = " union all ".join(
        f"select * from s{t}" for t in range(1, similarity.MMR_OUT + 1)
    )
    sql["mmr_diversify"] = (
        "with "
        + ",\n".join(_mmr_parts)
        + f"""
select "rank", vec_id, rel_m, score_m from ({_mmr_union}) order by "rank"
"""
    )
    # --- TPC-H catalog completion (Q6 Q7 Q9 Q10 Q12 Q14 Q15 Q16 Q17
    # Q19) — same c2 integer money, same adapted stand-in columns. ---
    _rev = ("(cast(round(l_extendedprice * 100) as bigint)"
            " * (100 - cast(round(l_discount * 100) as bigint)))")
    # Canonical-pick truth: clusters + quality oracles as CTEs, same
    # (quality desc, doc_id) argmax window per cluster.
    sql["dedup_canonical_pick"] = """
with clusters as materialized ({cl}),
q as materialized ({qs}),
members as (
  select c.doc_id, c.cluster_id, c.cluster_size,
         cast(round(q.quality * 10000) as bigint) as quality_m
  from clusters c join q on c.doc_id = q.doc_id
  where c.cluster_size > 1
), ranked as (
  select *, row_number() over (partition by cluster_id
                               order by quality_m desc, doc_id) as rn
  from members
), naive as (
  select cluster_id, min(doc_id) as naive_min_doc
  from members group by 1
)
select r.cluster_id, r.doc_id as canonical_doc,
       r.quality_m as canonical_quality_m,
       cast(r.cluster_size as bigint) as n_members,
       n.naive_min_doc,
       cast(case when r.doc_id <> n.naive_min_doc then 1 else 0 end
            as int) as pick_differs
from ranked r join naive n on r.cluster_id = n.cluster_id
where rn = 1 order by r.cluster_id
""".format(cl=sql["near_dup_clusters"], qs=sql["quality_score"])
    # SCC truth: full transitive closure by recursive CTE; v,u share
    # an SCC iff closure holds both ways; scc_id = min member.
    sql["scc_labels"] = """
with recursive
  nn as (select count(*) as nv from documents),
  e0 as (
    select doc_id as src, (doc_id * 7 + 1) % nv as dst from documents, nn
    union all
    select doc_id, (doc_id * 13 + 2) % nv from documents, nn
    union all
    select doc_id, (doc_id * 31 + 3) % nv from documents, nn
  ),
  dire as (select distinct src, dst from e0 where src != dst),
  reach(s, d) as (
    select src, dst from dire
    union
    select r.s, e.dst from reach r join dire e on e.src = r.d
  ),
  mutual as (
    select a.s as v, a.d as u from reach a
    join reach b on a.s = b.d and a.d = b.s
  ),
  scc as (
    select d.doc_id as v,
           least(d.doc_id, coalesce(min(m.u), d.doc_id)) as scc_id
    from documents d left join mutual m on d.doc_id = m.v
    group by d.doc_id
  ),
  sizes as (select scc_id, count(*) as scc_size from scc group by 1)
select scc.v as doc_id, cast(scc.scc_id as bigint) as scc_id,
       cast(sizes.scc_size as bigint) as scc_size
from scc join sizes on scc.scc_id = sizes.scc_id
order by doc_id
"""
    # Bowtie truth: the scc oracle picks the giant core; forward and
    # backward recursive closures classify with the same CASE order.
    sql["bowtie_decomposition"] = """
with recursive
  nn as (select count(*) as nv from documents),
  e0 as (
    select doc_id as src, (doc_id * 7 + 1) % nv as dst from documents, nn
    union all
    select doc_id, (doc_id * 13 + 2) % nv from documents, nn
    union all
    select doc_id, (doc_id * 31 + 3) % nv from documents, nn
  ),
  dire as (select distinct src, dst from e0 where src != dst),
  reach(s, d) as (
    select src, dst from dire
    union
    select r.s, e.dst from reach r join dire e on e.src = r.d
  ),
  mutual as (
    select a.s as v, a.d as u from reach a
    join reach b on a.s = b.d and a.d = b.s
  ),
  scc as (
    select d.doc_id as v,
           least(d.doc_id, coalesce(min(m.u), d.doc_id)) as scc_id
    from documents d left join mutual m on d.doc_id = m.v
    group by d.doc_id
  ),
  giant as (
    select scc_id from scc group by scc_id
    order by count(*) desc, scc_id limit 1
  ),
  core as (select v from scc join giant using (scc_id)),
  fwd as (
    select distinct v from (
      select v from core
      union all
      select r.d as v from core c join reach r on r.s = c.v) t
  ),
  bwd as (
    select distinct v from (
      select v from core
      union all
      select r.s as v from core c join reach r on r.d = c.v) t
  )
select d.doc_id,
       case when cg.v is not null then 'scc'
            when cb.v is not null then 'in'
            when cf.v is not null then 'out'
            else 'tendril_or_disc' end as node_class
from documents d
left join core cg on d.doc_id = cg.v
left join bwd cb on d.doc_id = cb.v
left join fwd cf on d.doc_id = cf.v
order by d.doc_id
"""
    # Clustering-coefficient truth: the shared link graph, plain
    # 3-way triangle join (fixture scale), exact ppm wedge ratio.
    _LINKG = """
  nn as (select count(*) as nv from documents),
  e0 as (
    select doc_id as src, (doc_id * 7 + 1) % nv as dst from documents, nn
    union all
    select doc_id, (doc_id * 13 + 2) % nv from documents, nn
    union all
    select doc_id, (doc_id * 31 + 3) % nv from documents, nn
  ),
  dire as (select distinct src, dst from e0 where src != dst),
  und as (select distinct least(src, dst) as a, greatest(src, dst) as b
          from dire)
"""
    sql["clustering_coefficient"] = f"""
with {_LINKG},
deg as (
  select node, count(*) as deg from (
    select a as node from und union all select b from und) t group by 1
), tri as (
  select e1.a as p, e1.b as q, e2.b as r
  from und e1
  join und e2 on e2.a = e1.b
  join und e3 on e3.a = e1.a and e3.b = e2.b
), tcnt as (
  select node, count(*) as t from (
    select p as node from tri union all select q from tri
    union all select r from tri) c group by 1
)
select d.doc_id,
       cast(coalesce(deg.deg, 0) as bigint) as deg,
       cast(coalesce(tcnt.t, 0) as bigint) as n_triangles,
       cast(case when coalesce(deg.deg, 0) < 2 then 0 else
            (2 * (2 * coalesce(tcnt.t, 0)::bigint * 1000000)
             + deg.deg * (deg.deg - 1))
            // (2 * deg.deg * (deg.deg - 1)) end as bigint) as cc_ppm
from documents d
left join deg on d.doc_id = deg.node
left join tcnt on d.doc_id = tcnt.node
order by d.doc_id
"""
    # Reciprocity truth: same link graph, EXISTS for the reverse edge.
    sql["graph_reciprocity"] = f"""
with {_LINKG}
select (select count(*) from dire) as n_edges,
       (select count(*) from dire e where exists (
          select 1 from dire r where r.src = e.dst and r.dst = e.src))
         as n_reciprocated,
       cast(case when (select count(*) from dire) = 0 then 0 else
            (2 * (select count(*) from dire e where exists (
               select 1 from dire r where r.src = e.dst and r.dst = e.src))
               ::bigint * 1000000
             + (select count(*) from dire))
            // (2 * (select count(*) from dire)) end as bigint)
         as reciprocity_ppm
"""
    # Effective-diameter truth: the hyperball oracle as the nf CTE, the
    # same 10x/9x integer crossing test and milli-hop interpolation.
    _pct = web_extract.EFF_DIAM_PCT
    sql["effective_diameter"] = """
with nf as materialized ({hb}),
mx as (select max(est_pairs) as mx_est, max(exact_pairs) as mx_ex from nf),
lagged as (
  select hop, est_pairs, exact_pairs,
         lag(est_pairs) over (order by hop) as prev_est,
         lag(exact_pairs) over (order by hop) as prev_ex
  from nf
), de as (
  select case when hop = 0 then 0 else
           (hop - 1) * 1000 +
           (({pct} * mx_est - 10 * prev_est) * 1000)
             // nullif(10 * (est_pairs - prev_est), 0) end as d
  from lagged, mx where 10 * est_pairs >= {pct} * mx_est
  order by hop limit 1
), dx as (
  select case when hop = 0 then 0 else
           (hop - 1) * 1000 +
           (({pct} * mx_ex - 10 * prev_ex) * 1000)
             // nullif(10 * (exact_pairs - prev_ex), 0) end as d
  from lagged, mx where 10 * exact_pairs >= {pct} * mx_ex
  order by hop limit 1
)
select cast(de.d as bigint) as eff_diameter_est_milli,
       cast(dx.d as bigint) as eff_diameter_exact_milli,
       cast(mx_est as bigint) as plateau_est_pairs,
       cast(mx_ex as bigint) as plateau_exact_pairs
from de, dx, mx
""".format(hb=sql["hyperball_neighborhood"], pct=_pct)
    # Ring truth: same md5-prefix positions, same pos*256+shard codes,
    # same filtered-list-min successor with wrap-around.
    _h32k = "(('0x' || substr(md5('key:' || doc_id::varchar), 1, 8))::bigint)"
    _nv = relational.RING_VNODES
    def _ring_list(n):
        return (
            f"(select list(('0x' || substr(md5('ring:' ||"
            f" (i // {_nv})::varchar || ':' ||"
            f" (i % {_nv})::varchar), 1, 8))::bigint * 256 + (i // {_nv})"
            f" order by 1) from range({n * _nv}) t(i))"
        )
    sql["ring_reshard_movement"] = f"""
with rings as (
  select {_ring_list(relational.RING_SHARDS)} as ring_a,
         {_ring_list(relational.RING_SHARDS + 1)} as ring_b
), assign as (
  select doc_id,
         coalesce(list_min(list_filter(ring_a,
                    c -> c // 256 >= {_h32k})), list_min(ring_a)) % 256
           as before,
         coalesce(list_min(list_filter(ring_b,
                    c -> c // 256 >= {_h32k})), list_min(ring_b)) % 256
           as after
  from documents, rings
), bb as (
  select before as shard, count(*) as n_before,
         sum(case when after <> before then 1 else 0 end) as n_moved_out
  from assign group by 1
), aa as (
  select after as shard, count(*) as n_after from assign group by 1
)
select s.i::bigint as shard,
       cast(coalesce(bb.n_before, 0) as bigint) as n_before,
       cast(coalesce(aa.n_after, 0) as bigint) as n_after,
       cast(coalesce(bb.n_moved_out, 0) as bigint) as n_moved_out
from range({relational.RING_SHARDS + 1}) s(i)
left join bb on s.i = bb.shard
left join aa on s.i = aa.shard
order by shard
"""
    # STL-lite truth: same centered window, same weekday = day%7, same
    # trunc-div means on the detrended millis.
    sql["seasonal_trend_decompose"] = f"""
with daily as (
  select date_diff('day', timestamp '{relational.TS_EPOCH}', o_orderdate)
           as day,
         sum(cast(round(o_totalprice * 100) as bigint)) as cents
  from orders group by 1
), trended as (
  select day, cents,
         (2 * sum(cents) over (order by day
             rows between {relational.STL_HALF} preceding
             and {relational.STL_HALF} following) * 1000
          + count(*) over (order by day
             rows between {relational.STL_HALF} preceding
             and {relational.STL_HALF} following))
         // (2 * count(*) over (order by day
             rows between {relational.STL_HALF} preceding
             and {relational.STL_HALF} following)) as trend_milli
  from daily
), detr as (
  select *, cents * 1000 - trend_milli as detrended_milli from trended
), seas as (
  select day % 7 as wd,
         sum(detrended_milli) // count(*) as seasonal_milli
  from detr group by 1
)
select d.day, d.cents, cast(d.trend_milli as bigint) as trend_milli,
       cast(s.seasonal_milli as bigint) as seasonal_milli,
       cast(d.detrended_milli - s.seasonal_milli as bigint)
         as residual_milli
from detr d join seas s on d.day % 7 = s.wd
order by d.day
"""
    # Theil-Sen truth: same integer cents/day slopes, same lower median.
    sql["theil_sen_trend"] = f"""
with daily as (
  select date_diff('day', timestamp '{relational.TS_EPOCH}', o_orderdate)
           as day,
         sum(cast(round(o_totalprice * 100) as bigint)) as cents
  from orders group by 1
), pairs as (
  select a.day * 100000 + b.day as pair_id,
         ((b.cents - a.cents) * 1000) // (b.day - a.day) as slope_milli
  from daily a join daily b on a.day < b.day
), n as (
  select (select count(*) from pairs) as n_pairs,
         (select count(*) from daily) as n_days
), ranked as (
  select slope_milli,
         row_number() over (order by slope_milli, pair_id) as rk
  from pairs
)
select cast(slope_milli as bigint) as slope_milli_per_day,
       cast(n_pairs as bigint) as n_pairs,
       cast(n_days as bigint) as n_days
from ranked, n where rk = (n_pairs + 1) // 2
"""
    # Q6 truth: scan + three bands, revenue = price-cents x disc-pct.
    sql["forecast_revenue"] = f"""
select cast(sum(cast(round(l_extendedprice * 100) as bigint)
               * cast(round(l_discount * 100) as bigint)) as bigint)
         as revenue_c2,
       count(*) as n_lines
from lineitem
where l_shipdate >= timestamp '{relational.Q6_DATE_LO}'
  and l_shipdate <  timestamp '{relational.Q6_DATE_HI}'
  and l_quantity < {relational.Q6_MAX_QTY}
  and round(l_discount * 100) between {relational.Q6_DISC_LO_PCT}
                                  and {relational.Q6_DISC_HI_PCT}
"""
    # Q7 truth: bilateral nation pairs, asymmetric residual.
    sql["volume_shipping"] = f"""
select n2.n_name as supp_nation, n1.n_name as cust_nation,
       year(l_shipdate) as l_year,
       cast(sum({_rev}) as bigint) as revenue_c2,
       count(*) as n_lines
from lineitem
join orders   on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation n1 on c_nationkey = n1.n_nationkey
join supplier on l_suppkey = s_suppkey
join nation n2 on s_nationkey = n2.n_nationkey
where n1.n_name in ('{relational.Q7_NATION_A}', '{relational.Q7_NATION_B}')
  and n2.n_name in ('{relational.Q7_NATION_A}', '{relational.Q7_NATION_B}')
  and n1.n_name <> n2.n_name
  and l_shipdate >= timestamp '{relational.Q7_DATE_LO}'
  and l_shipdate <  timestamp '{relational.Q7_DATE_HI}'
group by 1, 2, 3 order by 1, 2, 3
"""
    # Q9 truth: token-filtered parts, cost = 10% retail per unit.
    sql["product_profit"] = f"""
select n_name as nation, year(o_orderdate) as o_year,
       cast(sum({_rev}
                - cast(round(l_quantity) as bigint)
                  * cast(round(p_retailprice * 100) as bigint)
                  * {relational.Q9_COST_RETAIL_PCT}) as bigint)
         as profit_c2,
       count(*) as n_lines
from lineitem
join part on l_partkey = p_partkey
join orders on l_orderkey = o_orderkey
join supplier on l_suppkey = s_suppkey
join nation on s_nationkey = n_nationkey
where p_name like '%{relational.Q9_NAME_TOKEN}%'
group by 1, 2 order by 1, 2 desc
"""
    # Q10 truth: returned lines, quarter orders, top-N customers.
    sql["returned_items"] = f"""
with agg as (
  select o_custkey, sum({_rev}) as revenue_c2
  from lineitem join orders on l_orderkey = o_orderkey
  where l_returnflag = 'R'
    and o_orderdate >= timestamp '{relational.Q10_DATE_LO}'
    and o_orderdate <  timestamp '{relational.Q10_DATE_HI}'
  group by 1
)
select c_custkey, c_name, n_name as nation,
       cast(revenue_c2 as bigint) as revenue_c2
from agg join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
order by revenue_c2 desc, c_custkey limit {relational.Q10_TOP_N}
"""
    # Q12 truth: returnflag stands in for shipmode, CASE priority split.
    _hi = ", ".join(f"'{p}'" for p in relational.Q12_HIGH)
    _fl = ", ".join(f"'{x}'" for x in relational.Q12_FLAGS)
    sql["shipmode_priority"] = f"""
select l_returnflag,
       cast(sum(case when o_orderpriority in ({_hi}) then 1 else 0 end)
            as bigint) as high_line_count,
       cast(sum(case when o_orderpriority in ({_hi}) then 0 else 1 end)
            as bigint) as low_line_count
from lineitem join orders on l_orderkey = o_orderkey
where l_returnflag in ({_fl})
  and l_shipdate >= timestamp '{relational.Q12_DATE_LO}'
  and l_shipdate <  timestamp '{relational.Q12_DATE_HI}'
group by 1 order by 1
"""
    # Q14 truth: promo CASE share of one month, exact ppm.
    sql["promo_revenue_share"] = f"""
with j as (
  select {_rev} as rev_c2, p_type = 'PROMO' as is_promo
  from lineitem join part on l_partkey = p_partkey
  where l_shipdate >= timestamp '{relational.Q14_DATE_LO}'
    and l_shipdate <  timestamp '{relational.Q14_DATE_HI}'
)
select case when sum(rev_c2) = 0 then null else
         cast((sum(case when is_promo then rev_c2 else 0 end)::hugeint
               * 1000000) // sum(rev_c2)::hugeint as bigint) end
         as promo_share_ppm,
       cast(sum(case when is_promo then rev_c2 else 0 end) as bigint)
         as promo_rev_c2,
       cast(sum(rev_c2) as bigint) as total_rev_c2
from j
"""
    # Q15 truth: revenue view + scalar max, ties kept.
    sql["top_supplier_revenue"] = f"""
with revenue as (
  select l_suppkey, sum({_rev}) as total_revenue_c2
  from lineitem
  where l_shipdate >= timestamp '{relational.Q15_DATE_LO}'
    and l_shipdate <  timestamp '{relational.Q15_DATE_HI}'
  group by 1
)
select s_suppkey, s_name, cast(total_revenue_c2 as bigint)
         as total_revenue_c2
from revenue join supplier on l_suppkey = s_suppkey
where total_revenue_c2 = (select max(total_revenue_c2) from revenue)
order by s_suppkey
"""
    # Q16 truth: distinct shipped pairs, NOT IN the complaint set.
    _sz = ", ".join(str(s) for s in relational.Q16_SIZES)
    sql["parts_supplier_count"] = f"""
with ps as (select distinct l_partkey, l_suppkey from lineitem)
select p_brand, p_type, p_size,
       cast(count(distinct l_suppkey) as bigint) as supplier_cnt
from ps join part on l_partkey = p_partkey
where p_brand <> '{relational.Q16_EXCL_BRAND}'
  and p_type <> '{relational.Q16_EXCL_TYPE}'
  and p_size in ({_sz})
  and l_suppkey not in (
    select s_suppkey from supplier where s_acctbal < 0)
group by 1, 2, 3
order by supplier_cnt desc, p_brand, p_type, p_size
"""
    # Q17 truth: the correlated avg multiplied through to integers.
    sql["small_qty_revenue"] = f"""
with li as (
  select l_partkey, cast(round(l_quantity) as bigint) as qty,
         cast(round(l_extendedprice * 100) as bigint) as price_c
  from lineitem join part on l_partkey = p_partkey
  where p_brand = '{relational.Q17_BRAND}'
), stats as (
  select l_partkey, sum(qty) as sum_qty, count(*) as cnt
  from li group by 1
)
select cast(sum(price_c) as bigint) as total_price_c,
       count(*) as n_small_lines
from li join stats using (l_partkey)
where qty * {relational.Q17_AVG_DEN} * cnt < sum_qty
"""
    # Q19 truth: the same OR-of-ANDs over the equi-joined pair.
    _bask = " or ".join(
        f"(p_brand = '{b}' and p_size between {slo} and {shi}"
        f" and round(l_quantity) between {qlo} and {qhi})"
        for b, slo, shi, qlo, qhi in relational.Q19_BASKETS
    )
    sql["disjunctive_revenue"] = f"""
select cast(sum({_rev}) as bigint) as revenue_c2, count(*) as n_lines
from lineitem join part on l_partkey = p_partkey
where {_bask}
"""
    # Modularity truth: the lpa oracle as the label CTE, same signed
    # rational fold and sign-split half-away ppm.
    sql["graph_modularity"] = """
with labels as materialized ({lpa}),
nn as (select count(*) as nv from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nv as dst from documents, nn
  union all
  select doc_id, (doc_id * 13 + 2) % nv from documents, nn
  union all
  select doc_id, (doc_id * 31 + 3) % nv from documents, nn
),
dire as (select distinct src, dst from e0 where src != dst),
und as (select distinct least(src, dst) as a, greatest(src, dst) as b
        from dire),
mm as (select count(*) as m from und),
deg as (
  select v, count(*) as deg from (
    select a as v from und union all select b as v from und) t group by 1
),
dsum as (
  select l.community, count(*) as n_nodes, sum(deg.deg) as degree_sum
  from labels l join deg on l.doc_id = deg.v group by 1
),
ein as (
  select la.community, count(*) as e_within
  from und
  join labels la on und.a = la.doc_id
  join labels lb on und.b = lb.doc_id
  where la.community = lb.community
  group by 1
)
select d.community, cast(d.n_nodes as bigint) as n_nodes,
       cast(coalesce(e.e_within, 0) as bigint) as e_within,
       cast(d.degree_sum as bigint) as degree_sum,
       cast(case when (4 * m::hugeint * coalesce(e.e_within, 0)
                       - d.degree_sum::hugeint * d.degree_sum) >= 0 then
         (2 * (4 * m::hugeint * coalesce(e.e_within, 0)
               - d.degree_sum::hugeint * d.degree_sum) * 1000000
          + 4 * m::hugeint * m) // (2 * 4 * m::hugeint * m)
       else
         -((2 * -(4 * m::hugeint * coalesce(e.e_within, 0)
                  - d.degree_sum::hugeint * d.degree_sum) * 1000000
            + 4 * m::hugeint * m) // (2 * 4 * m::hugeint * m))
       end as bigint) as contrib_ppm
from dsum d left join ein e on d.community = e.community, mm
order by d.community
""".format(lpa=sql["lpa_communities"])
    # Louvain truth: unrolled synchronous rounds — per round the Σtot
    # aggregate, the (node, community) edge-weight sum, the own-community
    # candidate union, and the integer cross-multiplied modularity-gain
    # argmax (same tie rule: score desc, community asc).  The builder is
    # parameterized so the two-level oracle reuses it for the WEIGHTED
    # sweeps on the contracted graph.
    def _lv_block(pfx: str, i: int, edges: str, degcte: str,
                  weighted: bool) -> str:
        prev = f"{pfx}l{i - 1}"
        k = "sum(u.w)" if weighted else "count(*)"
        return f"""{pfx}sig{i} as (
  select l.c as nc, sum(d.deg) as tot
  from {prev} l join {degcte} d on d.node = l.node group by 1
), {pfx}kuc{i} as (
  select u.src as node, l.c as nc, {k} as k
  from {edges} u join {prev} l on u.dst = l.node group by 1, 2
), {pfx}cand{i} as (
  select node, nc, max(k) as k from (
    select node, nc, k from {pfx}kuc{i}
    union all
    select node, c as nc, 0 from {prev}
  ) group by 1, 2
), {pfx}pick{i} as (
  select node, nc from (
    select c2.node, c2.nc,
           row_number() over (partition by c2.node
             order by (2 * m.m * c2.k
                       - d.deg * (s.tot - case when c2.nc = l.c
                                          then d.deg else 0 end)) desc,
                      c2.nc) as rk
    from {pfx}cand{i} c2
    join {pfx}sig{i} s on s.nc = c2.nc
    join {degcte} d on d.node = c2.node
    join {prev} l on l.node = c2.node
    cross join m
  ) where rk = 1
), {pfx}l{i} as materialized (
  select l.node, coalesce(p.nc, l.c) as c
  from {prev} l left join {pfx}pick{i} p on p.node = l.node
)"""

    _R = web_extract.LOUVAIN_ROUNDS
    _lv_rounds = [
        _lv_block("", _i, "und", "deg", False) for _i in range(1, _R + 1)
    ]
    _lv_graph = """
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges union select dst, src from edges
),
m as (select count(*) // 2 as m from und),
deg as (select src as node, count(*) as deg from und group by 1),
l0 as (select doc_id as node, doc_id as c from documents),
"""
    # Two-level truth: the level-1 rounds, the contraction (label both
    # endpoints, (ca, cb) multiplicities — (c, c) rows carry intra mass
    # twice), then the SAME weighted rounds on the contracted graph; m
    # is conserved by contraction.
    _lv2_rounds = [
        _lv_block("q", _i, "inter", "deg2", True)
        for _i in range(1, _R + 1)
    ]
    sql["louvain_two_level"] = f"""{_lv_graph}{",".join(_lv_rounds)},
c2 as materialized (
  select la.c as ca, lb.c as cb, count(*) as w
  from und
  join l{_R} la on und.src = la.node
  join l{_R} lb on und.dst = lb.node
  group by 1, 2
),
deg2 as (select ca as node, sum(w) as deg from c2 group by 1),
inter as (select ca as src, cb as dst, w from c2 where ca != cb),
ql0 as (select distinct c as node, c from l{_R}),
{",".join(_lv2_rounds)}
select l.node as doc_id, l.c as community_l1, t.c as community_l2,
       cast(count(*) over (partition by t.c) as bigint) as l2_size
from l{_R} l join ql{_R} t on t.node = l.c
order by doc_id
"""
    # Grid spatial join truth: O(n^2) BRUTE-FORCE distance join over the
    # re-derived Lehmer coordinates — only viable at check scale, which
    # is exactly why the Spark side buckets by grid cell instead.
    sql["geo_cell_pairs"] = f"""
with p as (
  select c_custkey as key,
         (c_custkey * c_custkey * {relational._GEO_QX}
          + c_custkey * {relational._GEO_AX}) % {relational.GEO_W} as x,
         (c_custkey * c_custkey * {relational._GEO_QY}
          + c_custkey * {relational._GEO_AY}) % {relational.GEO_W} as y
  from customer
)
select a.key as key_a, b.key as key_b,
       cast((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            as bigint) as dist2
from p a join p b on a.key < b.key
where (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {relational.GEO_R * relational.GEO_R}
order by key_a, key_b
"""
    # Streaming-TV-drift truth: day-keyed merged partials equal the
    # batch day histograms; TV in cross-multiplied integer ppm.
    sql["stream_tv_drift_by_day"] = f"""
with t as (
  select cast(ts as date) as day,
         least(greatest((cast(round(value * 100) as bigint)
                         - {stream.QSKETCH_LO})
                        // {stream.QSKETCH_W}, 0),
               {stream.QSKETCH_B - 1}) as b
  from events
),
h as (select day, b, count(*) as cnt from t group by 1, 2),
ref as (select b, sum(cnt) as rc from h group by 1),
tot as (select sum(cnt) as n from h),
perday as (select day, sum(cnt) as n_day from h group by 1),
terms as (
  select p.day, p.n_day,
         sum(abs(coalesce(hh.cnt, 0) * t.n - r.rc * p.n_day)) as num
  from perday p
  cross join tot t
  join ref r on true
  left join h hh on hh.day = p.day and hh.b = r.b
  group by 1, 2, t.n
)
select day, cast(n_day as bigint) as n_day,
       cast((2 * num * 1000000 + 2 * n_day * (select n from tot))
            // (2 * 2 * n_day * (select n from tot)) as bigint) as tv_ppm
from terms order by day
"""
    # Packing-sweep truth: per-source totals + identical ceil/waste
    # arithmetic over the literal length list.
    sql["packing_seqlen_sweep"] = f"""
with tl as (
  select source, sum(len(string_split(text, ' '))) as total
  from documents group by 1
),
l as (select unnest([{", ".join(str(x) for x in text_analysis.PACK_SWEEP_LENS)}]) as L),
per as (
  select l.L, count(*) as n_shards,
         sum((total + l.L - 1) // l.L) as n_seqs, sum(total) as actual
  from tl, l group by 1
)
select cast(L as int) as seq_len, cast(n_shards as bigint) as n_shards,
       cast(n_seqs as bigint) as n_seqs,
       cast(actual as bigint) as actual_tokens,
       cast(n_seqs * L as bigint) as padded_tokens,
       cast((2 * (n_seqs * L - actual) * 1000000 + n_seqs * L)
            // (2 * n_seqs * L) as bigint) as tail_waste_ppm
from per order by seq_len
"""
    # Interleaved-pack truth: unnest the CHECK-SCALE corpus parquet
    # (the driver runs oracles at sf0.01 -> 80-doc corpus; built on
    # demand) and replay the per-shard running sum.
    from ocr_spark.operators.spans import IPACK_SHARDS as _IPS
    from ocr_spark.operators.text_analysis import SEQ_LEN as _ISL

    sql["interleaved_pack"] = f"""
with ex as (
  select doc_id, generate_subscripts(spans, 1) - 1 as span_idx,
         unnest(spans) as s
  from read_parquet('{_corpus_path(80)}')
),
base as (
  select doc_id, span_idx, s.kind as kind,
         case when s.kind = 'text'
              then len(string_split(s."text", ' '))
              else 1 end as n_tokens,
         cast(right(doc_id, 8) as int) % {_IPS} as shard
  from ex
),
p as (
  select *, sum(n_tokens) over (partition by shard
             order by doc_id, span_idx
             rows unbounded preceding) as cum_end
  from base
)
select doc_id, cast(span_idx as int) as span_idx, kind,
       cast(n_tokens as bigint) as n_tokens,
       cast(shard as int) as shard,
       cast(cum_end - n_tokens as bigint) as start_tok,
       cast((cum_end - n_tokens) // {_ISL} as bigint) as first_seq,
       cast((cum_end - 1) // {_ISL} as bigint) as last_seq
from p order by doc_id, span_idx
"""
    # Bootstrap truth: same hash-derived Poisson weights (identical CDF
    # literals), replica means, floor-div + corrected-isqrt std, 1.96x.
    # hugeint candidate squares: std can exceed 2^31.5, so s*s must not
    # run in int64
    _bisq = (
        "(cast(floor(sqrt(cast({d} as double))) as hugeint)"
        " + (case when (cast(floor(sqrt(cast({d} as double))) as hugeint) + 1)"
        "         * (cast(floor(sqrt(cast({d} as double))) as hugeint) + 1)"
        "         <= {d} then 1 else 0 end)"
        " - (case when cast(floor(sqrt(cast({d} as double))) as hugeint)"
        "         * cast(floor(sqrt(cast({d} as double))) as hugeint)"
        "         > {d} then 1 else 0 end))"
    ).format(d="samp_var")
    _wsum = " + ".join(
        f"(case when u >= {t} then 1 else 0 end)"
        for t in relational._POIS1_CDF_PPM
    )
    sql["poisson_bootstrap_ci"] = f"""
with pu as (
  select user_id, sum(cast(round(value * 100) as bigint)) as y
  from events group by 1
),
g as (select count(*) as n, sum(y) as sy from pu),
reps as (select user_id, y, i as b from pu, range({relational.BOOT_B}) t(i)),
uu as (
  select y, b,
         (('0x' || substr(md5(user_id::varchar || ':' || b::varchar),
                          1, 8))::bigint) % 1000000 as u
  from reps
),
ww as (select y, b, ({_wsum}) as w from uu),
rb as (select b, sum(w * y) as s, sum(w) as wsum from ww group by 1),
means as (
  select (2 * s * 1000000 + wsum) // (2 * wsum) as m
  from rb where wsum > 0
),
mm as (
  select count(*) as nb, sum(m::hugeint) as tm,
         sum(m::hugeint * m) as m2
  from means
),
vv as (
  select nb,
         case when nb > 1 then
           greatest(nb * m2 - tm * tm, 0) // (nb::hugeint * (nb - 1))
         else 0::hugeint end as samp_var
  from mm
),
sd as (select nb, {_bisq} as std from vv)
select cast(g.n as bigint) as n_users, cast(sd.nb as int) as b_replicas,
       cast((2 * g.sy * 1000000 + g.n) // (2 * g.n) as bigint)
         as point_mean_micro,
       cast(sd.std as bigint) as boot_std_micro,
       cast((196 * sd.std + 50) // 100 as bigint) as ci95_halfwidth_micro
from g, sd where g.n > 0
"""
    # Uncertainty-queue truth: the perplexity CTE quantized to e4, the
    # same ceil-rank median, margin top-K with doc_id ties.
    sql["uncertainty_sample"] = f"""
with t as (
  select doc_id, unnest(string_split(text, ' ')) as tok from documents
), v as (
  select tok, count(*) as c from t group by tok
), s as (
  select sum(c) as t_total, count(*) as v_size from v
), lm as (
  select tok, ln((c + 1.0) / (t_total + v_size)) as lp from v, s
), p as (
  select doc_id,
         cast(round(round(exp(-avg(lp)), 4) * 10000) as bigint) as ppl_e4
  from t join lm using (tok) group by doc_id
),
g as (select count(*) as n from p),
rk as (
  select ppl_e4,
         row_number() over (order by ppl_e4, doc_id) as r
  from p
),
med as (
  select (select ppl_e4 from rk
          where r = (50 * g.n + 99) // 100) as m
  from g
)
select p.doc_id, p.ppl_e4, cast(med.m as bigint) as median_e4,
       cast(abs(p.ppl_e4 - med.m) as bigint) as margin
from p, med
order by margin, p.doc_id
limit {text_analysis.UNCERTAIN_K}
"""
    # Sensitivity-ladder truth: same moments/cuts/theta, the closed-form
    # adj variance, and the identical floor-reduction before the cuped
    # ratio (hugeint headroom).
    sql["metric_sensitivity_ladder"] = f"""
with pu as (
  select user_id,
         sum(case when ts < timestamp '{relational.CUPED_SPLIT}'
             then c else 0 end) as x,
         sum(case when ts >= timestamp '{relational.CUPED_SPLIT}'
             then c else 0 end) as y
  from (select user_id, ts, cast(round(value * 100) as bigint) as c
        from events)
  group by 1
),
g0 as (select count(*) as n from pu),
rk as (
  select y, row_number() over (order by y, user_id) as r from pu
),
cuts as (
  select g0.n,
         (select y from rk
          where r = ({relational.WINSOR_LO_PCT} * g0.n + 99) // 100) as lo,
         (select y from rk
          where r = ({relational.WINSOR_HI_PCT} * g0.n + 99) // 100) as hi
  from g0
),
m as (
  select c.n, sum(pu.y) as sy, sum(pu.y::hugeint * pu.y) as syy,
         sum(greatest(least(pu.y, c.hi), c.lo)) as sw,
         sum(greatest(least(pu.y, c.hi), c.lo)::hugeint
             * greatest(least(pu.y, c.hi), c.lo)) as sww,
         sum(pu.x) as sx, sum(pu.x::hugeint * pu.x) as sxx,
         sum(pu.x::hugeint * pu.y) as sxy
  from pu, cuts c group by 1
),
v as (
  select n, sy, syy,
         greatest(n * syy - sy::hugeint * sy, 0) as var_raw,
         greatest(n * sww - sw::hugeint * sw, 0) as var_win,
         n * sxy - sx::hugeint * sy as cov_n,
         n * sxx - sx::hugeint * sx as var_x
  from m
),
t as (
  select *,
    case when var_x = 0 then 0
         when (cov_n < 0) != (var_x < 0) then
           -((2 * abs(cov_n) * 1000000 + abs(var_x)) // (2 * abs(var_x)))
         else (2 * abs(cov_n) * 1000000 + abs(var_x)) // (2 * abs(var_x))
    end as th
  from v
),
a as (
  select *,
    n::hugeint * sy * 1000000 as adj_sum,
    (n::hugeint * n * syy * 1000000000000
     - 2 * n::hugeint * 1000000 * th * cov_n
     + th::hugeint * th * n * var_x) as sum_adj_sq
  from t
),
f as (
  select n, var_raw, var_win,
    greatest(n * sum_adj_sq - adj_sum * adj_sum, 0) as var_adj,
    var_raw * (n::hugeint * 1000000) * (n * 1000000) as den_adj
  from a
),
f2 as (
  select *, den_adj // 1000000000000000000000000000000 + 1 as rs from f
)
select method, cast(rel as bigint) as relative_var_ppm from (
  select '1_raw' as method, 1000000 as rel from f2
  union all
  select '2_winsorized',
         case when var_raw = 0 then 0 else
           (2 * var_win * 1000000 + var_raw) // (2 * var_raw) end
  from f2
  union all
  select '3_cuped',
         case when den_adj // rs = 0 then 0 else
           (2 * (var_adj // rs) * 1000000 + (den_adj // rs))
           // (2 * (den_adj // rs)) end
  from f2
)
where (select n from g0) > 0
order by method
"""
    # Stratified-SRM truth: per-segment distinct-user arm counts, the
    # same chi2 and Bonferroni lookup by segment count.
    _crit = "case " + " ".join(
        f"when k = {i} then {c}"
        for i, c in [(1, 3841), (2, 5024), (3, 5731), (4, 6239),
                     (5, 6635), (6, 6960), (7, 7237)]
    ) + " else 7477 end"
    sql["stratified_srm"] = f"""
with u as (
  select distinct event_type, user_id, user_id % 2 as arm from events
),
seg as (
  select event_type,
         sum(case when arm = 0 then 1 else 0 end) as a,
         sum(case when arm = 1 then 1 else 0 end) as b
  from u group by 1
),
kk as (select count(*) as k from seg),
c as (select ({_crit}) as crit from kk)
select event_type, cast(a as bigint) as arm0, cast(b as bigint) as arm1,
       cast(case when a + b = 0 then 0 else
         (2 * (a - b) * (a - b) * 1000 + (a + b)) // (2 * (a + b))
       end as bigint) as chi2_milli,
       cast(c.crit as bigint) as crit_milli,
       cast(case when a + b > 0
                  and 1000 * (a - b) * (a - b) > c.crit * (a + b)
            then 1 else 0 end as int) as srm_alarm
from seg, c
order by event_type
"""
    # QTE truth: per-arm row_number order stats at the same positive
    # ceil ranks.
    sql["quantile_treatment_effect"] = """
with pu as (
  select user_id, sum(cast(round(value * 100) as bigint)) as y,
         cast(user_id % 2 as int) as arm
  from events group by 1
),
rk as (
  select arm, y,
         row_number() over (partition by arm order by y, user_id) as r,
         count(*) over (partition by arm) as n_a
  from pu
),
q as (select unnest([25, 50, 75]) as q_pct),
cells as (
  select q.q_pct, rk.arm, rk.n_a, rk.y
  from q join rk on rk.r = (q.q_pct * rk.n_a + 99) // 100
)
select cast(q.q_pct as int) as q_pct,
       cast(coalesce(c0.n_a, 0) as bigint) as n_control,
       cast(coalesce(c1.n_a, 0) as bigint) as n_treat,
       cast(coalesce(c0.y, 0) as bigint) as control_cents,
       cast(coalesce(c1.y, 0) as bigint) as treat_cents,
       cast(coalesce(c1.y, 0) - coalesce(c0.y, 0) as bigint) as qte_cents
from q
left join cells c0 on c0.q_pct = q.q_pct and c0.arm = 0
left join cells c1 on c1.q_pct = q.q_pct and c1.arm = 1
where exists (select 1 from pu)
order by q_pct
"""
    # DR truth: the same closed-form aggregates assembled as one exact
    # hugeint fraction over n*na0*na1*na2; sign-decomposed ppm.
    def _sppm(num: str, den: str) -> str:
        return (
            f"(case when ({num}) >= 0 then"
            f" (2 * ({num}) * 1000000 + ({den})) // (2 * ({den}))"
            f" else -((2 * -({num}) * 1000000 + ({den}))"
            f" // (2 * ({den}))) end)"
        )

    _dm_num = (
        "(np0::hugeint * mra0 * (dd // na0)"
        " + np1::hugeint * mra1 * (dd // na1)"
        " + np2::hugeint * mra2 * (dd // na2))"
    )
    _corr = (
        "(3 * (mr_match::hugeint * dd"
        " - (m0::hugeint * mra0 * (dd // na0)"
        "    + m1::hugeint * mra1 * (dd // na1)"
        "    + m2::hugeint * mra2 * (dd // na2))))"
    )
    sql["doubly_robust_eval"] = f"""
with b as (
  select event_id % 3 as a, user_id % 3 as pi1,
         case when event_type = 'purchase' then 1 else 0 end as r
  from events
),
g as (
  select count(*) as n,
         greatest(sum(case when a = 0 then 1 else 0 end), 1) as na0,
         greatest(sum(case when a = 1 then 1 else 0 end), 1) as na1,
         greatest(sum(case when a = 2 then 1 else 0 end), 1) as na2,
         sum(case when a = 0 then r else 0 end) as mra0,
         sum(case when a = 1 then r else 0 end) as mra1,
         sum(case when a = 2 then r else 0 end) as mra2,
         sum(case when pi1 = 0 then 1 else 0 end) as np0,
         sum(case when pi1 = 1 then 1 else 0 end) as np1,
         sum(case when pi1 = 2 then 1 else 0 end) as np2,
         sum(case when pi1 = a then r else 0 end) as mr_match,
         sum(case when pi1 = a and a = 0 then 1 else 0 end) as m0,
         sum(case when pi1 = a and a = 1 then 1 else 0 end) as m1,
         sum(case when pi1 = a and a = 2 then 1 else 0 end) as m2
  from b
),
c as (select *, na0::hugeint * na1 * na2 as dd from g)
select 'personalized' as policy, cast(n as bigint) as n,
       cast({_sppm(_dm_num, "n::hugeint * dd")} as bigint) as dm_ppm,
       cast({_sppm("3 * mr_match::hugeint", "n")} as bigint) as ips_ppm,
       cast({_sppm(_dm_num + " + " + _corr, "n::hugeint * dd")} as bigint)
         as dr_ppm
from c where n > 0
"""
    # IPS truth: same action/match/reward aggregates and the x3
    # propensity cancellation.
    sql["ips_offline_eval"] = """
with b as (
  select event_id % 3 as a, user_id % 3 as pi1,
         case when event_type = 'purchase' then 1 else 0 end as r
  from events
),
g as (
  select count(*) as n, sum(r) as sr,
         sum(case when pi1 = a then 1 else 0 end) as m1,
         sum(case when pi1 = a then r else 0 end) as mr1,
         sum(case when a = 0 then 1 else 0 end) as m2,
         sum(case when a = 0 then r else 0 end) as mr2
  from b
)
select policy, cast(n as bigint) as n, cast(matched as bigint) as matched,
       cast(reward_sum as bigint) as reward_sum,
       cast(est as bigint) as est_reward_ppm
from (
  select '0_logged' as policy, n, n as matched, sr as reward_sum,
         (2 * sr * 1000000 + n) // (2 * n) as est from g
  union all
  select '1_personalized', n, m1, mr1,
         (2 * 3 * mr1 * 1000000 + n) // (2 * n) from g
  union all
  select '2_constant_a0', n, m2, mr2,
         (2 * 3 * mr2 * 1000000 + n) // (2 * n) from g
)
where (select n from g) > 0
order by policy
"""
    # Winsorized-mean truth: row_number order stats at the same ceil
    # ranks (ties by user_id), clamp, half-away ppm.
    sql["winsorized_mean"] = f"""
with pu as (
  select user_id, sum(cast(round(value * 100) as bigint)) as y
  from events group by 1
),
g as (select count(*) as n from pu),
rk as (
  select y, row_number() over (order by y, user_id) as r from pu
),
cuts as (
  select g.n,
         (select y from rk
          where r = ({relational.WINSOR_LO_PCT} * g.n + 99) // 100) as lo,
         (select y from rk
          where r = ({relational.WINSOR_HI_PCT} * g.n + 99) // 100) as hi
  from g
),
a as (
  select c.n, c.lo, c.hi,
         sum(pu.y) as sy,
         sum(greatest(least(pu.y, c.hi), c.lo)) as sw,
         sum(case when pu.y < c.lo then 1 else 0 end) as nlo,
         sum(case when pu.y > c.hi then 1 else 0 end) as nhi
  from pu, cuts c
  group by 1, 2, 3
)
select cast(n as bigint) as n_users, cast(lo as bigint) as lo_cut_cents,
       cast(hi as bigint) as hi_cut_cents,
       cast(nlo as bigint) as n_clamped_lo,
       cast(nhi as bigint) as n_clamped_hi,
       cast((2 * sy * 1000000 + n) // (2 * n) as bigint)
         as raw_mean_micro,
       cast((2 * sw * 1000000 + n) // (2 * n) as bigint)
         as winsorized_mean_micro
from a where n > 0
"""
    # Holt truth: recursive-CTE replay of the same sign-decomposed
    # half-away recurrence, then the same linear forecast fan-out.
    def _shalf(num: str, den: int) -> str:
        return (
            f"(case when ({num}) >= 0 then"
            f" (2 * ({num}) + {den}) // (2 * {den})"
            f" else -((2 * -({num}) + {den}) // (2 * {den})) end)"
        )

    _a, _b, _d = (relational.HW_ALPHA_NUM, relational.HW_BETA_NUM,
                  relational.HW_DEN)
    _L2 = _shalf(f"{_a} * x.r * 1000 + {_d - _a} * (hw.l + hw.t)", _d)
    _T2 = _shalf(f"{_b} * ({_L2} - hw.l) + {_d - _b} * hw.t", _d)
    sql["holt_winters_forecast"] = f"""
with recursive pd as (
  select cast(ts as date) as day,
         sum(cast(round(value * 100) as bigint)) as r
  from events group by 1
),
idx as (select day, r, row_number() over (order by day) as i from pd),
hw(i, day, r, l, t) as (
  select i, day, r, r * 1000, cast(0 as bigint) from idx where i = 1
  union all
  select x.i, x.day, x.r, {_L2}, {_T2}
  from hw join idx x on x.i = hw.i + 1
),
tail as (select * from hw order by i desc limit 1),
fc as (
  select tail.day + cast(h as int) as day, cast(0 as bigint) as r,
         tail.l + h * tail.t as l, tail.t as t, 1 as f
  from tail, range(1, {relational.HW_HORIZON + 1}) q(h)
)
select day, cast(r as bigint) as revenue_cents,
       cast(l as bigint) as level_milli,
       cast(t as bigint) as trend_milli, cast(f as int) as is_forecast
from (select day, r, l, t, 0 as f from hw union all select * from fc)
order by day
"""
    # Label-model truth: same three LF expressions, same majority and
    # ppm arithmetic.
    sql["label_model_vote"] = """
with v as (
  select case when length(text) < 20 then -1
              when text like '% the %' then 1 else 0 end as v1,
         case when doc_id % 10 = 0
              then 1 - (case when lang = 'en' then 1 else 0 end)
              else (case when lang = 'en' then 1 else 0 end) end as v2,
         case when n_chars % 2 = 0 then 1 else 0 end as v3
  from documents
),
m as (
  select v1, v2, v3,
         case when 2 * ((case when v1 = 1 then 1 else 0 end) + v2 + v3)
                   > ((case when v1 >= 0 then 1 else 0 end) + 2)
              then 1 else 0 end as maj
  from v
),
a as (
  select count(*) as n,
         sum(case when v1 >= 0 then 1 else 0 end) as c1,
         sum(case when v1 >= 0 and v1 = maj then 1 else 0 end) as a1,
         sum(case when v2 = maj then 1 else 0 end) as a2,
         sum(case when v3 = maj then 1 else 0 end) as a3
  from m
)
select lf, cast(n_votes as bigint) as n_votes,
       cast(coverage_ppm as bigint) as coverage_ppm,
       cast(agree_majority_ppm as bigint) as agree_majority_ppm
from (
  select 'lf1_stopword' as lf, c1 as n_votes,
         (2 * c1 * 1000000 + n) // (2 * n) as coverage_ppm,
         case when c1 = 0 then 0
              else (2 * a1 * 1000000 + c1) // (2 * c1) end
           as agree_majority_ppm
  from a
  union all
  select 'lf2_lang_tag', n, 1000000,
         (2 * a2 * 1000000 + n) // (2 * n) from a
  union all
  select 'lf3_parity', n, 1000000,
         (2 * a3 * 1000000 + n) // (2 * n) from a
)
where (select n from a) > 0
order by lf
"""
    # Adamic-Adar truth: same wedge join with the floor-log2 milli
    # weight (bin-string length both sides), same anti-join.
    sql["adamic_adar_pairs"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges union select dst, src from edges
),
deg as (select src, count(*) as deg from und group by 1),
wdeg as (
  select src as w,
         (2 * 1000 + (length(bin(deg)) - 1))
           // (2 * (length(bin(deg)) - 1)) as w_milli
  from deg
),
cn as (
  select a.src as u, b.src as v, count(*) as cn,
         sum(wd.w_milli) as aa_milli
  from und a
  join und b on a.dst = b.dst and a.src < b.src
  join wdeg wd on wd.w = a.dst
  group by 1, 2 having count(*) >= {web_extract.LP_MIN_CN}
),
nonedges as (
  select cn.* from cn
  left join (select src as u, dst as v from und where src < dst) e
    on cn.u = e.u and cn.v = e.v
  where e.u is null
)
select u, v, cast(cn as bigint) as cn,
       cast(aa_milli as bigint) as aa_milli
from nonedges
order by u, v
"""
    # DeepWalk truth: unrolled hash-argmin steps over the same graph.
    _dw_steps = []
    for _t in range(1, web_extract.WALK_LEN + 1):
        _prev = "w0" if _t == 1 else f"s{_t - 1}"
        _dw_steps.append(
            f"""s{_t} as (
  select start, v from (
    select w.start, u.dst as v,
           row_number() over (partition by w.start
             order by md5(w.v::varchar || ':' || u.dst::varchar
                          || ':{_t}'), u.dst) as rk
    from {_prev} w join und u on u.src = w.v
  ) where rk = 1
)"""
        )
    _dw_rows = " union all ".join(
        f"select start, {_t} as step, v as context from s{_t}"
        for _t in range(1, web_extract.WALK_LEN + 1)
    )
    sql["deepwalk_pairs"] = f"""
with n as (select count(*) as nn from documents),
e0 as (
  select doc_id as src, (doc_id * 7 + 1) % nn as dst from documents, n
  union all
  select doc_id, (doc_id * 13 + 2) % nn from documents, n
  union all
  select doc_id, (doc_id * 31 + 3) % nn from documents, n
),
edges as (select distinct src, dst from e0 where src != dst),
und as materialized (
  select src, dst from edges union select dst, src from edges
),
w0 as (
  select doc_id as start, doc_id as v from documents
  where doc_id % {web_extract.WALK_SEED_MOD} = 0
),
{", ".join(_dw_steps)}
select start, cast(step as int) as step, context
from ({_dw_rows})
order by start, step
"""
    # MDE truth: the same moments, floor-div radicand, corrected isqrt
    # (hugeint candidates), and basis-point z multiplication.
    def _hisq(d: str) -> str:
        return (
            f"(cast(floor(sqrt(cast({d} as double))) as hugeint)"
            f" + (case when (cast(floor(sqrt(cast({d} as double)))"
            f" as hugeint) + 1)"
            f"         * (cast(floor(sqrt(cast({d} as double)))"
            f" as hugeint) + 1)"
            f"         <= {d} then 1 else 0 end)"
            f" - (case when cast(floor(sqrt(cast({d} as double)))"
            f" as hugeint)"
            f"         * cast(floor(sqrt(cast({d} as double))) as hugeint)"
            f"         > {d} then 1 else 0 end))"
        )

    sql["ab_mde_power"] = f"""
with pu as (
  select user_id, sum(cast(round(value * 100) as bigint)) as y
  from events group by 1
),
g as (
  select count(*) as n, sum(y) as sy, sum(y::hugeint * y) as syy from pu
),
v as (
  select n, sy,
         greatest(n * syy - sy::hugeint * sy, 0) as var_n
  from g where n > 0
),
r as (
  select n, sy, var_n,
         (var_n * 1000000000000) // (n::hugeint * n) as sig2,
         (2 * var_n * 1000000000000)
           // (n::hugeint * n * n) as radicand
  from v
),
s as (
  select n, sy,
         {_hisq("sig2")} as sigma,
         {_hisq("radicand")} as sq
  from r
),
f as (
  select n, sy, sigma,
         (28016 * sq + 5000) // 10000 as mde,
         (2 * sy::hugeint * 1000000 + n) // (2 * n) as mean
  from s
)
select cast(n as bigint) as n_users, cast(mean as bigint) as mean_micro,
       cast(sigma as bigint) as sigma_micro,
       cast(mde as bigint) as mde_micro,
       cast(case when mean = 0 then 0 else
         (2 * mde * 1000000 + mean) // (2 * mean) end as bigint)
         as relative_mde_ppm
from f
"""
    # DiD truth: the same per-user pre/post sums and one cross-multiplied
    # sign-decomposed division per output.
    sql["diff_in_differences"] = f"""
with pu as (
  select user_id,
         sum(case when ts < timestamp '{relational.CUPED_SPLIT}'
             then c else 0 end) as x,
         sum(case when ts >= timestamp '{relational.CUPED_SPLIT}'
             then c else 0 end) as y,
         user_id % 2 as arm
  from (select user_id, ts, cast(round(value * 100) as bigint) as c
        from events)
  group by 1
),
a as (
  select coalesce(sum(case when arm = 0 then 1 end), 0) as n0,
         coalesce(sum(case when arm = 1 then 1 end), 0) as n1,
         coalesce(sum(case when arm = 0 then x end), 0) as sx0,
         coalesce(sum(case when arm = 0 then y end), 0) as sy0,
         coalesce(sum(case when arm = 1 then x end), 0) as sx1,
         coalesce(sum(case when arm = 1 then y end), 0) as sy1
  from pu
),
h as (
  select *,
    ((sy1 - sx1) * n0 - (sy0 - sx0) * n1) * 1000000::hugeint as dnum,
    n1::hugeint * n0 as dden
  from a
)
select cast(n0 as bigint) as n_control, cast(n1 as bigint) as n_treat,
  cast(case when n0 = 0 then 0 else
    (2 * sx0 * 1000000 + n0) // (2 * n0) end as bigint)
    as pre_control_micro,
  cast(case when n0 = 0 then 0 else
    (2 * sy0 * 1000000 + n0) // (2 * n0) end as bigint)
    as post_control_micro,
  cast(case when n1 = 0 then 0 else
    (2 * sx1 * 1000000 + n1) // (2 * n1) end as bigint)
    as pre_treat_micro,
  cast(case when n1 = 0 then 0 else
    (2 * sy1 * 1000000 + n1) // (2 * n1) end as bigint)
    as post_treat_micro,
  cast(case when n0 = 0 or n1 = 0 then 0
       when dnum < 0 then -((2 * -dnum + dden) // (2 * dden))
       else (2 * dnum + dden) // (2 * dden) end as bigint) as did_micro
from h where n0 + n1 > 0
"""
    # SRM truth: distinct-user arm counts + the same exact chi-square
    # and alarm comparison.
    sql["srm_check"] = """
with u as (select distinct user_id from events),
c as (
  select sum(case when user_id % 2 = 0 then 1 else 0 end) as a,
         sum(case when user_id % 2 = 1 then 1 else 0 end) as b
  from u
)
select cast(a + b as bigint) as n_users, cast(a as bigint) as arm0,
       cast(b as bigint) as arm1,
       cast((2 * (a - b) * (a - b) * 1000 + (a + b))
            // (2 * (a + b)) as bigint) as chi2_milli,
       cast(case when 1000 * (a - b) * (a - b) > 3841 * (a + b)
            then 1 else 0 end as int) as srm_alarm
from c where a is not null
"""
    # CUPED truth: per-user pre/post sums, hugeint cross-moments, the
    # sign-decomposed half-away theta, and the n-scaled adjustment sum.
    sql["cuped_adjusted_metric"] = f"""
with pu as (
  select user_id,
         sum(case when ts < timestamp '{relational.CUPED_SPLIT}'
             then c else 0 end) as x,
         sum(case when ts >= timestamp '{relational.CUPED_SPLIT}'
             then c else 0 end) as y,
         cast(user_id % 2 as int) as arm
  from (select user_id, ts, cast(round(value * 100) as bigint) as c
        from events)
  group by 1
),
g as (
  select count(*) as n, sum(x) as sx, sum(y) as sy,
         sum(x * x) as sxx, sum(x * y) as sxy, sum(y * y) as syy
  from pu
),
th as (
  select n, sx,
         n::hugeint * sxy - sx::hugeint * sy as cov_n,
         n::hugeint * sxx - sx::hugeint * sx as var_n,
         n::hugeint * syy - sy::hugeint * sy as vy_n
  from g
),
th2 as (
  select *,
    case when var_n = 0 then 0
         when (cov_n < 0) != (var_n < 0) then
           -((2 * abs(cov_n) * 1000000 + abs(var_n)) // (2 * abs(var_n)))
         else (2 * abs(cov_n) * 1000000 + abs(var_n)) // (2 * abs(var_n))
    end as theta_ppm,
    case when var_n = 0 or vy_n = 0 then 0
         else (2 * cov_n * cov_n * 1000000 + var_n * vy_n)
              // (2 * var_n * vy_n) end as var_red
  from th
),
arms as (
  select pu.arm, count(*) as n_users, sum(pu.y) as ys,
         sum(t.n::hugeint * pu.y * 1000000
             - t.theta_ppm::hugeint * (t.n * pu.x - t.sx)) as adjs
  from pu, th2 t
  group by pu.arm, t.n, t.theta_ppm, t.sx
)
select arm, cast(n_users as bigint) as n_users,
       cast((2 * ys::hugeint * 1000000 + n_users)
            // (2 * n_users) as bigint) as raw_mean_micro,
       cast(case when adjs >= 0 then
              (2 * adjs + n_users::hugeint * t2.n)
              // (2 * n_users::hugeint * t2.n)
            else
              -((2 * -adjs + n_users::hugeint * t2.n)
                // (2 * n_users::hugeint * t2.n))
            end as bigint) as adj_mean_micro,
       cast(t2.theta_ppm as bigint) as theta_ppm,
       cast(t2.var_red as bigint) as var_reduction_ppm
from arms, th2 t2
order by arm
"""
    # Neyman truth: same stratum moments, the ±1-corrected floor-sqrt,
    # identical largest-remainder distribution (ties -> stratum name).
    _nisq = (
        "(cast(floor(sqrt(cast({d} as double))) as bigint)"
        " + (case when (cast(floor(sqrt(cast({d} as double))) as bigint) + 1)"
        "         * (cast(floor(sqrt(cast({d} as double))) as bigint) + 1)"
        "         <= {d} then 1 else 0 end)"
        " - (case when cast(floor(sqrt(cast({d} as double))) as bigint)"
        "         * cast(floor(sqrt(cast({d} as double))) as bigint)"
        "         > {d} then 1 else 0 end))"
    ).format(d="v")
    sql["neyman_allocation"] = f"""
with s as (
  select event_type, count(*) as n_h, sum(c) as s, sum(c * c) as ss
  from (select event_type, cast(round(value * 100) as bigint) as c
        from events)
  group by 1
),
iw as (
  select event_type, n_h, {_nisq} as w
  from (select event_type, n_h, greatest(n_h * ss - s * s, 0) as v from s)
),
tot as (select sum(w) as tw from iw),
base as (
  select event_type, n_h, iw.w,
         case when t.tw = 0 then 0
              else ({relational.NEYMAN_BUDGET} * iw.w) // t.tw end as b,
         case when t.tw = 0 then 0
              else ({relational.NEYMAN_BUDGET} * iw.w) % t.tw end as rem
  from iw, tot t
),
lo as (
  select {relational.NEYMAN_BUDGET} - sum(b) as leftover from base
),
rk as (
  select *, row_number() over (order by rem desc, event_type) as r
  from base
)
select event_type, cast(n_h as bigint) as n_h, cast(w as bigint) as weight,
       cast(case when (select tw from tot) = 0 then 0
                 else b + (case when r <= (select leftover from lo)
                           then 1 else 0 end) end as bigint) as alloc
from rk order by event_type
"""
    # Brier truth: same bins, per-term half-away ppm in hugeint, direct
    # BS, and the decomposition gap recomputed from the parts.
    _bw = 100 // relational.BRIER_BINS
    sql["brier_decomposition"] = f"""
with base as (
  select cast(round(value * 100) as bigint) % 100 as c,
         case when event_type = 'purchase' then 1 else 0 end as o
  from events
),
bins as (
  select c // {_bw} as b, count(*) as n_k, sum(c) as s_k, sum(o) as o_k
  from base group by 1
),
tot as (select sum(n_k) as n, sum(o_k) as o from bins),
terms as (
  select
    sum((2 * ((s_k - 100 * o_k)::hugeint * (s_k - 100 * o_k)) * 1000000
         + 10000::hugeint * t.n * n_k)
        // (2 * 10000::hugeint * t.n * n_k)) as rel,
    sum((2 * ((o_k * t.n - t.o * n_k)::hugeint
              * (o_k * t.n - t.o * n_k)) * 1000000
         + n_k::hugeint * t.n * t.n * t.n)
        // (2 * n_k::hugeint * t.n * t.n * t.n)) as res
  from bins, tot t
),
direct as (select sum((c - 100 * o) * (c - 100 * o)) as sq from base),
fin as (
  select cast(t.n as bigint) as n, cast(t.o as bigint) as n_pos,
         cast((2 * d.sq::hugeint * 1000000 + 10000::hugeint * t.n)
              // (2 * 10000::hugeint * t.n) as bigint) as brier_ppm,
         cast(terms.rel as bigint) as reliability_ppm,
         cast(terms.res as bigint) as resolution_ppm,
         cast((2 * (t.o::hugeint * (t.n - t.o)) * 1000000
               + t.n::hugeint * t.n)
              // (2 * t.n::hugeint * t.n) as bigint) as uncertainty_ppm
  from tot t, terms, direct d
  where t.n > 0
)
select *, brier_ppm - (reliability_ppm - resolution_ppm
                       + uncertainty_ppm) as identity_gap_ppm
from fin
"""
    # Excision truth: same window/dup-hash construction, the identical
    # lag + running-max island merge, per-doc cut budget.
    sql["dedup_span_excision"] = f"""
with wins as (
  select doc_id, unnest(range(1, length(text) - {dedup.SUBSTR_W - 2},
                              {dedup.SUBSTR_STRIDE})) as pos, text
  from documents where length(text) >= {dedup.SUBSTR_W}
),
wh as (
  select doc_id, pos, md5(substr(text, pos, {dedup.SUBSTR_W})) as h
  from wins
),
dup as (select h from wh group by h having min(doc_id) <> max(doc_id)),
dw as (
  select doc_id, pos, pos + {dedup.SUBSTR_W} as e
  from wh where h in (select h from dup)
),
run as (
  select doc_id, pos, e,
         max(e) over (partition by doc_id order by pos
                      rows between unbounded preceding and 1 preceding)
           as prev_max_e
  from dw
),
isl as (
  select doc_id, pos, e,
         sum(case when prev_max_e is null or pos > prev_max_e
                  then 1 else 0 end)
           over (partition by doc_id order by pos
                 rows unbounded preceding) as island
  from run
),
agg as (
  select doc_id, island, min(pos) as s, max(e) as e
  from isl group by 1, 2
),
per as (
  select doc_id, count(*) as n_islands, sum(e - s) as excised
  from agg group by 1
)
select d.doc_id, cast(length(d.text) as int) as n_chars,
       cast(coalesce(p.n_islands, 0) as bigint) as n_islands,
       cast(coalesce(p.excised, 0) as bigint) as excised_chars,
       cast(length(d.text) - coalesce(p.excised, 0) as bigint)
         as kept_chars
from documents d left join per p using (doc_id)
order by d.doc_id
"""
    # Funnel truth: url-canonical survivors -> exact-digest survivors ->
    # LSH-pair closure survivors, all min-doc_id rules, counts diffed.
    sql["dedup_cascade_funnel"] = f"""
with recursive uc as ({sql["url_canonicalize"]}),
s1 as (select doc_id from uc where is_survivor = 1),
e1 as (
  select d.doc_id, md5(d.text) as dg
  from documents d join s1 on s1.doc_id = d.doc_id
),
s2 as (
  select doc_id from (
    select doc_id,
           (doc_id = min(doc_id) over (partition by dg))::int as k
    from e1
  ) where k = 1
),
lsh as ({_LSH_ORACLE}),
edges as (
  select doc_a as a, doc_b as b from lsh
  join s2 sa on sa.doc_id = lsh.doc_a
  join s2 sb on sb.doc_id = lsh.doc_b
  union
  select doc_b, doc_a from lsh
  join s2 sa on sa.doc_id = lsh.doc_a
  join s2 sb on sb.doc_id = lsh.doc_b
),
walk(id, r) as (
  select doc_id, doc_id from s2
  union
  select w.id, e.b from walk w join edges e on e.a = w.r
),
lab as (select id, min(r) as cid from walk group by id),
s3 as (select id as doc_id from lab where id = cid),
c as (
  select (select count(*) from documents) as n0,
         (select count(*) from s1) as n1,
         (select count(*) from s2) as n2,
         (select count(*) from s3) as n3
)
select stage, cast(n_docs as bigint) as n_docs,
       cast(removed as bigint) as removed
from (
  select '0_total' as stage, n0 as n_docs, 0 as removed from c
  union all select '1_url', n1, n0 - n1 from c
  union all select '2_exact', n2, n1 - n2 from c
  union all select '3_near_dup', n3, n2 - n3 from c
)
where (select n0 from c) >= 0
order by stage
"""
    # MaxSim truth: the same quantized token sets, a literal pair join,
    # max-per-query-token then sum, row_number top-K per query.
    sql["maxsim_late_interaction_topk"] = f"""
with t as (
  select vec_id // {similarity.MAXSIM_GROUP} as doc, vec_id as tok,
         list_transform(embedding,
                        x -> cast(round(x::double * 1000) as bigint)) as qv
  from embeddings
),
qs as (
  select doc as q_doc, tok as q_tok, qv as q_qv from t
  where doc % {similarity.MAXSIM_QMOD} = 0
),
ds as (select * from t where doc % {similarity.MAXSIM_QMOD} != 0),
per as (
  select qs.q_doc, qs.q_tok, ds.doc as d_doc,
         max(list_aggregate(
               list_transform(range(1, len(qs.q_qv) + 1),
                              i -> qs.q_qv[i] * ds.qv[i]), 'sum'))
           as best
  from qs, ds
  group by 1, 2, 3
),
sc as (
  select q_doc, d_doc, sum(best) as maxsim_milli2
  from per group by 1, 2
),
rk as (
  select q_doc, d_doc, maxsim_milli2,
         row_number() over (partition by q_doc
           order by maxsim_milli2 desc, d_doc) as rk
  from sc
)
select q_doc, d_doc, cast(maxsim_milli2 as bigint) as maxsim_milli2,
       cast(rk as int) as rk
from rk where rk <= {similarity.MAXSIM_TOPK}
order by q_doc, rk
"""
    # Entity-resolution truth: the fuzzy-match pair SQL + the recursive
    # reachability closure (near_dup_clusters shape) over part keys.
    sql["entity_resolution_clusters"] = f"""
with recursive fz as ({sql["fuzzy_name_match"]}),
edges as (
  select src_partkey as a, match_partkey as b from fz
  where src_partkey != match_partkey
  union
  select match_partkey, src_partkey from fz
  where src_partkey != match_partkey
),
walk(id, r) as (
  select p_partkey, p_partkey from part
  union
  select w.id, e.b from walk w join edges e on e.a = w.r
),
lab as (select id as p_partkey, min(r) as entity_id from walk group by id)
select p_partkey, entity_id,
       count(*) over (partition by entity_id) as entity_size,
       (p_partkey = entity_id)::int as is_canonical
from lab
order by p_partkey
"""
    # Threshold-sweep truth: the all-pairs CTE bucketed by the same
    # integer-ppm cutoffs (cross join against 8 literal thresholds).
    sql["dedup_threshold_sweep"] = f"""
with pr as ({sql["ngram_jaccard_all_pairs"]}),
j as (select cast(round(jaccard * 1000000) as bigint) as jppm from pr)
select cast(t.tau_tenths as int) as tau_tenths,
       cast(coalesce(sum(case when j.jppm >= t.tau_tenths * 100000
                          then 1 else 0 end), 0) as bigint) as n_pairs
from (values (2), (3), (4), (5), (6), (7), (8), (9)) t(tau_tenths)
left join j on true
group by 1 order by 1
"""
    # Embedding-health truth: list-transform quantization + the same
    # fold/digest aggregates.
    sql["embedding_health_audit"] = """
with q as (
  select vec_id,
         list_transform(embedding,
                        x -> cast(round(x::double * 1000) as bigint)) as qv
  from embeddings
),
per as (
  select vec_id,
         list_aggregate(list_transform(qv, v -> v * v), 'sum') as n2,
         list_aggregate(list_transform(qv, v -> abs(v)), 'sum') as sabs,
         len(qv) as d,
         md5(array_to_string(qv, ',')) as digest
  from q
),
base as (
  select count(*) as n_vecs, max(d) as n_dims,
         sum(case when sabs = 0 then 1 else 0 end) as n_zero,
         min(n2) as min_n2, max(n2) as max_n2, sum(n2) as sum_n2
  from per
),
dup as (
  select coalesce(sum(case when cnt > 1 then cnt else 0 end), 0) as dup
  from (select digest, count(*) as cnt from per group by 1)
)
select metric, cast(value as bigint) as value from (
  select 'dup_vecs' as metric, dup.dup as value from dup
  union all select 'max_norm2_milli2', max_n2 from base
  union all select 'min_norm2_milli2', min_n2 from base
  union all select 'n_dims', n_dims from base
  union all select 'n_vecs', n_vecs from base
  union all select 'n_zero_vecs', n_zero from base
  union all select 'sum_norm2_milli2', sum_n2 from base
) where (select n_vecs from base) > 0
order by metric
"""
    # Salt-planner truth: per-key counts + identical ceil arithmetic.
    sql["skew_salt_plan"] = f"""
with c as (select event_type as key, count(*) as cnt from events group by 1)
select key, cnt,
       (cnt + {relational.SALT_TARGET_ROWS} - 1)
         // {relational.SALT_TARGET_ROWS} as salt_n,
       (cnt + ((cnt + {relational.SALT_TARGET_ROWS} - 1)
               // {relational.SALT_TARGET_ROWS}) - 1)
         // ((cnt + {relational.SALT_TARGET_ROWS} - 1)
             // {relational.SALT_TARGET_ROWS}) as projected_max,
       cast(case when (cnt + {relational.SALT_TARGET_ROWS} - 1)
                      // {relational.SALT_TARGET_ROWS} > 1
            then 1 else 0 end as int) as is_hot
from c order by key
"""
    # Streaming-sketch truth: the merged per-batch partials equal the
    # batch histogram exactly (integer addition), so DuckDB recomputes
    # the fixed-domain clamped histogram + interpolation from the raw
    # table — a value-level gate on a streaming path.
    sql["stream_quantile_sketch"] = f"""
with t as (select cast(round(value * 100) as bigint) as cents from events),
h as (
  select least(greatest((cents - {stream.QSKETCH_LO})
                        // {stream.QSKETCH_W}, 0),
               {stream.QSKETCH_B - 1}) as b,
         count(*) as cnt
  from t group by 1
),
agg as (select sum(cnt) as n from h),
c as (
  select b, cnt,
         coalesce(sum(cnt) over (order by b
           rows between unbounded preceding and 1 preceding), 0) as cum
  from h
),
q as (
  select q_pct, (q_pct * agg.n + 99) // 100 as k, agg.n
  from (values (50), (90), (99)) v(q_pct), agg where agg.n > 0
),
loc as (
  select q.q_pct, q.k, q.n, c.b, c.cnt, c.cum
  from q join c on q.k > c.cum and q.k <= c.cum + c.cnt
)
select cast(q_pct as int) as q_pct, cast(n as bigint) as n,
       cast(k as bigint) as target_rank,
       cast({stream.QSKETCH_LO} + b * {stream.QSKETCH_W}
            + ((k - cum) * {stream.QSKETCH_W}) // (cnt + 1) as bigint)
         as est_cents
from loc order by q_pct
"""
    # Dataset-card truth: same scan aggregates + digest groupBy, long
    # format assembled by union.
    sql["dataset_card"] = """
with base as (
  select count(*) as n_docs,
         sum(len(string_split(text, ' '))) as n_tokens,
         sum(case when len(string_split(text, ' ')) < 10 then 1 else 0 end)
           as short_docs,
         sum(case when lang = 'en' then 1 else 0 end) as en_docs,
         count(distinct source) as n_sources,
         count(distinct lang) as n_langs
  from documents
),
dup as (
  select coalesce(sum(case when cnt > 1 then cnt else 0 end), 0)
           as dup_docs
  from (select md5(text) as d, count(*) as cnt from documents group by 1)
)
select metric, cast(value as bigint) as value from (
  select 'dup_docs_ppm' as metric,
         (2 * dup.dup_docs * 1000000 + base.n_docs)
           // (2 * base.n_docs) as value from base, dup
  union all
  select 'english_docs_ppm',
         (2 * en_docs * 1000000 + n_docs) // (2 * n_docs) from base
  union all
  select 'mean_doc_tokens_milli',
         (2 * 1000 * n_tokens + n_docs) // (2 * n_docs) from base
  union all select 'n_docs', n_docs from base
  union all select 'n_langs', n_langs from base
  union all select 'n_sources', n_sources from base
  union all select 'n_tokens', n_tokens from base
  union all
  select 'short_docs_ppm',
         (2 * short_docs * 1000000 + n_docs) // (2 * n_docs) from base
) where (select n_docs from base) > 0
order by metric
"""
    # Quantile-sketch truth: identical histogram arithmetic (ceil rank,
    # bucket locate, interpolation) plus the exact order statistic via a
    # global row_number — single-node DuckDB may sort; the op may not.
    sql["histogram_quantile_sketch"] = f"""
with t as (
  select cast(round(l_extendedprice * 100) as bigint) as cents
  from lineitem
),
agg as (select min(cents) as lo, max(cents) as hi, count(*) as n from t),
w as (select lo, hi, n,
             greatest((hi - lo) // {relational.SKETCH_BUCKETS} + 1, 1)
               as width
      from agg where n > 0),
h as (
  select (cents - w.lo) // w.width as b, count(*) as cnt
  from t, w group by 1
),
c as (
  select b, cnt,
         coalesce(sum(cnt) over (order by b
           rows between unbounded preceding and 1 preceding), 0) as cum
  from h
),
q as (
  select q_pct, (q_pct * w.n + 99) // 100 as k, w.n, w.lo, w.width
  from (values (50), (90), (99)) v(q_pct), w
),
loc as (
  select q.q_pct, q.k, q.n, q.lo, q.width, c.b, c.cnt, c.cum
  from q join c on q.k > c.cum and q.k <= c.cum + c.cnt
),
est as (
  select *, lo + b * width + ((k - cum) * width) // (cnt + 1) as est_cents
  from loc
),
ranked as (select cents, row_number() over (order by cents) as rk from t),
ex as (
  select e.*, r.cents as exact_cents
  from est e join ranked r on r.rk = e.k
),
ro as (
  select e.q_pct, e.n, e.k, e.est_cents, e.exact_cents, e.cnt,
         (select count(*) from t where t.cents <= e.est_cents) as r_est
  from ex e
)
select cast(q_pct as int) as q_pct, cast(n as bigint) as n,
       cast(k as bigint) as target_rank,
       cast(est_cents as bigint) as est_cents,
       cast(exact_cents as bigint) as exact_cents,
       cast(r_est as bigint) as rank_of_est,
       cast(abs(r_est - k) as bigint) as rank_err,
       cast(cnt as bigint) as bucket_n,
       cast(case when abs(r_est - k) <= cnt then 1 else 0 end as int)
         as within_bound
from ro order by q_pct
"""
    # PCA truth: the identical unrolled integer arithmetic — quantize,
    # covariance identity, shrink, three max-abs-normalized power sweeps
    # — generated dimension-wise; signed divisions are sign-decomposed
    # because DuckDB's // floors while the op's div truncates.
    _D = similarity.PCA_DIMS
    _QS, _VS, _CC = similarity.PCA_QS, similarity.PCA_VS, similarity.PCA_CCAP

    def _sdiv(x: str, d: str) -> str:
        return (f"(case when ({x}) >= 0 then ({x}) // ({d})"
                f" else -((-({x})) // ({d})) end)")

    _qcols = ", ".join(
        f"cast(round(embedding[{j + 1}]::double * {_QS}) as bigint) as q{j}"
        for j in range(_D)
    )
    _aggs = ["count(*) as n"]
    _aggs += [f"sum(q{j}) as s{j}" for j in range(_D)]
    _aggs += [
        f"sum(q{j} * q{k}) as p{j}_{k}"
        for j in range(_D) for k in range(j, _D)
    ]
    _cexprs = ", ".join(
        f"n * p{min(j, k)}_{max(j, k)} - s{j} * s{k} as c{j}_{k}"
        for j in range(_D) for k in range(_D)
    )
    _cmax = "greatest(" + ", ".join(
        f"abs(c{j}_{k})" for j in range(_D) for k in range(_D)
    ) + ")"
    _shrunk = ", ".join(
        _sdiv(f"c{j}_{k}", "dsh") + f" as cc{j}_{k}"
        for j in range(_D) for k in range(_D)
    )
    _its = []
    _prev = [str(_VS)] * _D
    for _t in range(1, similarity.PCA_ITERS + 1):
        _us = ", ".join(
            "(" + " + ".join(
                f"cc{j}_{k} * ({_prev[k]})" for k in range(_D)
            ) + f") as u{_t}_{j}"
            for j in range(_D)
        )
        _m = "greatest(" + ", ".join(
            f"abs(u{_t}_{j})" for j in range(_D)
        ) + f") as m{_t}"
        _vs = ", ".join(
            f"(case when m{_t} = 0 then ({_prev[j]}) else "
            + _sdiv(f"u{_t}_{j} * {_VS}", f"m{_t}")
            + f" end) as v{_t}_{j}"
            for j in range(_D)
        )
        # project ONLY the matrix + current iterate forward: a `select *`
        # chain would snowball to ~1500 columns by the last sweep and
        # multiply DuckDB's planning cost.
        _ccl = ", ".join(
            f"cc{j}_{k}" for j in range(_D) for k in range(_D)
        )
        _carry = _ccl if _t == 1 else _ccl + ", " + ", ".join(_prev)
        _its.append(f"iu{_t} as materialized (select {_carry}, {_us} from "
                    f"{'cshr' if _t == 1 else 'iv' + str(_t - 1)})")
        _its.append(f"im{_t} as materialized (select *, {_m} from iu{_t})")
        _its.append(
            f"iv{_t} as materialized (select {_ccl}, {_vs} from im{_t})"
        )
        _prev = [f"v{_t}_{j}" for j in range(_D)]
    _T = similarity.PCA_ITERS
    _vlist = ", ".join(f"v{_T}_{j}" for j in range(_D))
    _rows = (
        f"select cast(generate_subscripts(l, 1) - 1 as int) as dim_idx,"
        f" unnest(l) as loading_milli"
        f" from (select [{_vlist}] as l from iv{_T})"
    )
    sql["pca_power_iteration"] = f"""
with q as (select {_qcols} from embeddings),
a as (select {", ".join(_aggs)} from q),
c as (select n, {_cexprs} from a),
d0 as (select *, {_cmax} as cmax from c),
d1 as (select *, cmax // {_CC} + 1 as dsh from d0),
cshr as (select *, {_shrunk} from d1),
{", ".join(_its)}
select dim_idx, cast(loading_milli as bigint) as loading_milli
from ({_rows}) where (select n from a) > 0
order by dim_idx
"""
    # DBSCAN truth: brute-force radius pairs, recursive-CTE reachability
    # over core-core edges (the near_dup_clusters closure shape), min
    # core-neighbor attachment for borders.
    sql["geo_dbscan"] = f"""
with recursive p as (
  select c_custkey as key,
         (c_custkey * c_custkey * {relational._GEO_QX}
          + c_custkey * {relational._GEO_AX}) % {relational.GEO_W} as x,
         (c_custkey * c_custkey * {relational._GEO_QY}
          + c_custkey * {relational._GEO_AY}) % {relational.GEO_W} as y
  from customer
),
pr as (
  select a.key as key_a, b.key as key_b
  from p a join p b on a.key != b.key
  where (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {relational.GEO_R * relational.GEO_R}
),
cnt as (select key_a as key, count(*) as n_neighbors from pr group by 1),
pts as (
  select p.key, coalesce(c.n_neighbors, 0) as n_neighbors
  from p left join cnt c on c.key = p.key
),
core as (select key from pts where n_neighbors >= {relational.GEO_MINPTS}),
ce as (
  select key_a as a, key_b as b from pr
  where key_a < key_b
    and key_a in (select key from core)
    and key_b in (select key from core)
),
e2 as (select a, b from ce union select b, a from ce),
walk(id, r) as (
  select key, key from core
  union
  select w.id, e.b from walk w join e2 e on e.a = w.r
),
lab as (select id as key, min(r) as cid from walk group by 1),
border as (
  select pr.key_a as key, min(l.cid) as cid
  from pr join lab l on l.key = pr.key_b
  where pr.key_a not in (select key from core)
  group by 1
)
select pts.key, cast(pts.n_neighbors as bigint) as n_neighbors,
       case when l.cid is not null then 'core'
            when b.cid is not null then 'border' else 'noise' end as role,
       cast(coalesce(l.cid, b.cid, -1) as bigint) as cluster_id
from pts
left join lab l on l.key = pts.key
left join border b on b.key = pts.key
order by pts.key
"""
    # Crawl-frontier truth: compose the three signal oracles (identical
    # graph/rule arithmetic) and replay the depth-discounted top-K.
    sql["crawl_frontier"] = f"""
with pr as ({sql["link_graph_pagerank"]}),
bfs as ({sql["bfs_hop_distance"]}),
rg as ({sql["robots_gate"]})
select b.doc_id, b.hop, p.pr_ppb,
       p.pr_ppb // (1::bigint << b.hop) as priority_ppb
from bfs b
join rg on rg.doc_id = b.doc_id and rg.verdict = 'allow'
join pr p on p.doc_id = b.doc_id
where b.hop >= 1
order by priority_ppb desc, b.doc_id
limit {web_extract.FRONTIER_K}
"""
    # Politeness truth: the frontier CTE striped by per-host rank.
    sql["politeness_schedule"] = f"""
with fr as ({sql["crawl_frontier"]})
select doc_id, 'site' || (doc_id % 5) || '.com' as host, hop,
       priority_ppb,
       cast(row_number() over (partition by doc_id % 5
              order by priority_ppb desc, doc_id) - 1 as int) as slot
from fr
order by host, slot
"""
    # Cross-source dup matrix: the verified-pair truth labeled with
    # sources, same canonical cell + possible-pairs normalization.
    sql["cross_source_dup_matrix"] = f"""
with lsh as ({_LSH_ORACLE}),
cells as (
  select least(da.source, db.source) as source_a,
         greatest(da.source, db.source) as source_b,
         count(*) as pair_count
  from lsh
  join documents da on da.doc_id = lsh.doc_a
  join documents db on db.doc_id = lsh.doc_b
  group by 1, 2
),
cnt as (select source, count(*) as n from documents group by 1)
select c.source_a, c.source_b, c.pair_count,
       ca.n as docs_a, cb.n as docs_b,
       greatest(case when c.source_a = c.source_b
                then (ca.n * (ca.n - 1)) // 2
                else ca.n * cb.n end, 1) as possible_pairs,
       (2 * c.pair_count * 1000000
        + greatest(case when c.source_a = c.source_b
                   then (ca.n * (ca.n - 1)) // 2
                   else ca.n * cb.n end, 1))
       // (2 * greatest(case when c.source_a = c.source_b
                        then (ca.n * (ca.n - 1)) // 2
                        else ca.n * cb.n end, 1)) as rate_ppm
from cells c
join cnt ca on ca.source = c.source_a
join cnt cb on cb.source = c.source_b
order by c.source_a, c.source_b
"""
    # Co-visitation truth: identical session cut + lead transition in
    # DuckDB windows.
    sql["session_covisitation"] = f"""
with s as (
  select user_id, ts, event_id,
         (event_id * 13) % {relational.COVISIT_ITEMS} as item,
         case when epoch(ts) - epoch(lag(ts) over
                (partition by user_id order by ts, event_id)) >= 1800
              then 1 else 0 end as new_sess
  from events
),
sess as (
  select *, sum(new_sess) over
           (partition by user_id order by ts, event_id
            rows unbounded preceding) as session_id
  from s
),
tr as (
  select item,
         lead(item) over (partition by user_id, session_id
                          order by ts, event_id) as next_item
  from sess
)
select item as item_a, next_item as item_b, count(*) as n_covisits
from tr where next_item is not null and next_item != item
group by 1, 2
order by item_a, item_b
"""
    # SoftDeDup reweighting: the near_dup_clusters truth (recursive-CTE
    # components over the verified-pair SQL) joined back to token counts;
    # weight = half-away ppm of 1/cluster_size.
    sql["soft_dedup_weights"] = f"""
with nd as ({sql["near_dup_clusters"]})
select nd.doc_id, nd.cluster_id, nd.cluster_size,
       cast(len(string_split(d.text, ' ')) as int) as n_tokens,
       cast((2 * 1000000 + nd.cluster_size) // (2 * nd.cluster_size)
            as bigint) as weight_ppm,
       cast(len(string_split(d.text, ' '))
            * ((2 * 1000000 + nd.cluster_size) // (2 * nd.cluster_size))
            as bigint) as weighted_tokens
from nd join documents d using (doc_id)
order by nd.doc_id
"""
    # GroupKFold truth: same cluster labels, fold = multiplicative hash
    # of the cluster id mod K (identical integer arithmetic).
    sql["group_kfold_split"] = f"""
with nd as ({sql["near_dup_clusters"]})
select doc_id, cluster_id, cluster_size,
       cast(((cluster_id * {relational.KMV_HASH_A}) % {relational.KMV_HASH_M})
            % {dedup.KFOLD_K} as int) as fold
from nd order by doc_id
"""
    # Padding-waste truth: the naive global row_number forms (DuckDB is
    # single-node; the Spark side uses the two-pass bucketed rank, which
    # is bit-equal by construction), then identical batch arithmetic.
    sql["padding_waste_audit"] = f"""
with d as (
  select doc_id, len(string_split(text, ' ')) as n_tokens from documents
),
r as (
  select 'arrival' as strategy,
         row_number() over (order by doc_id) as rk, n_tokens from d
  union all
  select 'sorted', row_number() over (order by n_tokens, doc_id), n_tokens
  from d
),
b as (
  select strategy, (rk - 1) // {text_analysis.PAD_BATCH} as batch,
         count(*) as cnt, sum(n_tokens) as actual, max(n_tokens) as mx
  from r group by 1, 2
),
p as (
  select strategy, count(*) as n_batches, sum(actual) as actual_tokens,
         sum(cnt * mx) as padded_tokens
  from b group by 1
)
select strategy, cast(n_batches as bigint) as n_batches,
       cast(actual_tokens as bigint) as actual_tokens,
       cast(padded_tokens as bigint) as padded_tokens,
       cast((2 * (padded_tokens - actual_tokens) * 1000000 + padded_tokens)
            // (2 * padded_tokens) as bigint) as waste_ppm
from p order by strategy
"""
    # Audio near-dup: fully ANALYTIC oracle — DuckDB regenerates the
    # group-structured NAUD1 window waveforms from the shared integer
    # formula, fingerprints each window by its sum_abs:energy pair, and
    # replays the inverted-index pair join; the Spark side decodes real
    # container bytes.
    sql["audio_near_dup"] = f"""
with refs as (
  select 'aud://' || c_custkey as media_ref,
         c_custkey // {50 * media.AUDIO_DUP_GROUP} as g,
         (c_custkey // 50) % 2 as off
  from customer where c_custkey % 50 = 0
), wins as (
  select media_ref,
         ((g * {media._AUD_GRP_MUL} + off + i) * {media._AUD_SEED_MUL})
           % {media._AUD_SEED_MOD} as seed
  from refs, range({media.AUDIO_DUP_WINS}) t(i)
), samp as (
  select media_ref, seed,
         ((seed + j * {media._AUD_STEP}) % 65536) - 32768 as s
  from wins, range({media.AUDIO_WIN}) t2(j)
), fp as (
  select media_ref, seed, sum(abs(s)) || ':' || sum(s * s) as h
  from samp group by 1, 2
), p as (
  select a.media_ref as ref_a, b.media_ref as ref_b, count(*) as shared
  from fp a join fp b on a.h = b.h and a.media_ref < b.media_ref
  group by 1, 2
)
select ref_a, ref_b, shared,
       (shared * 1000000) // ({2 * media.AUDIO_DUP_WINS} - shared)
         as jaccard_ppm
from p
where (shared * 1000000) // ({2 * media.AUDIO_DUP_WINS} - shared)
      >= {media.AUDIO_DUP_MIN_PPM}
order by ref_a, ref_b
"""
    sql["sequential_sign_test"] = f"""
with daily as (
  select cast(ts as date) as day,
         sum(case when user_id % 2 = 0 then 1 else 0 end) as n0,
         sum(case when user_id % 2 = 0
               then cast(round(value * 100) as bigint) else 0 end) as s0,
         sum(case when user_id % 2 = 1 then 1 else 0 end) as n1,
         sum(case when user_id % 2 = 1
               then cast(round(value * 100) as bigint) else 0 end) as s1
  from events group by 1
),
win as (
  select day, case when s1 * n0 > s0 * n1 then 1 else 0 end as win
  from daily
),
cum as (
  select day,
         count(*) over (order by day
           rows between unbounded preceding and current row) as t,
         sum(win) over (order by day
           rows between unbounded preceding and current row) as wins
  from win
),
guarded as (
  select day, t, wins,
         case when t > {relational.SPRT_MAX_DAYS}
              then error('sequential sign test runs past SPRT_MAX_DAYS = '
                         || {relational.SPRT_MAX_DAYS} || ' days')
              else cast(power(3, wins) as bigint) end as lr_num
  from cum
),
staged as (
  select day, t, wins, lr_num,
    case
      when lr_num >= 16 * cast(power(2, t) as bigint) then 'reject_h0'
      when 19 * lr_num <= 4 * cast(power(2, t) as bigint) then 'accept_h0'
      else 'continue' end as decision
  from guarded
)
select day, cast(t as bigint) as t, cast(wins as bigint) as wins,
       lr_num, decision,
       cast(case when decision <> 'continue'
                  and coalesce(sum(case when decision <> 'continue'
                        then 1 else 0 end) over (order by day
                        rows between unbounded preceding and 1 preceding),
                      0) = 0
            then 1 else 0 end as int) as first_decision
from staged order by day
"""

    return sql


def _eval_end2end_oracle() -> str:
    from ocr_spark.operators.evalmetrics import (
        PERT_CORRUPT_PCT,
        PERT_DROP_PCT,
        PERT_SPUR_MOD,
    )

    gt_path = _eval_gt_path("sf0.01-oracle-default")
    return f"""
with recursive gt as (
  select * from read_parquet('{gt_path}')
),
baseu as (
  select *,
    (('0x' || substr(md5(page_id || ':' || gt_id::varchar), 1, 8))::bigint)
      as h1,
    (('0x' || substr(md5(page_id || ':' || gt_id::varchar), 1, 8))::bigint)
      % 100 as u
  from gt
),
pred as (
  select page_id, gt_id as dt_id,
         x + h1 % 7 - 3 as x,
         y + (h1 // 7) % 5 - 2 as y,
         w - h1 % 3 as w,
         h,
         case when u >= {PERT_CORRUPT_PCT} then text || 'x' else text end
           as text
  from baseu where u >= {PERT_DROP_PCT}
  union all
  select page_id, gt_id + 100000, x + 100000, y, 40, 10, 'spurious'
  from baseu where u % {PERT_SPUR_MOD} = 0
),
cand as (
  select page_id, gt_id, dt_id,
         (inter * 1000000000) // (areas - inter) as iou_ppb
  from (
    select g.page_id, g.gt_id, p.dt_id,
           greatest(0, least(p.x + p.w, g.x + g.w) - greatest(p.x, g.x))
         * greatest(0, least(p.y + p.h, g.y + g.h) - greatest(p.y, g.y))
           as inter,
           p.w * p.h + g.w * g.h as areas
    from gt g join pred p using (page_id)
  ) where 2 * inter >= areas - inter
),
ranked as (
  select *, row_number() over (partition by page_id
             order by iou_ppb desc, gt_id, dt_id) as r
  from cand
),
sel as (
  select page_id, 0::bigint as r,
         cast([] as bigint[]) as gts, cast([] as bigint[]) as dts
  from (select distinct page_id from ranked)
  union all
  select k.page_id, k.r::bigint,
         case when list_contains(s.gts, k.gt_id)
                or list_contains(s.dts, k.dt_id)
              then s.gts else list_append(s.gts, k.gt_id) end,
         case when list_contains(s.gts, k.gt_id)
                or list_contains(s.dts, k.dt_id)
              then s.dts else list_append(s.dts, k.dt_id) end
  from sel s join ranked k on k.page_id = s.page_id and k.r = s.r + 1
),
matched as (
  select k.page_id, k.gt_id, k.dt_id
  from ranked k join sel s on s.page_id = k.page_id and s.r = k.r - 1
  where not list_contains(s.gts, k.gt_id)
    and not list_contains(s.dts, k.dt_id)
),
m as (
  select coalesce(sum((g.text = p.text)::bigint), 0) as hit,
         coalesce(sum(levenshtein(g.text, p.text)), 0) as ed_m,
         coalesce(sum(length(g.text)), 0) as chars_m,
         count(*) as n_matched
  from matched mm
  join gt g on g.page_id = mm.page_id and g.gt_id = mm.gt_id
  join pred p on p.page_id = mm.page_id and p.dt_id = mm.dt_id
  where g.ign = 0
),
udt as (
  select coalesce(sum(length(p.text)), 0) as ed_udt, count(*) as n_udt
  from pred p
  where not exists (select 1 from matched mm
                    where mm.page_id = p.page_id and mm.dt_id = p.dt_id)
),
ugt as (
  select coalesce(sum(length(g.text)), 0) as ed_ugt, count(*) as n_ugt
  from gt g
  where g.ign = 0
    and not exists (select 1 from matched mm
                    where mm.page_id = g.page_id and mm.gt_id = g.gt_id)
),
pg as (select count(distinct page_id) as n_pages from gt),
tot as (
  select pg.n_pages::bigint as n_pages,
         m.hit::bigint as hit,
         (m.n_matched + udt.n_udt)::bigint as dt_count,
         (m.n_matched + ugt.n_ugt)::bigint as gt_count,
         (m.ed_m + udt.ed_udt + ugt.ed_ugt)::bigint as ed_sum,
         (m.chars_m + ugt.ed_ugt)::bigint as num_gt_chars
  from m, udt, ugt, pg
)
select *,
       (hit * 1000000) // greatest(dt_count, 1) as precision_ppm,
       (hit * 1000000) // greatest(gt_count, 1) as recall_ppm,
       (2 * ((hit * 1000000) // greatest(dt_count, 1))
          * ((hit * 1000000) // greatest(gt_count, 1)))
        // greatest((hit * 1000000) // greatest(dt_count, 1)
                  + (hit * 1000000) // greatest(gt_count, 1), 1)
         as fmeasure_ppm,
       1000000 - (ed_sum * 1000000) // greatest(num_gt_chars, 1)
         as char_acc_ppm,
       (ed_sum * 1000000) // greatest(n_pages, 1) as avg_ed_img_ppm
from tot
"""
