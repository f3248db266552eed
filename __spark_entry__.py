"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship dedup pipeline on sf0.001 documents.
queries()      -> operator surface from SURVEY.md §2, each over the shared
                  testdata tables.
oracle_sql()   -> DuckDB SQL recomputing the same result (incl. the full
                  SimHash/MinHash signature pipeline in SQL) for the driver's
                  differential gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline (signatures -> exact ∪ banded-Hamming
    ∪ containment pairs -> union-find clusters) over sf0.001 documents."""
    from intraarchivededuplicator_spark.config import DedupConfig
    from intraarchivededuplicator_spark.engine.pipeline import dedup_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.col("text"),
        F.col("lang"),
    )
    out = dedup_pipeline(
        spark, pages, DedupConfig(hot_band_threshold=1000), extract=False
    )
    return out["clusters"].select("id", "url", "cluster_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every gated query: `oracle_sql()` is the one list, and key `n` runs
    `plans.queries.q_<n>`. To gate a new query, write `q_<name>` there and
    add its `oracle_sql()` entry."""
    from intraarchivededuplicator_spark.plans import queries as q

    return {n: getattr(q, "q_" + n) for n in oracle_sql()}


def oracle_sql() -> dict[str, str]:
    from intraarchivededuplicator_spark.functions.dsir import DSIR_B
    from intraarchivededuplicator_spark.plans import oracle as o
    from intraarchivededuplicator_spark.plans import queries as q
    from intraarchivededuplicator_spark.plans.queries import (
        EMB_DIM,
        EMB_SCALE,
        K_SHINGLE,
        LANG_MARKERS,
        ORACLE_MINHASH,
        SEARCH_RADIUS,
        SIMHASH_RADIUS,
    )

    return {
        "exact_dup_groups": o.sql_exact_dup_groups(),
        "exact_hash_rows": o.sql_exact_hash_rows(),
        "simhash_signatures": o.sql_simhash_signatures(),
        "simhash_radius_pairs": o.sql_simhash_radius_pairs(SIMHASH_RADIUS),
        "near_pairs_within_horizon": o.sql_near_pairs_within_horizon(
            SIMHASH_RADIUS, q.NEAR_HORIZON_SEC
        ),
        "incremental_near_pairs": o.sql_incremental_near_pairs(
            SIMHASH_RADIUS, q.INCR_NEW_MOD
        ),
        # the streaming replay emits the SAME pair set as its batch twin
        # (equivalence pinned in tests/test_streaming_near_dedup.py), so the
        # identical oracle applies to the real applyInPandasWithState run
        "stream_near_dedup_replay": o.sql_near_pairs_within_horizon(
            SIMHASH_RADIUS, q.NEAR_HORIZON_SEC
        ),
        "stream_exact_dedup_replay": o.sql_stream_exact_dedup(
            q.NEAR_HORIZON_SEC
        ),
        "simhash_radius_search": o.sql_simhash_radius_search(SEARCH_RADIUS),
        # ProbeSession's batched shape is row-identical to the join-based
        # radius search by contract, so the same oracle applies
        "probe_session_search": o.sql_simhash_radius_search(SEARCH_RADIUS),
        "simhash_clusters": o.sql_simhash_clusters(SIMHASH_RADIUS),
        "dedup_cluster_stats": o.sql_dedup_cluster_stats(SIMHASH_RADIUS),
        "dedup_keep_list": o.sql_dedup_keep_list(SIMHASH_RADIUS),
        "dedup_funnel": o.sql_dedup_funnel(SIMHASH_RADIUS),
        "soft_dedup_weights": o.sql_soft_dedup_weights(SIMHASH_RADIUS),
        "quality_funnel": o.sql_quality_funnel(
            q.STOPWORDS,
            q.FUNNEL_MIN_TOKENS,
            q.FUNNEL_MAX_STOP_RATIO,
            q.FUNNEL_MIN_DISTINCT_RATIO,
        ),
        "perplexity_buckets": o.sql_perplexity_buckets(
            q.CHARLM_TRAIN_MOD, q.PPL_BUCKETS
        ),
        "token_entropy": o.sql_token_entropy(q.TTR_Q),
        "gram_novelty_by_batch": o.sql_gram_novelty_by_batch(
            K_SHINGLE, q.NOVELTY_BATCH
        ),
        "multi_signal_clusters": o.sql_multi_signal_clusters(
            SIMHASH_RADIUS, ORACLE_MINHASH, K_SHINGLE, 4, 4
        ),
        "dedup_ablation": o.sql_dedup_ablation(
            SIMHASH_RADIUS, ORACLE_MINHASH, K_SHINGLE, 4, 4
        ),
        "ivf_cell_stats": o.sql_ivf_cell_stats(EMB_SCALE, 16),
        "anchor_text_profile": o.sql_anchor_text_profile(q.ANCHOR_TERMS),
        "simhash_pair_precision": o.sql_simhash_pair_precision(
            SIMHASH_RADIUS, K_SHINGLE, q.PRECISION_TAU
        ),
        "domain_dup_affinity": o.sql_domain_dup_affinity(SIMHASH_RADIUS),
        "cluster_diameter_stats": o.sql_cluster_diameter_stats(
            SIMHASH_RADIUS
        ),
        "simhash_hot_bands": o.sql_simhash_hot_bands(
            SIMHASH_RADIUS + 1, 1
        ),
        "best_simhash_match": o.sql_best_simhash_match(SEARCH_RADIUS),
        "best_matching_source": o.sql_best_matching_source(SEARCH_RADIUS),
        "similar_sources_truncated": o.sql_similar_sources_truncated(
            q.TRUNC_RADIUS
        ),
        "quality_match_counts": o.sql_quality_match_counts(SEARCH_RADIUS),
        "source_uniqueness": o.sql_source_uniqueness(SEARCH_RADIUS),
        "match_count_histogram": o.sql_match_count_histogram(SIMHASH_RADIUS),
        "minhash_signatures_long": o.sql_minhash_long(ORACLE_MINHASH, K_SHINGLE),
        "minhash_band_pairs": o.sql_minhash_band_pairs(
            ORACLE_MINHASH, K_SHINGLE, n_bands=4, rows_per_band=4
        ),
        "minhash_jaccard_estimate": o.sql_minhash_jaccard_estimate(
            ORACLE_MINHASH, K_SHINGLE, n_bands=4, rows_per_band=4
        ),
        "minhash_dedup_clusters": o.sql_minhash_dedup_clusters(
            ORACLE_MINHASH, K_SHINGLE, n_bands=4, rows_per_band=4
        ),
        "minhash_recall_audit": o.sql_minhash_recall_audit(
            ORACLE_MINHASH, K_SHINGLE, n_bands=4, rows_per_band=4
        ),
        "ngram_jaccard_pairs": o.sql_ngram_jaccard_pairs(3, 0.8),
        "title_typo_pairs": o.sql_title_typo_pairs(),
        "containment_pairs": o.sql_containment_pairs(K_SHINGLE),
        "containment_pairs_winnowed": o.sql_containment_pairs(K_SHINGLE),
        "doc_stats": o.sql_doc_stats(),
        "token_stats_bpe": o.sql_token_stats_bpe(),
        "lang_top_terms": o.sql_lang_top_terms(),
        "vocab_stats": o.sql_vocab_stats(),
        "pair_distance_histogram": o.sql_pair_distance_histogram(
            q.PAIR_HIST_RADIUS
        ),
        "langid_heuristic": o.sql_langid_heuristic(LANG_MARKERS),
        "langid_confusion": o.sql_langid_confusion(LANG_MARKERS),
        "doc_fingerprint": o.sql_doc_fingerprint(K_SHINGLE),
        "contamination_overlap": o.sql_contamination_overlap(
            K_SHINGLE, q.CONTAM_PROBE_MOD
        ),
        "doc_repetition_stats": o.sql_doc_repetition_stats(),
        "dup_gram_stats": o.sql_dup_gram_stats(K_SHINGLE),
        "dup_span_stats": o.sql_dup_span_stats(K_SHINGLE),
        "dup_span_removal": o.sql_dup_span_removal(
            K_SHINGLE, q.DUP_SPAN_RMIN
        ),
        "heavy_hitter_grams": o.sql_heavy_hitter_grams(
            K_SHINGLE, q.HH_MIN_DF
        ),
        "charlm_quality": o.sql_charlm_quality(
            q.CHARLM_TRAIN_MOD, q.CHARLM_MAX_NLP
        ),
        "cdc_chunk_stats": o.sql_cdc_chunk_stats(q.CDC_W_GATE, q.CDC_MOD_GATE),
        "length_quantiles": o.sql_length_quantiles(),
        "domain_link_graph": o.sql_domain_link_graph(),
        "domain_pagerank": o.sql_domain_pagerank(q.PR_SCALE, q.PR_ITERS),
        "doc_salient_terms": o.sql_doc_salient_terms(),
        "url_canonicalize": o.sql_url_canonicalize(),
        "url_latest_snapshot": o.sql_url_latest_snapshot(),
        "url_revisit_diff": o.sql_url_revisit_diff(),
        "line_dup_stats": o.sql_line_dup_stats(),
        "boilerplate_strip": o.sql_boilerplate_strip(),
        "pii_scrub": o.sql_pii_scrub(),
        "bloom_dedup_incremental": o.sql_bloom_dedup_incremental(
            q.BLOOM_M_GATE, q.BLOOM_K_GATE
        ),
        "sequence_pack_offsets": o.sql_sequence_pack_offsets(q.PACK_CAP_GATE),
        "pack_efficiency": o.sql_pack_efficiency(q.PACK_CAP_GATE),
        "dedup_key_normalize": o.sql_dedup_key_normalize(),
        "embedding_knn": o.sql_embedding_knn(EMB_SCALE, 3),
        "embedding_knn_ann": o.sql_embedding_knn_ann(
            EMB_DIM, EMB_SCALE, k=3, hamming_radius=28, n_bands=8
        ),
        "embedding_knn_ivf": o.sql_embedding_knn_ivf(
            EMB_SCALE, k=3, n_cells=16, nprobe=4
        ),
        "embedding_near_pairs": o.sql_embedding_near_pairs(EMB_SCALE, 0.4),
        "embedding_near_pairs_ann": o.sql_embedding_near_pairs_ann(
            EMB_DIM, EMB_SCALE, threshold=0.4, hamming_radius=28, n_bands=8
        ),
        "embedding_near_pairs_ivf": o.sql_embedding_near_pairs_ivf(
            EMB_SCALE, threshold=0.4, n_cells=16, nprobe=4
        ),
        "embedding_dup_clusters": o.sql_embedding_dup_clusters(
            EMB_SCALE, threshold=0.4, n_cells=16, nprobe=4
        ),
        "ann_recall_audit": o.sql_ann_recall_audit(
            EMB_SCALE, k=3, n_cells=16, nprobe=4
        ),
        "lsh_recall_audit": o.sql_lsh_recall_audit(
            EMB_DIM, EMB_SCALE, k=3, hamming_radius=28, n_bands=8
        ),
        "source_prefix_scan": o.sql_source_prefix_scan("src1", K_SHINGLE),
        "masked_match_candidates": o.sql_masked_match_candidates(
            ORACLE_MINHASH, K_SHINGLE, n_bands=4, rows_per_band=4,
            positive=q.MASK_POSITIVE, negative=q.MASK_NEGATIVE,
            keywords=q.MASK_KEYWORDS,
        ),
        "site_doc_groups": o.sql_site_doc_groups(),
        "minhash_pairs_cross_source": o.sql_minhash_pairs_cross_source(
            ORACLE_MINHASH, K_SHINGLE, n_bands=4, rows_per_band=4
        ),
        "source_integrity": o.sql_source_integrity(),
        "deterministic_sample": o.sql_deterministic_sample(),
        "stratified_sample": o.sql_stratified_sample(
            *q.STRATA_BANDS, q.STRATA_K
        ),
        "shard_balance": o.sql_shard_balance(q.N_SHARDS),
        "train_split_leakage": o.sql_train_split_leakage(
            SIMHASH_RADIUS, q.SPLIT_MOD, q.SPLIT_TRAIN_HI
        ),
        "dsir_weights": o.sql_dsir_weights(DSIR_B),
        "token_yield_funnel": o.sql_token_yield_funnel(SIMHASH_RADIUS),
        "cluster_best_rep": o.sql_cluster_best_rep(
            SIMHASH_RADIUS,
            q.STOPWORDS,
            q.QUALITY_MIN_TOKENS,
            q.QUALITY_MAX_STOP_RATIO,
            q.QUALITY_MIN_DISTINCT_RATIO,
        ),
        "signal_agreement": o.sql_signal_agreement(
            SIMHASH_RADIUS, ORACLE_MINHASH, K_SHINGLE,
            n_bands=4, rows_per_band=4,
        ),
        "source_dedup_savings": o.sql_source_dedup_savings(SIMHASH_RADIUS),
        "kmv_cardinality": o.sql_kmv_cardinality(q.KMV_K, K_SHINGLE),
        "stream_embedding_near_dup_replay": o.sql_stream_embedding_near_pairs(
            EMB_DIM, EMB_SCALE, q.EMB_STREAM_RADIUS, q.NEAR_HORIZON_SEC,
        ),
        "incremental_embedding_near_pairs": o.sql_incremental_embedding_near_pairs(
            EMB_DIM, EMB_SCALE, q.EMB_STREAM_RADIUS, q.INCR_NEW_MOD,
        ),
        "media_decode_dims": o.sql_media_decode_dims(),
        "media_near_dup_pairs": o.sql_media_near_dup_pairs(3),
        "media_near_dup_pairs_ivf": o.sql_media_near_dup_pairs(3),
        "media_resized_dims": o.sql_media_resized_dims(),
        "media_frame_sample": o.sql_media_frame_sample(2),
        "catalog_merge_roundtrip": o.sql_catalog_merge_roundtrip(),
        "html_extract_roundtrip": o.sql_html_extract_roundtrip(),
        "mime_fixup": o.sql_mime_fixup(q.MIME_VARIANTS),
        "incremental_ingest_roundtrip": o.sql_incremental_ingest_roundtrip(),
        "junk_flags": o.sql_junk_flags(),
        "text_quality": o.sql_text_quality(
            q.STOPWORDS,
            q.QUALITY_MIN_TOKENS,
            q.QUALITY_MAX_STOP_RATIO,
            q.QUALITY_MIN_DISTINCT_RATIO,
        ),
        "source_quality_rollup": o.sql_source_quality_rollup(
            q.STOPWORDS,
            q.QUALITY_MIN_TOKENS,
            q.QUALITY_MAX_STOP_RATIO,
            q.QUALITY_MIN_DISTINCT_RATIO,
            q.SRC_MIN_PASS_FRAC,
            q.SRC_MAX_DUP_FRAC,
        ),
        "domain_quota_topk": o.sql_domain_quota_topk(
            q.STOPWORDS,
            q.QUALITY_MIN_TOKENS,
            q.QUALITY_MAX_STOP_RATIO,
            q.QUALITY_MIN_DISTINCT_RATIO,
            q.DOMAIN_QUOTA_K,
        ),
        "user_sessions": o.sql_user_sessions(1800),
        "stream_sessions_replay": o.sql_stream_sessions(1800),
        "events_hourly_rate": o.sql_events_hourly_rate(),
        "crawl_rate_hourly": o.sql_crawl_rate_hourly(),
        "orders_by_priority_month": o.sql_orders_by_priority_month(),
        "nation_revenue": o.sql_nation_revenue(),
        "lineitem_pricing_summary": o.sql_lineitem_pricing_summary(),
    }
