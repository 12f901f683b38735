"""LLM-data-pipeline operator packs (SURVEY.md §7 extension tier).

DataFrame → DataFrame library functions, all designed partition-parallel for
100 TB scale: no driver-side collects, native Column expressions wherever the
semantics allow, Arrow-batched UDFs only where an expression would run
per element in the interpreter (simhash, lang_id scoring), and LSH-style
bucketing so nothing is O(n²) across the corpus.
"""

from .corpus import (balanced_shards, bloom_contains, boilerplate_lines,
                     contamination, corpus_report,
                     contamination_bloom, contamination_score, decontaminate,
                     cap_per_stratum, curriculum_stages, dsir_sample, dsir_weights,
                     mine_contrastive_pairs, rank_fusion,
                     length_buckets, mix_corpora, pack_sequences,
                     remove_boilerplate, select_by_budget,
                     semantic_contamination_score, semantic_decontaminate,
                     shingle_bloom,
                     split_corpus, stratified_sample, temperature_mixture,
                     weighted_sample)
from .dedup import (containment_dedup, containment_pairs,
                    cross_doc_line_dedup,
                    dedup_clusters,
                    dedup_quality_report,
                    minhash_index, minhash_lsh_candidates_incremental,
                    simhash_near_dups, word_shingles,
                    deletion_variants_col, exact_dedup,
                    exact_dedup_incremental,
                    exact_substring_dedup,
                    exact_substring_dedup_incremental,
                    exact_substring_index, exact_substring_spans,
                    fuzzy_dup_pairs, hamming_near_dups, kgram_anchors,
                    leakage_free_split,
                    minhash_lsh_candidates,
                    minhash_signature, near_dedup, ngram_jaccard_pairs,
                    semantic_dedup, semantic_dedup_incremental,
                    semantic_dedup_losers, simhash)
from .multimodal import (extract_media_metadata, media_dedup_keys,
                         media_phash, media_phash_near_dups, png_gray32,
                         register_codec, sample_frames)
from .bpe import (bpe_encode, bpe_pair_counts, merges_df, train_bpe,
                  word_freqs)
from .embed import embed_text, register_embedder
from .expectations import (check_expectations, dataset_fingerprint,
                           export_manifest,
                           referential_orphans, referential_report,
                           unique_report)
from .similarity import (ann_recall_report, assign_cells_vectorized,
                         brute_force_topk,
                         cluster_embeddings,
                         cluster_profile, cosine_pairs,
                         cosine_pairs_scoped, cosine_similarity_col,
                         dequantize_col, ivf_ann_topk, ivf_append_index,
                         ivf_centroids_kmeans, ivf_knn_join, knn_join,
                         ivf_centroids, ivf_query_index, ivf_write_index,
                         kcenter_assign, kcenter_sample,
                         lsh_ann_topk, prefix_rescore_topk,
                         quantization_stats, truncate_embeddings,
                         quantize_embeddings, release_cosine_cache)
from .behavior import (decayed_agg, event_ngrams, funnel_report,
                       funnel_stages, retention_cohorts,
                       transition_matrix)
from .text import (bigram_nll, bpe_ish_token_count, canonical_url_col,
                   kn_bigram_nll,
                   ngram_novelty, ngram_novelty_incremental,
                   normalize_unicode, novelty_index,
                   chunk_text, clean_text, release_tfidf_cache,
                   shingle_fingerprint,
                   doc_fingerprint, filter_by_domain, fit_linear_classifier,
                   gopher_rules,
                   lang_id, url_dedup,
                   line_dup_ratio, linear_text_classifier, redact_pii,
                   repetition_signals, tf_idf, top_ngrams, unigram_nll,
                   url_domain_col, url_domain_counts, quality_score,
                   token_count, tokenize)
from .graph import graph_report, pagerank, release_pagerank_cache
from .linalg import (gram_matrix_df, moments, pca_fit, pca_project)
from .pq import (ivfpq_append_index, ivfpq_index, ivfpq_knn_join,
                 ivfpq_query_index, ivfpq_topk,
                 ivfpq_write_index, pq_adc_topk, pq_codebooks,
                 pq_decode_col, pq_encode, pq_encode_col, pq_knn_join,
                 pq_reconstruction_report)
from .skew import salted_join, skew_report
from .layout import (compact_parquet, shuffle_key, write_shuffled,
                     write_zordered, zorder_key)
from .stats import (embedding_drift_reference, embedding_drift_report,
                    frequent_items,
                    frequent_items_by_group,
                    frequent_tokens, histogram, psi_report,
                    table_profile, tdigest_agg_col, tdigest_merge2_col,
                    tdigest_merge_col, tdigest_quantile_col,
                    tdigest_sketch)
from .rollup import (aggregate_rollup, incremental_rollup,
                     merge_rollup_joined, merge_rollups)
from .window import global_running_total, sessionize, time_rollup
from .util import ensure_parallelism
