from computer_vision_foundations_spark.operators.split import (
    deterministic_split,
    kfold_assignment,
    temporal_split,
    train_test_split,
)
from computer_vision_foundations_spark.operators.dedup import (
    edit_similarity_pairs,
    embedding_near_duplicates,
    exact_duplicates,
    incremental_exact_duplicates,
    incremental_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_column,
    simhash_pairs,
    winnow_near_duplicates,
)
from computer_vision_foundations_spark.operators.similarity import (
    brute_force_knn,
    ivf_flat_knn,
    lsh_bucketed_knn,
    multiprobe_lsh_knn,
)
from computer_vision_foundations_spark.operators.quantization import (
    ivf_pq_topk,
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
    sq8_encode,
    sq8_minmax,
    sq8_topk,
)
from computer_vision_foundations_spark.operators.retrieval import bm25_topk, rrf_fuse
from computer_vision_foundations_spark.operators.pagerank import pagerank
from computer_vision_foundations_spark.operators.bpe import (
    bpe_encode,
    bpe_train,
    bpe_word_counts,
)
from computer_vision_foundations_spark.operators.rollup import gap_fill_locf
from computer_vision_foundations_spark.operators.funnel import (
    event_transition_matrix,
    funnel_counts,
    funnel_max_step,
    retention_cohorts,
)
from computer_vision_foundations_spark.operators.perplexity import (
    bigram_frequencies,
    bigram_logprob_scores,
    unigram_frequencies,
    unigram_logprob_scores,
)
from computer_vision_foundations_spark.operators.sample import (
    bottom_k_sample,
    group_cap_sample,
    weighted_sample_k,
)
from computer_vision_foundations_spark.operators.clustering import (
    kmeans_assign,
    kmeans_fit,
    kmeans_update_table,
)
from computer_vision_foundations_spark.operators.vocab import (
    pmi_bigrams,
    vocab_top_k,
)
from computer_vision_foundations_spark.operators.decontaminate import (
    contamination_pairs,
    decontaminate,
)
from computer_vision_foundations_spark.operators.evaluation import (
    ann_recall,
    mean_recall,
)
from computer_vision_foundations_spark.operators.mixture import (
    hash_unit,
    mixture_fractions,
    mixture_sample,
    mixture_sample_with_repetition,
    temperature_fractions,
    top_fraction_per_group,
)
from computer_vision_foundations_spark.operators.score import score_with
from computer_vision_foundations_spark.operators.skew import skew_profile
from computer_vision_foundations_spark.operators.skewjoin import salted_join
from computer_vision_foundations_spark.operators.asof import as_of_join
from computer_vision_foundations_spark.operators.ranges import (
    interval_overlap_join,
    range_join,
)
from computer_vision_foundations_spark.operators.rollup import time_rollup
from computer_vision_foundations_spark.operators.components import (
    connected_components,
    dedup_clusters,
)
from computer_vision_foundations_spark.operators.chunking import (
    shard_assignment,
    chunk_documents,
    pack_sequences,
    redact_text,
)
from computer_vision_foundations_spark.operators.corpus import (
    prepare_training_corpus,
)
from computer_vision_foundations_spark.operators.fuzzy import fuzzy_match_pairs
from computer_vision_foundations_spark.operators.ann_index import (
    build_ivf_pq_index,
    load_index_meta,
    query_ivf_pq_index,
)
from computer_vision_foundations_spark.operators.cdc import (
    chunk_dedup_stats,
    content_chunks,
)
from computer_vision_foundations_spark.operators.diff import (
    snapshot_diff,
    snapshot_diff_counts,
)
from computer_vision_foundations_spark.operators.drift import volume_drift
from computer_vision_foundations_spark.operators.dsir import dsir_logratio_weights
from computer_vision_foundations_spark.operators.hits import hits, hits_oracle_sql
from computer_vision_foundations_spark.operators.mmr import mmr_select
from computer_vision_foundations_spark.operators.projection import (
    covariance_matrix,
    jl_sign_matrix,
    pca_fit,
    pca_project,
    random_projection,
)
from computer_vision_foundations_spark.operators.spans import (
    duplicated_span_islands,
    duplicated_span_stats,
)
from computer_vision_foundations_spark.operators.zorder import (
    layout_by_zorder,
    zorder_key,
)

__all__ = [
    "pagerank",
    "bpe_train",
    "bpe_encode",
    "bpe_word_counts",
    "retention_cohorts",
    "gap_fill_locf",
    "funnel_counts",
    "funnel_max_step",
    "kfold_assignment",
    "temporal_split",
    "event_transition_matrix",
    "edit_similarity_pairs",
    "multiprobe_lsh_knn",
    "sq8_encode",
    "sq8_minmax",
    "sq8_topk",
    "incremental_exact_duplicates",
    "incremental_lsh_candidates",
    "unigram_logprob_scores",
    "bigram_frequencies",
    "bigram_logprob_scores",
    "bottom_k_sample",
    "group_cap_sample",
    "weighted_sample_k",
    "deterministic_split",
    "train_test_split",
    "embedding_near_duplicates",
    "exact_duplicates",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash_column",
    "simhash_pairs",
    "winnow_near_duplicates",
    "brute_force_knn",
    "ivf_flat_knn",
    "lsh_bucketed_knn",
    "ann_recall",
    "contamination_pairs",
    "decontaminate",
    "hash_unit",
    "mixture_fractions",
    "mixture_sample",
    "mean_recall",
    "mixture_sample_with_repetition",
    "pmi_bigrams",
    "top_fraction_per_group",
    "temperature_fractions",
    "vocab_top_k",
    "pq_adc_topk",
    "ivf_pq_topk",
    "build_ivf_pq_index",
    "load_index_meta",
    "query_ivf_pq_index",
    "bm25_topk",
    "rrf_fuse",
    "kmeans_assign",
    "kmeans_fit",
    "kmeans_update_table",
    "pq_codebooks",
    "pq_encode",
    "salted_join",
    "skew_profile",
    "score_with",
    "as_of_join",
    "range_join",
    "interval_overlap_join",
    "time_rollup",
    "connected_components",
    "dedup_clusters",
    "chunk_documents",
    "pack_sequences",
    "redact_text",
    "shard_assignment",
    "prepare_training_corpus",
    "fuzzy_match_pairs",
    "layout_by_zorder",
    "zorder_key",
    "duplicated_span_islands",
    "duplicated_span_stats",
    "random_projection",
    "jl_sign_matrix",
    "covariance_matrix",
    "pca_fit",
    "pca_project",
    "hits",
    "dsir_logratio_weights",
    "content_chunks",
    "chunk_dedup_stats",
    "hits_oracle_sql",
    "mmr_select",
    "volume_drift",
    "snapshot_diff",
    "snapshot_diff_counts",
]
