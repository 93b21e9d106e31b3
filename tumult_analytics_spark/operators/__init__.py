"""Large-scale training-data pipeline operators (beyond the reference's DP
surface): deduplication, similarity search, text analysis, multimodal
plumbing. All are plain DataFrame -> DataFrame transformations designed for
100 TB inputs: Catalyst expressions where possible, Arrow-batched pandas
UDFs where not, and LSH/bucketing scale paths beside every brute-force
baseline."""

from .clustering import kmeans_fit_predict, semantic_dedup
from .dedup import (
    build_minhash_index,
    crosscorpus_decontaminate,
    dedup_against_index,
    dedup_exact,
    dedup_segments,
    embedding_cosine_dedup,
    extend_minhash_index,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    minhash_signatures_md5,
    ngram_jaccard_pairs,
    query_minhash_index,
    simhash,
)
from .multimodal import (
    attach_media_metadata,
    audio_frame_features,
    decode_audio,
    decode_image,
    dhash_images,
    extract_byte_histogram_features,
    sample_video_frames,
    synthesize_bmp,
    synthesize_gif,
    synthesize_jpeg,
    synthesize_ppm,
    synthesize_png,
    synthesize_raw_video,
    synthesize_wav,
    synthesize_wav_mulaw,
)
from .pipeline import (
    bloom_contamination,
    corpus_diff,
    curriculum_order,
    epoch_shuffle,
    split_dataset,
    bloom_filter_build,
    cap_per_group,
    cms_build,
    cms_estimate,
    gopher_quality_flags,
    length_bucketed_batches,
    cluster_representatives,
    connected_components,
    deterministic_uniform,
    pii_redact,
    recency_weighted_sample,
    soft_dedup_weights,
    domain_mix_weights,
    export_shards,
    mix_to_token_budget,
    ngram_contamination,
    ngram_repetition,
    pack_sequences,
    pii_stats,
    shard_id,
    sliding_chunks,
    stratified_sample,
)
from .temporal import (
    asof_join,
    funnel_conversion,
    retention_cohorts,
    sessionize,
    time_range_join,
)
from .similarity import (
    dedup_against_lsh_index,
    extend_lsh_index,
    AnnIndex,
    brute_force_cosine_topk,
    build_ivf_index,
    build_ivfpq_index,
    build_lsh_index,
    ivf_cosine_topk,
    lsh_cosine_topk,
    query_ivf_index,
    query_ivfpq_index,
    query_lsh_index,
    train_pq_codebooks,
)
from .provenance import mark_duplicates, mark_stage, provenance_funnel
from .robots import crawl_directives, parse_robots, robots_gate
from .text import (
    bigram_logprob_score,
    fix_mojibake,
    bm25_topk,
    bpe_ish_token_count,
    c4_line_filter,
    canonicalize_urls,
    char_entropy,
    document_fingerprint,
    hashed_char_ngrams,
    hashed_doc_vectors,
    html_extract,
    html_metadata,
    language_id,
    language_id_trained,
    language_id_trained_vec,
    language_train_logreg,
    language_train_logreg_vec,
    quality_logit,
    quality_score,
    quality_train_logreg,
    script_profile,
    split_sentences,
    tfidf_top_terms,
    token_count,
    top_ngrams,
    unigram_logprob_score,
    winnow_fingerprints,
)


def entry_queries():
    """queries() entries for the driver contract."""
    from . import entry as e

    return e.QUERIES


def entry_oracles():
    from . import entry as e

    return e.ORACLES
