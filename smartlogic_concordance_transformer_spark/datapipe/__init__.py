"""Large-scale training-data pipeline operators.

Beyond the reference's concordance transform, a 100 TB corpus engine needs
corpus hygiene primitives. All operators here follow the same
rules as the KG pipeline: native Column expressions in the hot path,
Arrow-batched pandas UDFs only where built-ins genuinely can't express the
semantics (simhash bit-majority, embedding matrix math, binary decode).
"""

from .curation import pretraining_pipeline
from .dedup import (
    choose_bands,
    lsh_collision_prob,
    duplicate_substring_spans,
    exact_dedup,
    excise_duplicate_substrings,
    md5_token_hash,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    paragraph_dedup,
    shingles,
    simhash,
    simhash_near_dups,
)
from .joins import salted_join
from .hygiene import boilerplate_lines, flag_contaminated, strip_boilerplate
from .sampling import (
    md5_long60,
    pack_documents,
    split_bucket,
    stratified_sample,
    stratified_weighted_sample,
    token_budget_mix,
    train_test_split,
    weighted_sample,
)
from .multimodal import FEATURE_SCHEMA, MEDIA_SCHEMA, extract_features, frame_sample_plan
from .similarity import (
    brute_force_topk,
    ivf_assign,
    ivf_search,
    lloyd_kmeans,
    lsh_ann_topk,
    semantic_dedup,
    semantic_dedup_incremental_pairs,
    semantic_dedup_pairs,
    spherical_assign,
    train_ivf_centroids,
)
from .negatives import negative_samples
from .sketches import distinct_count_estimate, quantile_estimate
from .web import normalize_url, url_host
from .text import (
    apply_bpe_merges,
    ngram_perplexity,
    chunk_documents,
    detect_language,
    fingerprint,
    quality_classifier,
    quality_score,
    repetition_stats,
    scrub_pii,
    token_count,
    token_frequencies,
    winnowing_fingerprints,
)

__all__ = [
    "paragraph_dedup",
    "salted_join",
    "distinct_count_estimate",
    "quantile_estimate",
    "choose_bands",
    "lsh_collision_prob",
    "negative_samples",
    "exact_dedup",
    "duplicate_substring_spans",
    "excise_duplicate_substrings",
    "shingles",
    "md5_token_hash",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_near_dups",
    "brute_force_topk",
    "lsh_ann_topk",
    "ivf_assign",
    "ivf_search",
    "semantic_dedup",
    "semantic_dedup_incremental_pairs",
    "semantic_dedup_pairs",
    "spherical_assign",
    "lloyd_kmeans",
    "train_ivf_centroids",
    "pretraining_pipeline",
    "chunk_documents",
    "detect_language",
    "quality_score",
    "token_count",
    "token_frequencies",
    "apply_bpe_merges",
    "ngram_perplexity",
    "token_budget_mix",
    "md5_long60",
    "pack_documents",
    "weighted_sample",
    "stratified_weighted_sample",
    "quality_classifier",
    "normalize_url",
    "url_host",
    "fingerprint",
    "scrub_pii",
    "winnowing_fingerprints",
    "boilerplate_lines",
    "strip_boilerplate",
    "flag_contaminated",
    "repetition_stats",
    "split_bucket",
    "stratified_sample",
    "train_test_split",
    "extract_features",
    "frame_sample_plan",
    "MEDIA_SCHEMA",
    "FEATURE_SCHEMA",
]
