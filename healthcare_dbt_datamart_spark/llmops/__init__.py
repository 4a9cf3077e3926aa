"""LLM-data-pipeline operators (the north-star extensions).

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
search over embedding columns (brute-force + bucketed ANN), text analysis
(language ID, quality scoring, token counting, fingerprinting), and
multimodal binary-column plumbing. All hot paths are Catalyst expressions
(higher-order array functions) — no per-row Python; the only Python is
Arrow-batched ``mapInPandas`` in the multimodal decode path where a real
deployment would call image/audio libraries. Every operator that reads
words tokenizes with ``text.words`` and builds word n-grams with
``text.windows``/``text.grams``.
"""

from .dedup import (  # noqa: F401
    exact_dedup_fingerprints,
    exact_substr_dedup,
    jaccard_pairs,
    levenshtein_pairs,
    line_dedup,
    lsh_band_buckets,
    lsh_plan,
    minhash_signatures,
    simhash16,
    source_overlap_kmv,
)
from .filtering import (  # noqa: F401
    bigram_interp_scores,
    bloom_prefilter,
    domain_mixture_weights,
    epoch_order,
    importance_weights,
    kn_bigram_scores,
    lm_buckets,
    min_k_prob,
    ngram_contamination,
    perplexity_buckets,
    redact_report,
    trigram_interp_scores,
)
from .bootstrap import (  # noqa: F401
    bootstrap_ci,
    bootstrap_diff_ci,
    paired_bootstrap_test,
    poisson1_weight,
)
from .drift import (  # noqa: F401
    sketch_drift_from_cells,
    sketch_drift_report,
)
from .evaluation import (  # noqa: F401
    bleu_corpus,
    chrf_report,
    kendall_tau,
    mcnemar_report_from_counts,
    mcnemar_test,
    brier_decomposition,
    calibration_by_group,
    calibration_report,
    calibration_summary,
    conformal_report,
    distinct_n,
    isotonic_apply,
    isotonic_calibration,
    ndcg_at_k,
    rbo,
    retrieval_metrics,
    roc_auc,
    roc_auc_by_group,
    rouge_l,
    spearman_rho,
)
from .bpe import (  # noqa: F401
    bpe_segment_report,
    bpe_token_counts,
    bpe_train,
    unigram_lm_train,
    unigram_segment_report,
)
from .packing import chunk_text, length_buckets  # noqa: F401
from .preferences import (  # noqa: F401
    annotator_agreement,
    bradley_terry,
    best_of_n,
    bradley_terry_from_pairs,
    bradley_terry_ties,
    dawid_skene,
    elo_ratings,
    elo_update_period,
    dpo_pairs,
    fleiss_kappa,
    implicit_preference_pairs,
    krippendorff_alpha,
    majority_vote,
    pass_at_k,
    rasch_fit,
    weighted_consensus,
    wilson_from_pairs,
    wilson_winrate,
)
from .similarity import (  # noqa: F401
    build_ivfpq_index,
    contrastive_triplets,
    cosine_topk,
    cosine_topk_batch,
    embedding_outliers,
    hard_negatives,
    ivf_topk_batch,
    ivfadc_topk,
    ivfadc_topk_indexed,
    ivfpq_index_upsert,
    load_ann_model,
    matryoshka_truncate,
    mmr_rerank,
    pca_apply,
    pca_train,
    pq_codebooks_trained,
    procrustes_align,
    procrustes_apply,
    save_ann_model,
    sign_lsh_bits,
)
from .retrieval import bm25_topk, rrf_fuse  # noqa: F401
from .graph import (  # noqa: F401
    hits_fixedpoint,
    pagerank_fixedpoint,
    personalized_pagerank,
    undirected_edges,
)
from ..session import truncate_lineage  # noqa: F401
from .sketches import (  # noqa: F401
    cms_heavy_hitters,
    cms_sketch,
    hll_by_group,
    hll_cardinality,
    hll_estimate_fold,
    hll_registers,
    logbucket_quantiles,
    logbucket_sketch,
)
from .splits import (  # noqa: F401
    curriculum_phases,
    curriculum_report,
    domain_concentration,
    leakage_safe_split,
    mad_scores,
    stratified_sample,
    temperature_rebalance,
    temperature_weights,
    temperature_weights_from_counts,
    unimax_allocation,
    weighted_sample,
    winsorize_scores,
)
from .textstats import (  # noqa: F401
    c4_line_filter,
    compression_ratio,
    gopher_rules,
    hashed_ngram_features,
    langid_scores,
    lm_gated_funnel,
    logreg_score,
    logreg_train,
    quality_classifier,
    quality_stats,
    rolling_fingerprint,
    sparse_logreg_score,
    sparse_logreg_train,
    vocab_richness,
)
