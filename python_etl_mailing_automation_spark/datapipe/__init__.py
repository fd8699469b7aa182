"""Beyond-reference large-scale training-data pipeline operators.

These are the operations a 100 TB LLM-data pipeline needs on top of the
reference's ETL surface (BASELINE.json north star): deduplication families
(exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
approximate similarity search, text analysis, and multimodal column
plumbing. All are pure DataFrame algebra (no Python UDFs in hot paths)
except the explicitly-stubbed multimodal decoders.

Cross-engine determinism note: hash-based operators use md5 (bit-identical
across engines and platforms) rather than engine-private hash functions,
so results are reproducible and oracle-checkable anywhere.
"""

from .clustering import (  # noqa: F401
    kmeans_assign,
    kmeans_fit_assign,
    semantic_dedup,
)
from .dedup import (  # noqa: F401
    dedup_clusters,
    dedup_clusters_star,
    dedup_lines,
    dup_span_stats,
    exact_dedup_groups,
    minhash_signatures,
    ngram_jaccard_pairs,
    remove_dup_spans,
    simhash_16,
    simhash_hamming_pairs,
    triangle_count,
    winnow_candidate_pairs,
    winnow_fingerprints,
    with_shingles,
    with_simhash64,
    with_tokens,
)
from .lm import (  # noqa: F401
    bigram_probs,
    doc_bigrams,
    dsir_select,
    lm_quality_score,
)
from .packing import (  # noqa: F401
    format_chat_text,
    pack_sequences,
    to_prompt_completion,
)
from .pii import pseudonymize, redact_pii  # noqa: F401
from .frontier import skyline_2d  # noqa: F401
from .quality import fd_violations, k_anonymity  # noqa: F401
from .stats import table_profile  # noqa: F401
from .ssjoin import (  # noqa: F401
    edit_distance_join,
    edit_distance_join_two,
    sorted_neighborhood_pairs,
)
from .timeseries import cohort_retention, event_transitions, ewma_dyadic  # noqa: F401
from .stats import (  # noqa: F401
    cdf_normalize,
    corpus_stats,
    exact_corr,
    exact_skew_kurt,
    length_quantiles,
    mad_outliers,
    quantile_bucket_assign,
    token_tv_divergence,
    value_histogram,
    zscore_normalize,
)
from .sampling import (  # noqa: F401
    budget_select,
    negative_samples,
    dataset_split,
    hash_sample,
    mixture_sample,
    shard_assign,
    stratified_sample,
    temperature_sample,
)
from .contamination import (  # noqa: F401
    cross_corpus_overlap,
    flag_contaminated,
)
from .similarity import (  # noqa: F401
    ann_bucket_topk,
    cosine_topk,
    quantize_int8,
    quantized_topk,
)
from .text import (  # noqa: F401
    chunk_documents,
    collocations,
    doc_fingerprint,
    gopher_quality,
    lang_id,
    phrase_search,
    posting_lists,
    quality_score,
    repetition_metrics,
    spread_for_explode,
    tfidf_topk,
    token_count,
)
from .web import url_canonical, url_dedup, url_host  # noqa: F401
