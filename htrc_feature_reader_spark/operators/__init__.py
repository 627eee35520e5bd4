from .tokenlist import (  # noqa: F401
    fold_tokenlist,
    distinct_tokens,
    term_volume_freqs,
    term_page_freqs,
    tokens_per_page,
)
from .linechars import fold_linechars  # noqa: F401
from .sections import fold_section_features  # noqa: F401
from .chunking import chunk_ends, chunk_even, chunk_last, chunked_tokenlist  # noqa: F401
from .asof import asof_join  # noqa: F401
from .ranges import range_join  # noqa: F401
from .windows import with_lag_lead, forward_fill, backward_fill, sessionize  # noqa: F401
from .features import build_pit_features, trailing_window_features  # noqa: F401
from .dedup import (  # noqa: F401
    boilerplate_fraction,
    decontaminate,
    duplicated_spans,
    ngram_novelty,
    exact_duplicates,
    remove_duplicate_spans,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    signature_agreement,
    simhash,
    stop_capped_shingle_ids,
    word_shingle_ids,
)
from .components import connected_components  # noqa: F401
from .stats import (  # noqa: F401
    corpus_stats,
    distinct_sampled,
    filter_by_group_quantile,
    group_quantile,
    source_ngram_overlap,
    token_drift,
    top_terms,
)
from .similarity import (  # noqa: F401
    cosine_topk,
    near_dup_pairs,
    semantic_dedup,
)
from .pipeline import (  # noqa: F401
    CleanConfig,
    clean_corpus,
    survivorship,
)
from .text import lang_id, quality_features, repetition_features, tokenize  # noqa: F401
from .vocab import remove_stopwords, restrict_to_vocab  # noqa: F401
from .embeddings import weighted_embedding_average  # noqa: F401
from .layout import layout_timeline  # noqa: F401
from .packing import (  # noqa: F401
    pack_documents_padded,
    pack_sequences,
    sample_mixture,
    take_per_source,
    temporal_split,
    unpack_sequences,
)
from .text import bigram_logprob, char_entropy, tf_idf, unigram_logprob  # noqa: F401
from .selection import (  # noqa: F401
    dsir_weights,
    hashed_ngram_buckets,
    importance_resample,
    sample_per_group,
)
from .classify import nb_classify, nb_score, nb_train  # noqa: F401
