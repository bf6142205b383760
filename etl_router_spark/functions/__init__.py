"""Large-scale training-data pipeline operators (SURVEY §7.3 M6).

Beyond the reference's transform surface: deduplication (exact, n-gram
Jaccard, MinHash-LSH, SimHash, embedding-cosine), similarity search
(brute-force and LSH-bucketed ANN), text analysis (tokenize, quality,
language-id, fingerprint) and multimodal binary-column plumbing. All
designed to run at 100 TB: shuffle-once aggregations, no driver
collects, candidate-pair pruning before any quadratic step.
"""

from etl_router_spark.functions.text import (  # noqa: F401
    tokenize,
    text_stats,
    language_id,
    fingerprint,
)
from etl_router_spark.functions.dedup import (  # noqa: F401
    CandidateBudgetExceeded,
    exact_dedup,
    hamming_pairs,
    ngram_jaccard_pairs,
    minhash_signatures,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
    embedding_cosine_pairs,
    semantic_dedup,
)
from etl_router_spark.functions.similarity import (  # noqa: F401
    cosine_expr,
    brute_force_topk,
    lsh_bucketed_topk,
)
from etl_router_spark.functions.corpus import (  # noqa: F401
    adaptive_quality_filter,
    chunk_by_sentences,
    contaminated_ids,
    decontaminate,
    hash_sample,
    pack_sequences,
    quality_buckets,
)
from etl_router_spark.functions.graph import (  # noqa: F401
    degree_stats,
    pagerank,
    triangle_count,
)
from etl_router_spark.functions.indexing import (  # noqa: F401
    bm25_topk,
    tfidf_topk,
)
from etl_router_spark.functions.layout import (  # noqa: F401
    zorder_key,
)
from etl_router_spark.functions.text import normalize_url  # noqa: F401
