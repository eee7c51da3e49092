from deeptime_spark.operators.lag import (  # noqa: F401
    lagged,
    timeshifted,
    sliding_window,
    blocksplit,
    cvsplit,
    strided,
)

# LLM-data-pipeline surface (lazy imports would save nothing: these
# modules import only pyspark/numpy/pandas, all already loaded)
from deeptime_spark.operators.chunking import (  # noqa: F401
    chunk_documents,
    pack_documents,
)
from deeptime_spark.operators.dedup import (  # noqa: F401
    connected_components,
    decontaminate,
    dedup_token_spans,
    drop_duplicate_lines_across_docs,
    drop_exact_duplicates,
    drop_near_duplicates,
    drop_semantic_duplicates,
    duplicate_clusters,
    exact_duplicates,
    minhash_lsh_candidates,
    semantic_duplicates,
    simhash_near_duplicates,
    verify_candidates_jaccard,
    winnowing_candidates,
)
from deeptime_spark.operators.multimodal import (  # noqa: F401
    extract_features,
    frame_sample_plan,
    resize_images,
)
from deeptime_spark.operators.mixing import (  # noqa: F401
    domain_mixture,
    sample_deterministic,
    stratified_sample,
)
from deeptime_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    ivf_topk,
    ivfpq_topk,
    lsh_topk,
)
from deeptime_spark.operators.text import (  # noqa: F401
    c4_line_filter,
    detect_language,
    pii_stats,
    scrub_pii,
    gopher_quality,
    gopher_repetition,
    text_stats,
    unigram_lm_scores_df,
)
