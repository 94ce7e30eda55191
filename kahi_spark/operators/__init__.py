"""Relational / custom operators (SURVEY.md §2)."""

from kahi_spark.operators.align import align_positional_lists
from kahi_spark.operators.custom import conversation_stats
from kahi_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_df,
    simhash32_neardup_pairs,
    verify_jaccard,
    with_simhash32_md5,
)
from kahi_spark.operators.fuzzy import (
    bigram_jaccard_expr,
    char_bigrams_expr,
    colav_similarity_pandas,
    colav_similarity_py,
    complement_merge,
    fuzzy_join,
    partial_ratio_pandas,
    partial_token_set_ratio_pandas,
    staged_fuzzy_cascade,
    token_set_ratio_pandas,
)
from kahi_spark.operators.keyless import resolve_keyless_events
from kahi_spark.operators.linking import explode_keys, staged_lookup
from kahi_spark.operators.merge import (
    latest_change_per_key,
    merge_changes_into_state,
    normalize_events,
    priority_merge,
    reduce_events_to_state,
)
from kahi_spark.operators.multimodal import decode_image_batch
from kahi_spark.operators.similarity import (
    cosine_pairs,
    ivf_centroids,
    ivf_knn,
    knn_bruteforce,
    knn_lsh,
    lsh_cosine_pairs,
    lsh_planes,
)

__all__ = [
    "align_positional_lists",
    "conversation_stats",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "shingle_df",
    "simhash32_neardup_pairs",
    "verify_jaccard",
    "with_simhash32_md5",
    "bigram_jaccard_expr",
    "char_bigrams_expr",
    "colav_similarity_pandas",
    "colav_similarity_py",
    "complement_merge",
    "fuzzy_join",
    "partial_ratio_pandas",
    "partial_token_set_ratio_pandas",
    "staged_fuzzy_cascade",
    "token_set_ratio_pandas",
    "resolve_keyless_events",
    "explode_keys",
    "staged_lookup",
    "latest_change_per_key",
    "merge_changes_into_state",
    "normalize_events",
    "decode_image_batch",
    "priority_merge",
    "reduce_events_to_state",
    "cosine_pairs",
    "ivf_centroids",
    "ivf_knn",
    "knn_bruteforce",
    "knn_lsh",
    "lsh_cosine_pairs",
    "lsh_planes",
]
