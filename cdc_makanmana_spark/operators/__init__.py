"""Composed operators (SURVEY.md §2.3-2.7 + north-star extensions)."""

from cdc_makanmana_spark.operators.search import (
    bm25_rank,
    multi_column_search,
    route_search_term,
)
from cdc_makanmana_spark.operators.radius import radius_query
from cdc_makanmana_spark.operators.similarity import (
    argmax_per_group,
    similarity_join,
    word_similarity_ratio,
)
from cdc_makanmana_spark.operators.dedup import (
    connected_components,
    contamination_hits,
    decontaminate,
    dedup_exact,
    dedup_keep_best,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_buckets,
    simhash_hamming_pairs,
)
from cdc_makanmana_spark.operators.asof import asof_join
from cdc_makanmana_spark.operators.range import interval_join
from cdc_makanmana_spark.operators.ann import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_duplicates,
    embedding_near_duplicates_by_block,
    label_cell_assign,
    label_seed_cells,
)
from cdc_makanmana_spark.operators.enrich import (
    prefix_fallback_join,
    priority_coalesce_enrich,
)
from cdc_makanmana_spark.operators.skew import salted_join, top_frequency_keys

__all__ = [
    "asof_join",
    "interval_join",
    "connected_components",
    "contamination_hits",
    "decontaminate",
    "dedup_keep_best",
    "embedding_near_duplicates",
    "embedding_near_duplicates_by_block",
    "label_cell_assign",
    "label_seed_cells",
    "salted_join",
    "top_frequency_keys",
    "bm25_rank",
    "multi_column_search",
    "route_search_term",
    "radius_query",
    "argmax_per_group",
    "similarity_join",
    "word_similarity_ratio",
    "dedup_exact",
    "minhash_near_duplicates",
    "ngram_jaccard_pairs",
    "simhash_buckets",
    "simhash_hamming_pairs",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "prefix_fallback_join",
    "priority_coalesce_enrich",
]
