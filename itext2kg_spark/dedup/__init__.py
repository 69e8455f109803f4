from itext2kg_spark.dedup.exact import exact_duplicates, dedup_keep_first
from itext2kg_spark.dedup.ngram import word_ngrams, jaccard_pairs
from itext2kg_spark.dedup.minhash import minhash_lsh_pairs
from itext2kg_spark.dedup.simhash import simhash_pairs
from itext2kg_spark.dedup.embedding import embedding_near_dups
from itext2kg_spark.dedup.clusters import (
    near_dup_clusters,
    near_dup_components,
    dedup_survivors,
)
from itext2kg_spark.dedup.spans import span_dedup, duplicated_span_starts

__all__ = [
    "span_dedup",
    "duplicated_span_starts",
    "near_dup_clusters",
    "near_dup_components",
    "dedup_survivors",
    "exact_duplicates",
    "dedup_keep_first",
    "word_ngrams",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embedding_near_dups",
]
