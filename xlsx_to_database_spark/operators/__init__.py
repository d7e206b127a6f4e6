"""Reusable LLM-data-pipeline operators (SURVEY.md §2.10).

These are the engine's value-add API: deduplication (exact, n-gram
Jaccard, MinHash-LSH, SimHash, embedding-cosine), similarity search,
and text analysis — all expressed as DataFrame→DataFrame functions so
they compose with the relational core and run on any SparkSession.
"""

from xlsx_to_database_spark.operators.dedup import (
    dedup_exact,
    embedding_near_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from xlsx_to_database_spark.operators.similarity import knn_join_blocked
from xlsx_to_database_spark.operators.text import (
    document_fingerprint,
    language_id,
    ngram_counts,
    quality_score,
    tfidf,
    tokenize_stats,
)

__all__ = [
    "dedup_exact",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embedding_near_pairs",
    "knn_join_blocked",
    "tokenize_stats",
    "tfidf",
    "ngram_counts",
    "quality_score",
    "language_id",
    "document_fingerprint",
]
