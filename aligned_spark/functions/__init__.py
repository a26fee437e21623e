"""Column-level function library (JVM-side first, Pandas-UDF second)."""

from aligned_spark.functions.embeddings import (
    array_cosine_similarity,
    array_dot,
    array_norm,
    fake_text_embedding,
)
from aligned_spark.functions.text import (
    language_id,
    quality_score,
    token_count,
)

__all__ = [
    "array_cosine_similarity",
    "array_dot",
    "array_norm",
    "fake_text_embedding",
    "language_id",
    "quality_score",
    "token_count",
]
