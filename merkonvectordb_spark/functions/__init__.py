"""Scalar/vector/text function library (SURVEY.md §2.6).

Everything here is a Column-in/Column-out builder over built-in
``pyspark.sql.functions`` (JVM-side).  The numpy forms of the vector
folds (``vector.fold_dot``/``fold_cosine``) serve the Arrow kernels in
``operators``.
"""

from merkonvectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_normalize,
    vector_literal,
)
from merkonvectordb_spark.functions.text import (
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    ngrams,
    quality_score,
    token_count,
    tokenize,
    word_shingles,
)

__all__ = [
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "l2_normalize",
    "vector_literal",
    "bpe_token_count",
    "doc_fingerprint",
    "lang_id",
    "ngrams",
    "quality_score",
    "token_count",
    "tokenize",
    "word_shingles",
]
