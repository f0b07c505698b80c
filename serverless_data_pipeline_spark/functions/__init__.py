"""Column-expression building blocks (all JVM-side, codegen-friendly).

Everything here returns ``pyspark.sql.Column`` built from built-in
``pyspark.sql.functions`` — no Python UDFs in the hot path. These back the
operator modules and the query registry.
"""

from serverless_data_pipeline_spark.functions.vectors import (
    cosine_similarity, cosine_similarity_fixed, dot_product,
    dot_product_fixed, l2_norm, l2_norm_fixed,
)
from serverless_data_pipeline_spark.functions.text import (
    fingerprint, punct_ratio, quality_score_expr, token_count, tokens,
    word_shingles,
)

__all__ = [
    "cosine_similarity", "cosine_similarity_fixed", "dot_product",
    "dot_product_fixed", "l2_norm", "l2_norm_fixed",
    "tokens", "token_count", "word_shingles",
    "fingerprint", "punct_ratio", "quality_score_expr",
]
