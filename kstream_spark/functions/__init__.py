"""Reusable Column helpers (portable hashing, shingles, vector math)."""

from pyspark.sql import Column
from pyspark.sql import functions as F

from kstream_spark.functions.text import (content_hash, hash_str, token_count,
                                          word_shingles, words)
from kstream_spark.functions.vectors import as_double, cosine, dot, norm

__all__ = [
    "content_hash", "hash_str", "token_count", "word_shingles", "words",
    "as_double", "cosine", "dot", "norm", "to_col",
]


def to_col(expr: Column | str) -> Column:
    """``expr`` as a Column: a str is parsed as a SQL expression."""
    return expr if isinstance(expr, Column) else F.expr(expr)
