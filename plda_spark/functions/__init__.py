"""Curated column-function surface of the engine.

Everything here is a pure ``Column -> Column`` (or column-factory)
expression built from ``pyspark.sql.functions`` — JVM-evaluated under
whole-stage codegen, no Python in the hot path — and each has an exact
ANSI-SQL twin used by the DuckDB correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from plda_spark._exprs import md5_long
from plda_spark.operators.sampling import hash_bucket
from plda_spark.operators.similarity import cosine
from plda_spark.operators.text import tokens_col
from plda_spark.operators.web import normalize_url_col
from plda_spark.sources.zorder import hilbert_value_col, zvalue_col

__all__ = [
    "cosine",
    "md5_long",
    "tokens_col",
    "hash_bucket",
    "ngrams",
    "normalize_url_col",
    "zvalue_col",
    "hilbert_value_col",
]


def ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams of a token-array column as an array of space-joined
    strings (the expression inside ``dedup.shingles``); arrays shorter
    than ``n`` yield an empty array."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    return F.when(
        F.size(tokens) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(tokens, i + 1, n), " ")),
    ).otherwise(F.array().cast("array<string>"))
