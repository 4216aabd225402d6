"""Corpus assembly: tokenization and per-document occurrence arrays.

Canonical corpus form (SURVEY.md §1.4): ``DataFrame[doc_id: long,
word: string, count: int]`` — the exploded sparse-triple equivalent of
the reference's per-line ``word count`` pairs (``README.md:44-58``).

For the Gibbs sweep the corpus is packed into one row per document with
an occurrence-level word-id array (count-expanded, sorted by word id),
mirroring the reference's CSR layout ``wordtopics_`` /
``wordtopics_start_index_`` (``common.h:169-180``).
:func:`doc_occurrences` packs JVM-side with higher-order array
functions, no Python in this path, for ``infer.transform`` and, through
:func:`pack_docs`, the Spark training path.  A corpus the
trainer runs on the driver is packed there instead, from one collect of
its triples (``train._pack_triples``), into the same arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["TOKEN_RE", "tokenize", "doc_term_counts", "doc_occurrences", "pack_docs"]

# Tokenization rule (FIXTURES.md F6): lowercase, split on non-alphanumeric,
# drop tokens shorter than 2 chars.  ASCII character class so the DuckDB
# oracle (RE2) and Spark (Java regex) agree byte-for-byte.
TOKEN_RE = "[^a-z0-9]+"
MIN_TOKEN_LEN = 2


def tokenize(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``documents(doc_id, text, …)`` → ``(doc_id, word)`` one row per token."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), TOKEN_RE)).alias("word"),
        )
        .where(F.length("word") >= MIN_TOKEN_LEN)
    )


def doc_term_counts(tokens: DataFrame) -> DataFrame:
    """``(doc_id, word)`` → canonical ``(doc_id, word, count)`` triples."""
    return tokens.groupBy("doc_id", "word").agg(F.count(F.lit(1)).cast("int").alias("count"))


def doc_occurrences(corpus_ids: DataFrame) -> DataFrame:
    """``(doc_id, word_id, count)`` → one row per doc with occurrence arrays.

    Output: ``(doc_id, word_occ: array<int>)`` where ``word_occ`` repeats
    each word id ``count`` times, unique words sorted by id — the same
    expansion the reference's ``WordOccurrenceIterator`` walks
    (``document.cc:21-82``).  Empty docs are dropped.  ``infer.transform``
    scores this frame as is, partitioned however the aggregate's exchange
    and AQE leave it; the trainer's driver path builds the same arrays
    with numpy (``train._pack_triples``).
    """
    pairs = F.array_sort(F.collect_list(F.struct("word_id", "count")))
    return (
        corpus_ids.groupBy("doc_id")
        .agg(pairs.alias("pairs"))
        .select(
            "doc_id",
            F.flatten(
                F.transform("pairs", lambda p: F.array_repeat(p["word_id"].cast("int"), p["count"]))
            ).alias("word_occ"),
        )
        .where(F.size("word_occ") > 0)  # empty docs dropped (mpi_lda.cc:142-144)
    )


def pack_docs(corpus_ids: DataFrame, num_partitions: int) -> DataFrame:
    """:func:`doc_occurrences` hash-repartitioned by ``doc_id``.

    The Spark training path's iteration jobs reuse this stable
    ``num_partitions``-way partitioning (the reference round-robins docs
    across ranks, ``mpi_lda.cc:127``)."""
    return doc_occurrences(corpus_ids).repartition(num_partitions, "doc_id")
