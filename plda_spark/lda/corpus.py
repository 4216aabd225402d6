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
:func:`pack_docs`, the Spark training path.  A corpus that the trainer
or the CLI's ``infer`` runs on the driver is packed there instead, from
one collect of its triples, into the same arrays by one numpy core,
:func:`_pack_rows`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

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


def _int_counts(corpus: DataFrame) -> DataFrame:
    """``corpus`` with its ``count`` column as INT, the type
    :func:`doc_occurrences`' ``array_repeat`` takes: the one count rule
    of ``train`` (driver and Spark paths), the CLI's ``infer`` and the
    ``transform`` front ends.  TINYINT, SMALLINT and INT counts pass; a
    BIGINT is cast, and a value outside INT's range fails the first
    action that reads it, on every path, with one message (whatever
    ``spark.sql.ansi.enabled`` says).  Any other type is refused here."""
    t = corpus.schema["count"].dataType
    if isinstance(t, IntegerType):
        return corpus
    c = F.col("count")
    if isinstance(t, (ByteType, ShortType)):
        return corpus.withColumn("count", c.cast("int"))
    if isinstance(t, LongType):
        fits = c.isNull() | c.between(-(2**31), 2**31 - 1)
        msg = F.concat(F.lit("count out of INT range: "), c.cast("string"))
        return corpus.withColumn("count", F.when(fits, c.cast("int")).otherwise(F.raise_error(msg)))
    raise ValueError(f"count must be an integral column, got {t.simpleString()}")


def doc_occurrences(corpus_ids: DataFrame) -> DataFrame:
    """``(doc_id, word_id, count)`` → one row per doc with occurrence arrays.

    Output: ``(doc_id, word_occ: array<int>)`` where ``word_occ`` repeats
    each word id ``count`` times, unique words sorted by id — the same
    expansion the reference's ``WordOccurrenceIterator`` walks
    (``document.cc:21-82``).  Empty docs are dropped.  ``infer.transform``
    scores this frame as is, partitioned however the aggregate's exchange
    and AQE leave it; the driver paths build the same arrays with numpy
    (:func:`_pack_rows`).
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


def _pack_rows(rows: pd.DataFrame,
               order: list[str]) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """:func:`doc_occurrences` in numpy, for collected ``(doc_id, word_id,
    count, …)`` rows in any order: the docs' ``order`` columns, sorted by
    them, plus their ``word_occ`` arrays in CSR form (flat occurrences and
    int64 offsets).  ``order`` ends with ``doc_id`` and may start with
    columns that are functions of it (the trainer's pid).  Same rules as
    the JVM aggregate: a doc's word ids sorted, each repeated by its
    count (none for a count ≤ 0), a doc with a NULL count dropped whole,
    empty docs dropped.  The trainer's and the CLI ``infer``'s driver
    paths both pack through here."""
    rows = rows[~rows["doc_id"].isin(rows["doc_id"][rows["count"].isna()])]
    rows = rows.sort_values([*order, "word_id"], kind="stable")
    doc_id = rows["doc_id"].to_numpy()
    reps = np.maximum(rows["count"].to_numpy(), 0).astype(np.int64)
    first = np.ones(len(rows), dtype=bool)
    first[1:] = doc_id[1:] != doc_id[:-1]
    starts = np.flatnonzero(first)
    lens = np.add.reduceat(reps, starts) if len(rows) else reps
    kept = lens > 0
    docs = rows[order].iloc[starts[kept]].reset_index(drop=True)
    offsets = np.concatenate([[0], np.cumsum(lens[kept])]).astype(np.int64)
    return docs, np.repeat(rows["word_id"].to_numpy(), reps), offsets
