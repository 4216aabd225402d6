"""Vocabulary construction and word-id remapping.

Adopts the reference's *MPI* convention — lexicographically sorted word
ids (``mpi_lda.cc:197-207``) — everywhere, because it is deterministic;
the single-node first-seen convention (``lda.cc:71-77``) is order
dependent and is not reproduced.

Scale notes: the global sort is a single shuffle of the *distinct* word
set (tiny relative to the corpus); the remap join broadcasts the vocab,
so the corpus itself never shuffles for id assignment.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["build_vocab", "remap_words", "vocab_table"]


def vocab_table(spark: SparkSession, words: Sequence[str]) -> DataFrame:
    """``DataFrame[word, word_id]`` of a driver-side list, id = position.

    Built from a pandas frame, so with Arrow on (``get_spark``) the plan
    is a ``LocalTableScan`` and no Python worker runs.  Callers: the
    Spark training path and ``infer.transform``, each feeding
    :func:`remap_words`.
    """
    return spark.createDataFrame(
        pd.DataFrame({"word": list(words), "word_id": np.arange(len(words), dtype=np.int64)}),
        "word string, word_id long",
    )


def build_vocab(corpus: DataFrame, word_col: str = "word") -> DataFrame:
    """``DataFrame[word, word_id]`` with dense 0-based lexicographic ids.

    Mirrors the sort + position-id of ``mpi_lda.cc:197-207``.  Ids are
    per-partition ranks over the range-partitioned (sorted) distinct
    word set plus broadcast per-partition offsets — deterministic dense
    ids with NO single-partition window (a global ``row_number`` window
    would funnel the whole vocabulary through one task; the offset form
    takes per-partition counts and offsets them, staying parallel at
    any vocabulary size, entirely in JVM expressions).  Ids equal the
    global lexicographic rank whatever the partition boundaries.
    """
    from pyspark.sql.window import Window

    sorted_words = (
        corpus.select(F.col(word_col).alias("word"))
        .distinct()
        .orderBy("word")
        .select("word", F.spark_partition_id().alias("__pid"))
        # feeds both the rank window and the per-partition counts; the
        # lazy cut keeps the distinct+sort from running once per branch
        .localCheckpoint(eager=False)
    )
    w_rank = Window.partitionBy("__pid").orderBy("word")
    ranked = sorted_words.withColumn(
        "__r", F.row_number().over(w_rank).cast("long") - 1
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sorted_words.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "__pid",
            F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
        )
    )
    return ranked.join(F.broadcast(offsets), "__pid").select(
        "word", (F.col("__off") + F.col("__r")).alias("word_id")
    )


def remap_words(corpus: DataFrame, vocab: DataFrame, word_col: str = "word", how: str = "inner") -> DataFrame:
    """Replace word strings with dense ids via a broadcast-hash join.

    Spark-side equivalent of ``LDADocument::ResetWordIndex``
    (``document.cc:125-129``).  ``how='inner'`` drops out-of-vocabulary
    words — the inference-time OOV filter of ``infer.cc:77-80``.
    Callers: the Spark training path and ``infer.transform``; the
    trainer's driver path assigns the same ids with numpy
    (``train._pack_triples``).
    """
    return corpus.join(F.broadcast(vocab), corpus[word_col] == vocab["word"], how).drop(
        vocab["word"]
    )
