"""plda corpus text format — reader/writer (O1/O16 format surface).

Format (``README.md:44-58``): one document per line,
``word1 count1 word2 count2 …`` whitespace-separated; blank lines and
lines starting with ``#``/CR/LF are skipped (parser ``lda.cc:56-79``).

Doc ids are assigned by line order, matching the reference's implicit
line-number document identity.  :func:`index_lines` numbers the lines in
the JVM, so no Python worker reads the corpus.
"""

from __future__ import annotations

from itertools import accumulate

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["index_lines", "read_plda_corpus", "write_plda_corpus"]

# monotonically_increasing_id() = (split << 33) + row number in the split
_SPLIT_SHIFT = 33


def index_lines(lines: DataFrame, id_col: str) -> DataFrame:
    """Prepend ``id_col``: each row's 0-based position in the scan order
    of ``lines`` (splits in order, rows in file order within a split).

    These are the ids ``lines.rdd.zipWithIndex()`` gives, computed the
    same way but in JVM expressions: a row's id is its split's start plus
    its row number in the split, both read from
    ``monotonically_increasing_id()``, and the starts are the running sum
    of the splits' row counts.  Counting is one aggregation over the
    scan, run here and only when there is more than one split (when
    ``zipWithIndex`` runs its counting job).  ``lines`` must be a scan
    with at most row-wise filters and projections, so that its splits
    are the input splits.

    The ids hold for the split layout planned here.  A later action that
    plans the input into other splits (a changed ``spark.sql.files.*``
    setting, or a cluster whose core count moved) puts some row past its
    split's counted bound and fails, instead of numbering rows wrongly.
    """
    n_splits = lines.rdd.getNumPartitions()
    counts: list[int] = []
    if n_splits > 1:
        per_split = dict(lines.groupBy(F.spark_partition_id()).count().collect())
        counts = [per_split.get(p, 0) for p in range(n_splits)]
    starts = list(accumulate(counts[:-1], initial=0))
    m = F.col("__m")
    split = F.shiftright(m, _SPLIT_SHIFT).cast("int")
    row = m.bitwiseAND((1 << _SPLIT_SHIFT) - 1)
    start = F.get(F.lit(np.array(starts, dtype=np.int64)), split)
    outside = start.isNull()
    if counts:
        outside = outside | (row >= F.get(F.lit(np.array(counts, dtype=np.int64)), split))
    return lines.select(F.monotonically_increasing_id().alias("__m"), "*").select(
        F.when(
            outside,
            F.raise_error(F.lit("input was re-split after its lines were numbered; read it again")),
        ).otherwise(start + row).alias(id_col),
        *lines.columns,
    )


def read_plda_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read plda-format text → canonical ``(doc_id, word, count)`` triples."""
    lines = spark.read.text(path)
    kept = lines.where(
        (F.length(F.trim("value")) > 0) & ~F.col("value").startswith("#")
    )
    # Stable line-order ids (lda.cc assigns doc identity by input order).
    df = index_lines(kept, "doc_id")
    tokens = F.split(F.trim("value"), r"\s+")
    # (word, count) pairs: even positions are words, odd are counts.
    pairs = F.filter(
        F.transform(tokens, lambda x, i: F.struct(x.alias("tok"), i.alias("i"))),
        lambda s: s["i"] % 2 == 0,
    )
    counts = F.filter(
        F.transform(tokens, lambda x, i: F.struct(x.alias("tok"), i.alias("i"))),
        lambda s: s["i"] % 2 == 1,
    )
    return (
        df.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.transform(pairs, lambda s: s["tok"]).alias("word"),
                    # try_cast: a malformed count (or a dangling word with no
                    # count) yields NULL and the pair is dropped below —
                    # the reference's atoi() returns 0 for garbage and the
                    # occurrence loop then adds nothing (lda.cc:61-79), so
                    # silent-skip is parity; ANSI cast would abort the job.
                    F.transform(counts, lambda s: s["tok"].try_cast("int")).alias(
                        "count"
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.word").alias("word"), F.col("p.count").alias("count"))
        .where(F.col("count").isNotNull() & (F.col("count") > 0))
    )


def write_plda_corpus(corpus: DataFrame, path: str) -> None:
    """Canonical triples → plda-format text, one doc per line, words in
    lexicographic order within a line (deterministic round-trip)."""
    (
        corpus.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("word", "count"))).alias("pairs"))
        .orderBy("doc_id")
        .select(
            F.array_join(
                F.transform(
                    "pairs",
                    lambda p: F.concat_ws(" ", p["word"], p["count"].cast("string")),
                ),
                " ",
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
