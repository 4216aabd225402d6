"""LDA model: broadcast-able word-topic counts + serde + topic viewer.

The model is a dense V×K matrix exactly as in the reference
(``model.h:119-125``); it lives driver-side as numpy and is broadcast to
executors each iteration (the reference replicates it per MPI rank,
``README.md:125``).  Two serialized forms:

- **Text** — parity with the reference's ``word \\t c1 c2 … cK`` layout
  (writer ``model.cc:98-111`` / ``accumulative_model.cc:80-94``, reader
  ``model.cc:113-153``): word ids assigned by line order, counts read as
  double then truncated to int64, ``#``/blank lines skipped.
- **Parquet** — the native Spark form ``(word, word_id, topic_counts)``
  for model-as-DataFrame workloads at V·K beyond broadcast limits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["LDAModel"]


def _format_count(v, as_float: bool) -> str:
    """C++ stream formatting parity: an int64 count streams as an
    integer; a double streams via ``operator<<(double)`` — 6 significant
    digits INCLUDING for integral values (``2500000.0`` prints as
    ``2.5e+06``, not ``2500000``), which ``%g`` reproduces."""
    if not as_float:
        return str(int(v))
    return f"{float(v):g}"


class LDAModel:
    """Word-topic model with the reference's count semantics.

    ``nwk`` is int64 for raw-count models (MPI output semantics,
    ``mpi_lda.cc:236-241``) or float64 for burn-in-averaged models
    (single-node semantics, ``lda.cc:139-145``).
    """

    def __init__(self, nwk: np.ndarray, words: list[str], alpha: float = 0.1, beta: float = 0.01):
        assert nwk.ndim == 2 and nwk.shape[0] == len(words)
        self.nwk = nwk
        self.words = list(words)
        self.alpha = float(alpha)
        self.beta = float(beta)
        # Global per-topic totals, recomputed by summation exactly as the
        # reference reader does (model.cc:147-151).
        self.nk = nwk.sum(axis=0)

    # -- shape ---------------------------------------------------------------
    @property
    def num_topics(self) -> int:
        return self.nwk.shape[1]

    @property
    def num_words(self) -> int:
        return self.nwk.shape[0]

    def word_index(self) -> dict[str, int]:
        return {w: i for i, w in enumerate(self.words)}

    # -- text serde (format parity) -------------------------------------------
    def save_text(self, path: str) -> None:
        """``word \\t c1 c2 … cK`` one line per word (model.cc:98-111)."""
        as_float = self.nwk.dtype.kind == "f"
        with open(path, "w", encoding="utf-8") as f:
            for i, w in enumerate(self.words):
                counts = " ".join(_format_count(v, as_float) for v in self.nwk[i])
                f.write(f"{w}\t{counts}\n")

    @classmethod
    def load_text(cls, path: str, alpha: float = 0.1, beta: float = 0.01) -> "LDAModel":
        """Reader parity with ``LDAModel(istream&,…)`` (model.cc:113-153):
        line-order word ids, double-parse then int64-truncate, skip
        blank/``#`` lines, K inferred from the first line."""
        words: list[str] = []
        rows: list[list[int]] = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip() or line.lstrip().startswith("#") or line[0] in "\r\n":
                    continue
                parts = line.split()
                words.append(parts[0])
                rows.append([int(float(x)) for x in parts[1:]])
        if not rows:
            raise ValueError(f"{path}: no model lines (empty or all comments)")
        widths = {len(r) for r in rows}
        if len(widths) != 1 or 0 in widths:
            raise ValueError(
                f"{path}: ragged model file — per-line count columns {sorted(widths)} "
                "(truncated write?); every line must carry the same K counts"
            )
        nwk = np.asarray(rows, dtype=np.int64)
        return cls(nwk, words, alpha, beta)

    # -- Spark-native forms ----------------------------------------------------
    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        """``(word, word_id, topic_counts: array<double>)`` model table.

        Built from a pandas frame, so with Arrow on (``get_spark``) the
        plan is a ``LocalTableScan`` and no Python worker runs; the
        float64 cast rounds each count as ``float(v)`` does.
        """
        pdf = pd.DataFrame(
            {
                "word": list(self.words),
                "word_id": np.arange(self.num_words, dtype=np.int64),
                "topic_counts": list(self.nwk.astype(np.float64)),
            }
        )
        return spark.createDataFrame(pdf, "word string, word_id long, topic_counts array<double>")

    def save(self, spark: SparkSession, path: str) -> None:
        meta = {"alpha": str(self.alpha), "beta": str(self.beta), "k": str(self.num_topics)}
        df = self.to_dataframe(spark)
        for k, v in meta.items():
            df = df.withColumn(f"_meta_{k}", F.lit(v))
        df.write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LDAModel":
        df = spark.read.parquet(path)
        rows = df.orderBy("word_id").collect()
        if not rows:
            raise ValueError(f"{path}: empty model table")
        words = [r["word"] for r in rows]
        nwk = np.asarray([r["topic_counts"] for r in rows], dtype=np.float64)
        alpha = float(rows[0]["_meta_alpha"])
        beta = float(rows[0]["_meta_beta"])
        if np.all(nwk == np.floor(nwk)):
            nwk = nwk.astype(np.int64)
        return cls(nwk, words, alpha, beta)

    # -- topic viewer (O19, view_model.py parity) -------------------------------
    def describe_topics(self, spark: SparkSession, top_n: int = 20, min_weight: float = 1.0) -> DataFrame:
        """Top words per topic: ``(topic, rank, word, weight)``.

        Spark form of ``view_model.py:20-38``: weight-``> min_weight``
        filter then per-topic descending rank (window).  Ties broken by
        word for determinism.
        """
        model_df = self.to_dataframe(spark)
        exploded = model_df.select(
            "word", F.posexplode("topic_counts").alias("topic", "weight")
        ).where(F.col("weight") > min_weight)
        w = Window.partitionBy("topic").orderBy(F.desc("weight"), F.asc("word"))
        return (
            exploded.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n)
            .select("topic", "rank", "word", "weight")
            .orderBy("topic", "rank")
        )

    def topic_totals(self, spark: SparkSession) -> DataFrame:
        """Per-topic total weight (the summary block of view_model.py)."""
        return (
            self.to_dataframe(spark)
            .select(F.posexplode("topic_counts").alias("topic", "weight"))
            .groupBy("topic")
            .agg(F.sum("weight").alias("total_weight"))
            .orderBy("topic")
        )
