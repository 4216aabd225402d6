"""Topic-model evaluation beyond the reference's top-word eyeballing:
UMass topic coherence (Mimno et al., EMNLP 2011).

coherence(k) = Σ_{i<j over topic k's top-N words}
                 ln( (D(w_i, w_j) + 1) / D(w_j) )

where D(w) / D(w_i, w_j) are document (co-)frequencies in a reference
corpus.  Higher (closer to 0) is better.

Plan shape: the top-word set is tiny (K·N words), so both frequency
tables come from one pass over the corpus filtered by a broadcast word
set; the pairwise combination is a driver-side loop over K·N² pairs.
"""

from __future__ import annotations

import math
from itertools import combinations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["umass_coherence"]


def umass_coherence(
    top_words: DataFrame,
    corpus: DataFrame,
    word_col: str = "word",
    topic_col: str = "topic",
    rank_col: str = "rank",
) -> DataFrame:
    """``top_words``: (topic, rank, word) — e.g. ``describe_topics()``;
    ``corpus``: canonical ``(doc_id, word, count)`` triples.

    Returns ``(topic, n_pairs, coherence)``, one row per topic.
    """
    tw = [
        (r[topic_col], r[rank_col], r[word_col])
        for r in top_words.select(topic_col, rank_col, word_col).collect()
    ]
    vocab = sorted({w for _, _, w in tw})
    spark = corpus.sparkSession
    # Driver-built tables go through pandas and Arrow: a LocalTableScan,
    # no Python worker.
    vocab_df = F.broadcast(
        spark.createDataFrame(pd.DataFrame({word_col: vocab}, dtype=object), f"{word_col} string")
    )
    # One filtered pass: per doc, the set of top-words it contains.
    doc_words = (
        corpus.join(vocab_df, word_col)
        .select("doc_id", word_col)
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set(word_col).alias("ws"))
    )
    # Doc frequency per word and per (unordered) pair, in one aggregation
    # each; the pair explode is bounded by (top-words-per-doc choose 2).
    dfreq = {
        r[word_col]: r["df"]
        for r in doc_words.select(F.explode("ws").alias(word_col))
        .groupBy(word_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    sorted_ws = F.array_sort("ws")
    idx = F.sequence(F.lit(1), F.size("ws"))
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(sorted_ws, i + 1, F.size("ws")),
                lambda w2: F.struct(
                    F.element_at(sorted_ws, i.cast("int")).alias("w1"), w2.alias("w2")
                ),
            ),
        )
    )
    cofreq = {
        (r["w1"], r["w2"]): r["cdf"]
        for r in doc_words.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cdf"))
        .collect()
    }

    by_topic: dict[int, list[tuple[int, str]]] = {}
    for t, rank, w in tw:
        by_topic.setdefault(t, []).append((rank, w))
    rows = []
    for t, ranked in sorted(by_topic.items()):
        words = [w for _, w in sorted(ranked)]
        score, n_pairs = 0.0, 0
        for wi, wj in combinations(words, 2):
            # Mimno et al. 2011: the denominator is D(v_l) — the doc
            # frequency of the EARLIER (higher-ranked) word of the pair.
            di = dfreq.get(wi, 0)
            if di == 0:
                continue
            key = (wi, wj) if wi <= wj else (wj, wi)
            score += math.log((cofreq.get(key, 0) + 1) / di)
            n_pairs += 1
        rows.append((t, n_pairs, round(score, 6)))
    pdf = pd.DataFrame(rows, columns=["topic", "n_pairs", "coherence"]).astype(
        {"topic": "int32", "n_pairs": "int32", "coherence": "float64"}
    )
    return spark.createDataFrame(pdf, "topic int, n_pairs int, coherence double")
