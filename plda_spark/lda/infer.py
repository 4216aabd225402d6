"""Batch inference (scoring) — the reference's ``infer`` binary (O18).

Per unseen document (``infer.cc:37-101``): drop OOV words, random z-init,
``total_iterations`` frozen-model sweeps, average the per-doc topic
histogram over post-burn-in iterations.  Documents are independent, and
each samples on its own ``(seed, doc_id)`` RNG stream, so θ depends only
on the model, the doc, the seed and the iteration counts.

Two shapes.  :func:`_infer_to_file`, the CLI's ``infer``, scores a
held-out corpus of at most ``train._TOKENS_PER_PARTITION`` triples in
the caller's process, like the reference's single-process binary: one
Arrow collect of the triples, the remap and packing in numpy, one
:func:`kernel.infer_docs` call and the file written on the driver — one
Spark job, no Python task.  The DataFrame front ends (:func:`transform`,
:func:`transform_stream`, :func:`transform_model_df`) score on Spark,
over one core: one ``mapInPandas`` with the model broadcast (or joined)
once and one :func:`kernel.infer_docs` call per Arrow batch, with no
per-iteration sync at all.  A larger CLI corpus takes :func:`transform`.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import job_phase
from . import kernel, train
from .corpus import _int_counts, _pack_rows, doc_occurrences
from .model import LDAModel
from .vocab import remap_words, vocab_table

__all__ = [
    "transform",
    "transform_stream",
    "transform_model_df",
    "write_inference_result",
]

_OUT_SCHEMA = "doc_id long, topic_weights array<double>"


def _check_iterations(total_iterations: int, burn_in_iterations: int) -> None:
    if not (0 <= burn_in_iterations < total_iterations):
        raise ValueError("need 0 <= burn_in_iterations < total_iterations")


def _csr(occs) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc occurrence arrays → flat int32 ``word_occ`` and doc offsets."""
    lens = np.fromiter(map(len, occs), dtype=np.int64, count=len(occs))
    word_occ = np.concatenate([np.empty(0, np.int32), *occs]).astype(np.int32, copy=False)
    return word_occ, np.concatenate([[0], np.cumsum(lens)])


def _infer(frame: DataFrame, to_batch, nk: np.ndarray, alpha: float, beta: float,
           total_iterations: int, burn_in_iterations: int, seed: int) -> DataFrame:
    """The one inference core behind every front end: one
    :func:`kernel.infer_docs` call per Arrow batch, each doc on its own
    ``(seed, doc_id)`` RNG stream, so θ = f(model, doc, seed, iterations)
    wherever Spark scores the doc and whatever it is batched with (a
    NULL doc_id draws doc_id 0's stream).
    ``to_batch(pdf) -> (word_occ, doc_offsets, nwk, vocab_size)`` is the
    front end's part: the batch's docs in CSR form, the model rows they
    index, and V when those rows are not the whole model (else None)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            word_occ, offsets, nwk, vocab_size = to_batch(pdf)
            theta = kernel.infer_docs(
                word_occ, offsets, pdf["doc_id"].fillna(0).to_numpy(np.int64), nwk, nk,
                alpha, beta, seed, total_iterations, burn_in_iterations, vocab_size,
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "topic_weights": list(theta)})

    return frame.mapInPandas(fn, schema=_OUT_SCHEMA)


def transform(
    model: LDAModel,
    corpus: DataFrame,
    total_iterations: int = 15,
    burn_in_iterations: int = 10,
    seed: int = 42,
) -> DataFrame:
    """``(doc_id, word, count)`` → ``(doc_id, topic_weights: array<double>)``.

    ``topic_weights`` are the unnormalized averaged θ_d numerators, the
    same quantity ``infer.cc:94-98`` writes.  OOV words are silently
    dropped (``infer.cc:77-80``) by the inner vocab join, so a doc with no
    in-vocab word is omitted from the output (and from the CLI's file),
    where ``infer.cc`` writes a line for it.  The docs are scored as the
    doc_id aggregate leaves them, in as many tasks as AQE sizes it to:
    placement does not change θ, and building the frame runs no job.
    Callers: :func:`_infer_to_file` for a corpus past its row cap, the
    registry's ``lda_infer_theta`` query and the benchmark's
    ``infer.transform`` probe.
    """
    _check_iterations(total_iterations, burn_in_iterations)
    spark = corpus.sparkSession
    corpus_ids = remap_words(_int_counts(corpus), vocab_table(spark, model.words)).select(
        "doc_id", "word_id", "count"
    )
    bc_nwk = spark.sparkContext.broadcast(model.nwk.astype(np.float64))

    def to_batch(pdf: pd.DataFrame):
        return (*_csr(pdf["word_occ"]), bc_nwk.value, None)

    return _infer(doc_occurrences(corpus_ids), to_batch, model.nk.astype(np.float64),
                  model.alpha, model.beta, total_iterations, burn_in_iterations, seed)


def transform_stream(
    model: LDAModel,
    docs: DataFrame,
    total_iterations: int = 15,
    burn_in_iterations: int = 10,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of :func:`transform` over raw ``documents`` rows —
    score an unbounded document stream against a frozen model.

    Scoring is per-document and the model is frozen, so the whole
    pipeline is STATELESS: tokenization is a per-row JVM expression
    (same ``TOKEN_RE``/``MIN_TOKEN_LEN`` as ``corpus.tokenize``) and the
    word→id remap happens against the broadcast vocabulary inside the
    same Arrow UDF that sweeps — no groupBy, no watermark, no state
    store.  Works identically on a batch DataFrame (useful as the
    one-pass scorer that skips the corpus-triples shuffle entirely).

    OOV words are dropped in the UDF (``infer.cc:77-80``); occurrences
    are sorted by word id to match ``doc_occurrences``' layout.  Docs with no
    in-vocab words emit all-zero weights (reference behavior: an
    all-OOV doc still writes a line).
    """
    _check_iterations(total_iterations, burn_in_iterations)
    from .corpus import MIN_TOKEN_LEN, TOKEN_RE

    sc = docs.sparkSession.sparkContext
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_RE),
        lambda w: F.length(w) >= MIN_TOKEN_LEN,
    )
    staged = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))

    bc_vocab = sc.broadcast({w: i for i, w in enumerate(model.words)})
    bc_nwk = sc.broadcast(model.nwk.astype(np.float64))

    def to_batch(pdf: pd.DataFrame):
        vocab = bc_vocab.value
        occs = [
            np.sort(np.fromiter((vocab[w] for w in ws if w in vocab), dtype=np.int32))
            # NULL text tokenizes to a NULL array (None here) — treat as an
            # empty doc, matching the batch twin's explode semantics,
            # instead of crashing the streaming query.
            if ws is not None
            else np.empty(0, dtype=np.int32)
            for ws in pdf["toks"]
        ]
        return (*_csr(occs), bc_nwk.value, None)

    return _infer(staged, to_batch, model.nk.astype(np.float64), model.alpha,
                  model.beta, total_iterations, burn_in_iterations, seed)


def transform_model_df(
    model_df: DataFrame,
    nk: np.ndarray,
    corpus: DataFrame,
    alpha: float = 0.1,
    beta: float = 0.01,
    total_iterations: int = 15,
    burn_in_iterations: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Inference with the model as a DataFrame — the cutover path for
    V·K beyond the broadcast ceiling (SURVEY.md §4.2: the reference
    replicates the model per machine and tells users to shrink V or K
    when it does not fit, README.md:125; this path removes that limit).

    ``model_df``: ``(word_id, topic_counts: array<double>)`` (e.g. from
    :meth:`LDAModel.to_dataframe` or a parquet model table).  ``nk``:
    the global K-vector (tiny, passed through the closure).  ``corpus``:
    ``(doc_id, word_id, count)`` triples, already vocab-mapped (OOV
    rows simply find no model row and are dropped by the join —
    ``infer.cc:77-80`` semantics).

    Plan: corpus ⋈ model on ``word_id`` (Catalyst picks shuffle-hash /
    SMJ at scale — no broadcast of the model anywhere), groupBy doc
    assembling the doc's sub-model, then embarrassingly-parallel per-doc
    Gibbs exactly like the broadcast path but against doc-local rows.
    Each doc ships only the model rows for its own distinct words; a
    batch's sub-models are stacked into one, each doc's local indices
    shifted by its first row, so θ is :func:`transform`'s, bit for bit,
    whatever join AQE picks at run time.  Like :func:`transform`, a doc
    with no in-vocab word is omitted.
    """
    _check_iterations(total_iterations, burn_in_iterations)
    joined = _int_counts(corpus).join(model_df, "word_id").select(
        "doc_id", "word_id", "count", "topic_counts"
    )
    # Per doc: distinct words sorted by word_id; local index = position.
    pairs = F.array_sort(
        F.collect_list(F.struct("word_id", "count", "topic_counts"))
    )
    packed = (
        joined.groupBy("doc_id")
        .agg(pairs.alias("pairs"))
        .select(
            "doc_id",
            F.flatten(
                F.transform(
                    "pairs",
                    lambda p, i: F.array_repeat(i.cast("int"), p["count"]),
                )
            ).alias("occ_local"),
            F.transform("pairs", lambda p: p["topic_counts"]).alias("sub_counts"),
            # V for the frozen denominator, as a scalar subquery: the
            # action counts the model rows, building the frame runs no job.
            model_df.select(F.count(F.lit(1))).scalar().alias("vocab_size"),
        )
        .where(F.size("occ_local") > 0)
    )
    # The sweep only reads the rows of a doc's own words, and the frozen
    # denominator takes the true V and global n_k — the broadcast path's
    # math on the stacked rows (sampler.cc:99).
    def to_batch(pdf: pd.DataFrame):
        subs = pdf["sub_counts"]
        bases = np.cumsum([0, *map(len, subs)])
        rows = [r for sub in subs for r in sub]
        return (
            *_csr([o + b for o, b in zip(pdf["occ_local"], bases)]),
            np.array(rows, dtype=np.float64),
            int(pdf["vocab_size"].iloc[0]),
        )

    return _infer(packed, to_batch, nk.astype(np.float64), alpha, beta,
                  total_iterations, burn_in_iterations, seed)


def _weight_col(v: Column) -> Column:
    """One topic weight as ``infer.cc:94-98`` text: an integral value as an
    integer, any other with 6 decimals.  ``format_string``, NOT
    ``format_number``: the latter inserts thousands separators
    ("1,234.5") that break the space-separated parity format for any
    weight >= 1000."""
    return F.when(v == F.floor(v), v.cast("long").cast("string")).otherwise(
        F.format_string("%.6f", v)
    )


_MICRO = Decimal("0.000001")


def _weight_str(v: float) -> str:
    """:func:`_weight_col` in Python, for the driver's writer.  The JVM's
    ``%.6f`` rounds the shortest decimal form of the double half-up
    (1/128 → ``0.007813``), where Python's ``"%.6f"`` rounds the exact
    binary value half-to-even (``0.007812``); ``repr`` is that shortest
    form."""
    if v == math.floor(v):
        return str(int(v))
    return f"{Decimal(repr(v)).quantize(_MICRO, ROUND_HALF_UP):f}"


def write_inference_result(result: DataFrame, path: str, single_file: bool = False) -> None:
    """Text-format parity with ``infer.cc:94-98``: one line per doc, K
    space-separated averaged topic counts, in doc order.

    ``single_file=True`` streams lines through the driver into one plain
    file (the reference's single-process writer shape); the default
    writes a Spark text directory (the scale path).  Either way the
    output is one partition, so the lines are sorted in it: an
    ``orderBy`` range exchange would first sample its input, a job that
    runs the scoring a second time.  Callers: :func:`_infer_to_file` for
    a corpus past its row cap, and the benchmark's
    ``infer.write`` probe, both with ``single_file=True``.
    """
    lines = result.repartition(1).sortWithinPartitions("doc_id").select(
        F.array_join(F.transform("topic_weights", _weight_col), " ").alias("value")
    )
    if single_file:
        with open(path, "w", encoding="utf-8") as f:
            for row in lines.toLocalIterator():
                f.write(row["value"] + "\n")
    else:
        lines.write.mode("overwrite").text(path)


def _infer_to_file(
    model: LDAModel,
    corpus: DataFrame,
    path: str,
    total_iterations: int,
    burn_in_iterations: int,
    seed: int,
) -> None:
    """The CLI's ``infer``, the reference's binary: score ``read_plda_corpus``
    triples (non-NULL doc ids) into :func:`write_inference_result`'s
    single file.

    One Arrow collect of the triples, capped at
    ``train._TOKENS_PER_PARTITION`` + 1 rows and read in one task, decides.
    Within the cap it feeds the remap against ``model.words`` (OOV rows
    dropped, as the inner vocab join drops them), the numpy packing the
    trainer's driver path uses, one :func:`kernel.infer_docs` call and a
    writer in this process: one Spark job and no Python task.  The cap
    is on rows, not tokens: at that size the Spark path's doc aggregate
    is a few MB, which AQE coalesces into one scoring task, so the driver
    does that task's work without its fixed cost, whatever the counts.
    A corpus past the cap discards the collect and runs :func:`transform`
    and :func:`write_inference_result`.  The file holds the same bytes
    either way.  The jobs are labelled ``lda.infer:<phase>`` (collect,
    score, write); on the Spark path the scoring runs inside the write's
    jobs.
    """
    _check_iterations(total_iterations, burn_in_iterations)
    spark = corpus.sparkSession
    corpus = _int_counts(corpus)
    cap = train._TOKENS_PER_PARTITION
    with job_phase(spark, "lda.infer", "collect"):
        # One task reads the splits in turn and stops at the cap: a limit
        # over several partitions would run every split and shuffle each
        # one's first cap + 1 rows.
        triples = corpus.select("doc_id", "word", "count").coalesce(1).limit(cap + 1).toPandas()
    if len(triples) > cap:
        with job_phase(spark, "lda.infer", "score"):
            theta = transform(model, corpus, total_iterations, burn_in_iterations, seed)
        with job_phase(spark, "lda.infer", "write"):
            write_inference_result(theta, path, single_file=True)
        return
    with job_phase(spark, "lda.infer", "score"):
        vocab = pd.DataFrame({"word": model.words,
                              "word_id": np.arange(model.num_words, dtype=np.int32)})
        rows = triples.dropna(subset=["word"]).merge(vocab, on="word")
        docs, word_occ, offsets = _pack_rows(rows, ["doc_id"])
        theta = kernel.infer_docs(
            word_occ, offsets, docs["doc_id"].to_numpy(np.int64),
            model.nwk.astype(np.float64), model.nk.astype(np.float64), model.alpha,
            model.beta, seed, total_iterations, burn_in_iterations,
        )
    with job_phase(spark, "lda.infer", "write"):
        with open(path, "w", encoding="utf-8") as f:
            f.writelines(" ".join(map(_weight_str, row)) + "\n" for row in theta.tolist())
