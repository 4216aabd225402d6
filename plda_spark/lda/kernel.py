"""Pure-numpy collapsed-Gibbs kernel for LDA.

This module is the Spark-free core: everything here operates on flat numpy
arrays and is exercised both by the unit tests (as the exact single-threaded
oracle) and by the Arrow/pandas UDFs in :mod:`plda_spark.lda.train` /
:mod:`plda_spark.lda.infer` (as the per-partition worker kernel).

Semantics follow the reference implementation (plda):

- Conditional posterior  p(z=k) ∝ (n_wk+β)(n_dk+α)/(n_k+Vβ) with a −1
  adjustment on all three factors at the occurrence's *current* topic when
  training (reference ``sampler.cc:83-113``).  During inference no
  adjustment is applied and the model counts are frozen
  (``sampler.cc:99``, ``infer.cc:85``).
- Categorical draws use the inverse-CDF scan of ``common.cc:31-50``:
  the first k whose running sum reaches ``u * Σp``.
- Documents are swept sequentially, occurrences in order
  (``sampler.cc:60-81``); the per-doc topic histogram n_dk is maintained
  incrementally (``document.cc:58-67``).
- Per-document log-likelihood mirrors ``sampler.cc:116-166``:
  θ̂_dk=(n_dk+α)/(len_d+Kα), φ̂_wk=(n_wk+β)/(n_k+Vβ),
  ll_d = Σ_w count_w · log Σ_k φ̂_wk θ̂_dk.

Unlike the reference (which seeds ``srand(time(NULL))`` — ``lda.cc:114``),
every stream comes from :func:`make_rng`: training keys one per
(seed, pid, iteration), so a sweep is reproducible for a fixed seed and
partitioning; inference keys one per (seed, doc_id), so a doc's θ depends
only on the model, the doc, the seed and the iteration counts.

Documents are passed in CSR-ish flat form: ``word_occ`` holds one word id
per *occurrence* (mirroring the reference's ``wordtopics_`` layout,
``common.h:169-180``), ``doc_offsets`` delimits documents.

One sweep serves everything: :func:`sweep_docs` draws one uniform per
occurrence and hands them to the C-or-numpy dispatch; training sweeps
with ``update_model=True``.  :func:`infer_docs` is the whole of batch
inference: per doc, from its own stream, the z-init and all of its
uniforms, then one frozen-model sweep per iteration over the batch.
:func:`doc_log_likelihoods` is the per-doc likelihood loop the trainer
and :func:`corpus_log_likelihood` share.
"""

from __future__ import annotations

import numpy as np

from . import _ckernel

__all__ = [
    "make_rng",
    "init_assignments",
    "count_nwk",
    "topic_conditional",
    "inverse_cdf_sample",
    "sweep_docs",
    "infer_docs",
    "doc_log_likelihood",
    "doc_log_likelihoods",
    "corpus_log_likelihood",
]

# Most uniforms :func:`infer_docs` holds at once (16 MB of float64).
_MAX_UNIFORMS = 1 << 21


def make_rng(seed: int, partition_id: int = 0, iteration: int = 0) -> np.random.Generator:
    """Deterministic per-(seed, partition, iteration) RNG stream."""
    ss = np.random.SeedSequence(entropy=seed, spawn_key=(partition_id, iteration + 1))
    return np.random.Generator(np.random.PCG64(ss))


def init_assignments(n_occurrences: int, num_topics: int, rng: np.random.Generator) -> np.ndarray:
    """Random z-init: one iid Uniform[0, K) topic per occurrence (lda.cc:66-69)."""
    return rng.integers(0, num_topics, size=n_occurrences, dtype=np.int32)


def count_nwk(word_occ: np.ndarray, z: np.ndarray, vocab_size: int, num_topics: int) -> np.ndarray:
    """Rebuild the V×K word-topic count matrix from assignments.

    Mirrors ``LDASampler::InitModelGivenTopics`` (sampler.cc:34-45) and the
    per-iteration local rebuild of ``mpi_lda.cc:99-110``.
    """
    nwk = np.zeros((vocab_size, num_topics), dtype=np.int64)
    np.add.at(nwk, (word_occ, z), 1)
    return nwk


def topic_conditional(
    nwk_row: np.ndarray,
    nk: np.ndarray,
    ndk: np.ndarray,
    cur_topic: int,
    alpha: float,
    beta: float,
    vocab_size: int,
    train: bool,
) -> np.ndarray:
    """Unnormalized conditional posterior over topics for one occurrence.

    Direct vectorization of ``GenerateTopicDistributionForWord``
    (sampler.cc:83-113): the −1 self-exclusion applies to all three factors
    at ``cur_topic`` only when training.
    """
    adj = np.zeros(nk.shape[0], dtype=np.float64)
    if train:
        adj[cur_topic] = -1.0
    return (
        (nwk_row + adj + beta)
        * (ndk + adj + alpha)
        / (nk + adj + vocab_size * beta)
    )


def inverse_cdf_sample(p: np.ndarray, u: float) -> int:
    """First k with cumsum(p)[k] >= u * sum(p)  (common.cc:31-50)."""
    c = np.cumsum(p)
    k = int(np.searchsorted(c, u * c[-1], side="left"))
    return min(k, p.shape[0] - 1)


def sweep_docs(
    word_occ: np.ndarray,
    z: np.ndarray,
    doc_offsets: np.ndarray,
    nwk: np.ndarray,
    nk: np.ndarray,
    alpha: float,
    beta: float,
    rng: np.random.Generator,
    update_model: bool = True,
    vocab_size: int | None = None,
) -> None:
    """One Gibbs sweep over a block of documents, in place.

    ``vocab_size`` overrides the V used in the Vβ smoothing denominator —
    required when ``nwk`` is a doc-local sub-model (model-as-DataFrame
    inference) whose row count is smaller than the true vocabulary.

    ``z`` is always updated; ``nwk``/``nk`` are updated only when
    ``update_model`` (training).  Equivalent to calling the reference's
    ``SampleNewTopicsForDocument`` (sampler.cc:60-81) on each doc: instead
    of the −1 *adjustment* inside the posterior we decrement the counts,
    sample, and re-increment — algebraically identical and cheaper.

    When ``update_model`` is False the posterior uses the frozen counts
    with *no* adjustment (inference semantics, sampler.cc:99) while the
    per-doc histogram still tracks reassignments (document.cc:58-67).
    """
    # Draw all uniforms for the sweep up front (cheaper than per-occurrence).
    _sweep(word_occ, z, doc_offsets, nwk, nk, alpha, beta,
           rng.random(word_occ.shape[0]), update_model, vocab_size)


def _sweep(word_occ: np.ndarray, z: np.ndarray, doc_offsets: np.ndarray, nwk: np.ndarray,
           nk: np.ndarray, alpha: float, beta: float, uniforms: np.ndarray,
           update_model: bool, vocab_size: int | None) -> None:
    """The sweep of :func:`sweep_docs` on pre-drawn ``uniforms`` (one per
    occurrence): the compiled C loop when it exists, else the numpy loop."""
    num_topics = nk.shape[0]
    if vocab_size is None:
        vocab_size = nwk.shape[0]
    vbeta = vocab_size * beta
    # The C sweep's ABI; no copy when an input already matches it.
    word_occ = np.ascontiguousarray(word_occ, dtype=np.int32)
    doc_offsets = np.ascontiguousarray(doc_offsets, dtype=np.int64)
    uniforms = np.ascontiguousarray(uniforms, dtype=np.float64)

    # Hot path: the compiled C sweep (same algorithm, same uniforms, same
    # double-precision evaluation order — bit-identical to the loop below;
    # see _ckernel.py).  It writes z, nwk and nk in place, so those must
    # already be its types and C-contiguous; otherwise, or when no
    # compiler exists, the numpy loop runs.
    csweep = _ckernel.get_sweep_fn()
    if (csweep is not None and z.dtype == np.int32 and nwk.dtype == nk.dtype
            and nwk.dtype in (np.int64, np.float64)
            and all(a.flags.c_contiguous for a in (z, nwk, nk))):
        csweep(word_occ, z, doc_offsets, nwk, nk, alpha, beta, uniforms, update_model, vocab_size)
        return
    for d in range(doc_offsets.shape[0] - 1):
        s = doc_offsets[d]
        e = doc_offsets[d + 1]
        ndk = np.bincount(z[s:e], minlength=num_topics).astype(np.float64)
        for i in range(s, e):
            old = z[i]
            row = nwk[word_occ[i]]
            if update_model:
                row[old] -= 1
                nk[old] -= 1
                ndk[old] -= 1.0
            p = (row + beta) * (ndk + alpha) / (nk + vbeta)
            c = np.cumsum(p)
            new = min(int(np.searchsorted(c, uniforms[i] * c[-1], side="left")), num_topics - 1)
            if update_model:
                row[new] += 1
                nk[new] += 1
            else:
                ndk[old] -= 1.0
            ndk[new] += 1.0
            z[i] = new


def infer_docs(word_occ: np.ndarray, doc_offsets: np.ndarray, doc_ids: np.ndarray,
               nwk: np.ndarray, nk: np.ndarray, alpha: float, beta: float, seed: int,
               total_iterations: int, burn_in_iterations: int,
               vocab_size: int | None = None) -> np.ndarray:
    """Averaged topic histograms of unseen docs under a frozen model
    (``infer.cc:37-101``) → ``(n_docs, K)`` float64.

    Each doc draws its z-init and then its ``(T, n_d)`` uniforms from its
    own stream, keyed by ``(seed, doc_ids[d])`` — the stream a per-doc
    loop of ``init_assignments`` plus T ``sweep_docs(update_model=False)``
    calls consumes.  The model is
    frozen, so docs are independent and one sweep per iteration over the
    whole batch gives the same bits: a doc's θ does not depend on the
    other docs of its batch or on their order.  Row d is the doc's topic
    histogram summed over the iterations after burn-in, divided by their
    number.  The batch is walked in consecutive doc slices holding at
    most ``_MAX_UNIFORMS`` uniforms (a doc above that runs alone).
    ``vocab_size`` is the true V when ``nwk`` is a stacked sub-model."""
    num_topics = nk.shape[0]
    n_docs = doc_offsets.shape[0] - 1
    theta = np.zeros((n_docs, num_topics), dtype=np.float64)
    max_tokens = _MAX_UNIFORMS // total_iterations
    start = 0
    while start < n_docs:
        end = int(np.searchsorted(doc_offsets, doc_offsets[start] + max_tokens, side="right")) - 1
        end = max(end, start + 1)
        base = doc_offsets[start]
        offsets = doc_offsets[start:end + 1] - base
        occ = word_occ[base:doc_offsets[end]]
        z = np.empty(occ.shape[0], dtype=np.int32)
        uniforms = np.empty((total_iterations, occ.shape[0]), dtype=np.float64)
        for doc_id, s, e in zip(doc_ids[start:end], offsets[:-1], offsets[1:]):
            # Spawn key (doc_id, 0), a negative id by its uint64 bits:
            # training's keys are (pid, iteration + 1), never 0.
            rng = make_rng(seed, int(doc_id) & 0xFFFF_FFFF_FFFF_FFFF, -1)
            z[s:e] = init_assignments(e - s, num_topics, rng)
            uniforms[:, s:e] = rng.random((total_iterations, e - s))
        cells = np.repeat(np.arange(end - start) * num_topics, np.diff(offsets))
        hist = np.zeros((end - start) * num_topics, dtype=np.int64)
        for it in range(total_iterations):
            _sweep(occ, z, offsets, nwk, nk, alpha, beta, uniforms[it], False, vocab_size)
            if it >= burn_in_iterations:
                hist += np.bincount(cells + z, minlength=hist.shape[0])
        theta[start:end] = hist.reshape(-1, num_topics) / (total_iterations - burn_in_iterations)
        start = end
    return theta


def doc_log_likelihood(
    unique_word_ids: np.ndarray,
    counts: np.ndarray,
    ndk: np.ndarray,
    nwk: np.ndarray,
    nk: np.ndarray,
    alpha: float,
    beta: float,
    vocab_size: int | None = None,
) -> float:
    """log P(d) = Σ_w count_w · log Σ_k φ̂_wk θ̂_dk  (sampler.cc:116-166).

    ``vocab_size`` overrides the V in the Vβ smoothing denominator when
    ``nwk`` is a partition-local sub-model (model-as-DataFrame training)
    whose row count is smaller than the true vocabulary."""
    num_topics = nk.shape[0]
    if vocab_size is None:
        vocab_size = nwk.shape[0]
    doc_len = float(ndk.sum())
    theta = (ndk + alpha) / (doc_len + alpha * num_topics)
    phi = (nwk[unique_word_ids] + beta) / (nk + vocab_size * beta)
    pw = phi @ theta
    return float(counts @ np.log(pw))


def doc_log_likelihoods(word_occ: np.ndarray, z: np.ndarray, doc_offsets: np.ndarray,
                        nwk: np.ndarray, nk: np.ndarray, alpha: float, beta: float,
                        vocab_size: int | None = None) -> np.ndarray:
    """:func:`doc_log_likelihood` of every doc in a block, in doc order."""
    num_topics = nk.shape[0]
    ll = np.zeros(doc_offsets.shape[0] - 1, dtype=np.float64)
    for d in range(ll.shape[0]):
        s = doc_offsets[d]
        e = doc_offsets[d + 1]
        ndk = np.bincount(z[s:e], minlength=num_topics).astype(np.float64)
        words, counts = np.unique(word_occ[s:e], return_counts=True)
        ll[d] = doc_log_likelihood(
            words, counts.astype(np.float64), ndk, nwk, nk, alpha, beta, vocab_size
        )
    return ll


def corpus_log_likelihood(
    word_occ: np.ndarray,
    z: np.ndarray,
    doc_offsets: np.ndarray,
    nwk: np.ndarray,
    nk: np.ndarray,
    alpha: float,
    beta: float,
) -> float:
    """Sum of per-doc log-likelihoods over a block of docs (lda.cc:128-136)."""
    total = 0.0
    for ll in doc_log_likelihoods(word_occ, z, doc_offsets, nwk, nk, alpha, beta):
        total += ll
    return float(total)
