"""Distributed LDA training — AD-LDA on Spark (the reference's mpi_lda on
DataFrames).

One driver loop, shaped like ``mpi_lda.cc:213-235``: each iteration every
partition sweeps its documents against a local copy of the model, then the
partitions' counts are summed into the next model (the reference's
AllReduce).  Deployments differ only in how the model moves between those
two steps, which is a private *exchange* with three implementations:

- ``broadcast`` (``model_mode='broadcast'``): the driver holds n_wk and
  broadcasts it each iteration (the reference replicates it per rank,
  ``README.md:125``).  The sweep is a shuffle-free ``mapInPandas`` over the
  hash-partitioned assignments, and the reduce collects one sparse count
  row per pid — pre-summed by a shuffle once P ≥ 256, the tree end of
  the reference's recursive AllReduce (``mpi_lda.cc:58-92``).
- ``words`` (``model_mode='join'``): the model is a ``(word_id, cnts)``
  DataFrame that never touches the driver.  Each partition receives only
  the rows for the words it contains (an equi-join with a persisted
  ``(pid, word_id)`` table) cogrouped with its documents; the reduce is a
  distributed groupBy + pivot.
- ``chunks`` (``model_mode='join'``): the model is C dense binary chunk rows
  that every partition receives through a pid × chunk cross join; the
  reduce is a per-chunk buffer sum.  ``join_exchange='auto'`` picks it when
  partitions see most of the vocabulary and the dense block is affordable
  (:func:`_resolve_join_exchange`).

The three share one z-init, one sweep core, one sparse count payload and one
checkpoint format, and they run the same Markov chain: a document belongs
to pid = pmod(hash(doc_id), P), each pid takes its documents in doc_id
order, RNG streams are keyed by (seed, pid, iteration), and each
document's likelihood is scored against the iteration's input model before
the sweep (``lda.cc:128-136``).  So the exchanges agree bit for bit on the
counts and on the likelihoods, and a run resumed from a checkpoint equals
an uninterrupted one.

P sets the chain; token volume sets the Spark tasks.  The z-init and the
broadcast sweep run in min(P, :func:`_auto_partitions`) tasks, each of
which walks a whole run of pids in (pid, doc_id) order, one pid at a time
with that pid's own RNG, model copy and payload.  A Python task has a
fixed cost (~0.2 s of worker CPU, ``docs/SCALING.md``) that a small
corpus's sweep (~10 ms) cannot amortise over P tasks, and the task count
does not change a single bit of the output.  A broadcast corpus within
one task's token budget runs on the driver instead (``_Driver``, plda's
single-process ``lda``): one Arrow collect of the corpus triples feeds a
numpy build of the vocabulary and packed docs, and the loop calls the
same z-init, sweep and payload code in the caller's process, with no
Python task and no Spark job per iteration.

Within an iteration cross-partition counts are one iteration stale —
precisely the AD-LDA relaxation the reference itself makes across MPI
ranks (Newman et al., NIPS 2007; ``README.md:267``).

Two output modes (SURVEY.md §3.2): post-burn-in averaging (single-node
``lda`` semantics, ``lda.cc:137-145``), which needs the driver-held model
of the broadcast exchange, and raw final-iteration counts (``mpi_lda``
semantics — no averaging, ``mpi_lda.cc:234-241``).

Unlike the reference (``srand(time(NULL))``, ``lda.cc:114``) training is
deterministic for a fixed (seed, num_partitions).
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from functools import partial
from types import SimpleNamespace

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lineage import _Lineage
from ..session import job_phase
from . import kernel
from .corpus import _int_counts, _pack_rows, pack_docs
from .model import LDAModel
from .vocab import remap_words, vocab_table

__all__ = ["TrainConfig", "TrainResult", "train", "train_documents"]

# Every generation of every exchange has this layout: document rows
# (doc_id >= 0) plus count payload rows (doc_id < 0).  word_occ / z travel
# as raw little-endian int32 bytes, not array<int>: binary columns cross
# the Arrow boundary as one buffer per row (np.frombuffer decode, ~zero-
# copy) instead of a Python list/ndarray materialization per row — a large
# constant-factor win when the corpus round-trips the JVM<->Python boundary
# every Gibbs iteration.
_SWEEP_SCHEMA = "pid int, doc_id long, word_occ binary, z binary, ll double"


@dataclass
class TrainConfig:
    """Mirrors the reference CLI flags + their validators (cmd_flags.cc:74-105)."""

    num_topics: int
    alpha: float = 0.1
    beta: float = 0.01
    total_iterations: int = 150
    burn_in_iterations: int = 100
    compute_likelihood: bool = False
    average_model: bool = True  # True = lda semantics; False = mpi_lda raw counts
    seed: int = 42
    # P, the AD-LDA partition count: it sets the Markov chain (a doc's pid
    # and RNG streams), not the number of Spark tasks, which follows the
    # token volume (see _auto_partitions).  None sizes P by that rule too.
    num_partitions: int | None = None
    # Fault tolerance for long jobs: every ``checkpoint_every`` iterations
    # the assignments (parquet) + driver state (npz) land in
    # ``checkpoint_dir``; ``train(..., resume_from=dir)`` continues there.
    checkpoint_dir: str | None = None
    checkpoint_every: int = 10
    # How the model moves each iteration (see the module docstring).
    # "broadcast": the driver-held V×K model is re-broadcast — right while
    # V·K·8 B fits one machine.  "join": the model stays a DataFrame and
    # rides the shuffle, so no machine holds more than the slices it
    # needs; it implies mpi_lda output semantics (average_model=False —
    # the MPI path does no averaging either, mpi_lda.cc:234-241).
    model_mode: str = "broadcast"
    # model_mode='join' only: "words" ships each partition the model rows
    # of the words it contains; "chunks" ships every partition the whole
    # model as dense binary chunk rows; "auto" picks from V, K, P and the
    # token count (_resolve_join_exchange).
    join_exchange: str = "auto"

    def validate(self) -> None:
        if self.num_topics < 2:
            raise ValueError("num_topics must be >= 2")
        if self.alpha <= 0 or self.beta <= 0:
            raise ValueError("alpha and beta must be > 0")
        if self.total_iterations <= 0:
            raise ValueError("total_iterations must be > 0")
        if not (0 <= self.burn_in_iterations < self.total_iterations):
            raise ValueError("need 0 <= burn_in_iterations < total_iterations")
        if self.num_partitions is not None and self.num_partitions < 1:
            raise ValueError("num_partitions must be >= 1 (or None to size it by tokens)")
        if self.checkpoint_every < 1:
            raise ValueError("checkpoint_every must be >= 1")
        if self.model_mode not in ("broadcast", "join"):
            raise ValueError("model_mode must be broadcast|join")
        if self.join_exchange not in ("auto", "words", "chunks"):
            raise ValueError("join_exchange must be auto|words|chunks")
        if self.model_mode == "join" and self.average_model:
            raise ValueError(
                "model_mode='join' keeps the model distributed and emits "
                "raw final counts (mpi_lda semantics); set average_model=False"
            )


# Token-volume sizing.  Each Gibbs iteration is one job whose per-task
# fixed cost (scheduling, Arrow round-trip, Python worker dispatch — ~0.2 s
# of worker CPU) is amortized over the tokens in the task — so tasks are
# sized by token volume, not row count:
#   n = min(parallelism, ceil(tokens / _TOKENS_PER_PARTITION))   # small corpora
#   n = max(n, ceil(tokens / _MAX_TOKENS_PER_PARTITION), 1)      # memory floor
# The rule sizes P when TrainConfig.num_partitions is None, and it always
# sizes the z-init and broadcast sweep tasks: min(P, n), each task walking
# a run of whole pids.  P sets the chain, token volume the tasks, and a
# broadcast corpus of at most _TOKENS_PER_PARTITION tokens — one task's
# worth — needs no task at all: it trains on the driver (_exchange).  A
# sf0.1-sized corpus (~1M tokens) gets 4 tasks instead of 32 (8x less
# fixed overhead per iteration); a 100M-token corpus saturates the
# cluster; the floor bounds per-task occ+z memory
# (~8 bytes/token) regardless of parallelism.  More partitions than cores
# is never useful here: AD-LDA staleness and payload volume both grow with
# P (lda_paper.pdf §4.1).
_TOKENS_PER_PARTITION = 250_000
_MAX_TOKENS_PER_PARTITION = 64_000_000


def _auto_partitions(total_tokens: int, parallelism: int) -> int:
    p = min(parallelism, -(-total_tokens // _TOKENS_PER_PARTITION) or 1)
    return max(p, -(-total_tokens // _MAX_TOKENS_PER_PARTITION), 1)


def _num_tasks(num_partitions: int, total_tokens: int, parallelism: int) -> int:
    """Spark tasks of the z-init and broadcast sweep: never more than the
    P pids, otherwise as many as the token volume asks for."""
    return min(num_partitions, _auto_partitions(total_tokens, parallelism))


@dataclass
class TrainResult:
    model: LDAModel                      # averaged or raw per config.average_model
    raw_model: LDAModel                  # final-iteration raw counts (mpi_lda output)
    log_likelihood: list[float] = field(default_factory=list)  # one per iteration if computed
    # model_mode='join' only: the final model as a ``(word_id,
    # topic_counts: array<double>)`` DataFrame — exactly the frame
    # ``infer.transform_model_df`` consumes, so at true scale feed THIS to
    # model-as-DataFrame inference instead of the driver-side `model`
    # (which is still materialized for API parity).
    model_table: DataFrame | None = None


def _fresh_stats(df: DataFrame) -> DataFrame:
    """Re-wrap a (lazily) localCheckpointed frame as a fresh scan of the
    same RDD with DEFAULT leaf statistics.

    Spark 4's ``Dataset.checkpoint`` copies the child plan's *estimated*
    statistics onto the checkpoint's LogicalRDD
    (``LogicalRDD.rewriteStatsAndConstraints``).  The join exchanges'
    per-iteration plan MULTIPLIES child sizes (cogroup × equi-join both
    use the product-of-children default estimator), so the inherited
    ``sizeInBytes`` compounds double-exponentially across iterations —
    by ~iteration 10 every plan-stats query is multiplying million-digit
    BigIntegers and the driver spins forever in
    ``BigInteger.multiplyToomCook3`` (observed via jstack).  The
    broadcast exchange never hits this because its per-iteration plan is
    a unary chain.  Scanning the same checkpointed RDD through
    ``internalCreateDataFrame`` resets the leaf to
    ``defaultSizeInBytes``, keeping every iteration's stats O(1); the
    returned frame shares the checkpoint blocks (release the ORIGINAL
    handle, not this one)."""
    spark = df.sparkSession
    jdf = df._jdf
    jrdd = jdf.queryExecution().toRdd()
    new_jdf = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
    return DataFrame(new_jdf, spark)


# ---------------------------------------------------------------------------
# Executor side: one z-init, one sweep core, and the count payloads.
# ---------------------------------------------------------------------------


def _payload_row(pid: int, acc: np.ndarray, rows: np.ndarray | None, ll: float,
                 num_topics: int) -> pd.DataFrame:
    """A pid's (word, topic) counts as ONE sparse payload row:
    ``doc_id = -(pid+1)``, ``z`` = interleaved int64 [flat_idx, count, …]
    with flat_idx = word·K + topic, ``ll`` = the pid's summed pre-sweep
    log-likelihood.

    ``acc`` is the flat count array of a model whose row r holds global
    word ``rows[r]`` (``rows=None``: row r is word r).  The payload rides
    the sweep's own output, so the reduce reads P tiny rows from the
    checkpoint instead of re-decoding every token array — the shuffle-
    free end of the reference's local-count-then-AllReduce
    (mpi_lda.cc:99-110) — and a likelihood-enabled iteration needs no
    second full pass for the LL partials."""
    K = num_topics
    nz = np.flatnonzero(acc)
    packed = np.empty(2 * nz.shape[0], dtype=np.int64)
    packed[0::2] = nz if rows is None else rows[nz // K] * K + nz % K
    packed[1::2] = acc[nz]
    return pd.DataFrame(
        {
            "pid": np.array([pid], dtype=np.int32),
            "doc_id": np.array([-(pid + 1)], dtype=np.int64),
            "word_occ": [b""],
            "z": [packed.tobytes()],
            "ll": np.array([ll], dtype=np.float64),
        }
    )


def _chunk_rows(pid: int, acc: np.ndarray, rows: np.ndarray | None, ll: float,
                num_topics: int, chunk_width: int, vocab_size: int) -> pd.DataFrame:
    """The chunks exchange's payload: a pid's counts (same ``acc``/``rows``
    contract as :func:`_payload_row`) as one dense binary row per NONZERO
    chunk — ``doc_id = -(chunk_id+1)``, ``z`` = the flat int64 block of
    words [c·W, (c+1)·W).  The LL partial rides the first emitted row."""
    K, W = num_topics, chunk_width
    if rows is not None:
        dense = np.zeros((vocab_size, K), dtype=np.int64)
        dense[rows] = acc.reshape(-1, K)
        acc = dense
    acc2 = acc.reshape(-1, K)
    chunks, bufs = [], []
    for c in range(-(-vocab_size // W)):
        block = acc2[c * W : (c + 1) * W]
        if block.any():
            chunks.append(c)
            bufs.append(np.ascontiguousarray(block, dtype=np.int64).tobytes())
    lls = np.zeros(len(chunks))
    if len(lls):
        lls[0] = ll
    return pd.DataFrame(
        {
            "pid": np.full(len(chunks), pid, dtype=np.int32),
            "doc_id": np.array([-(c + 1) for c in chunks], dtype=np.int64),
            "word_occ": [b""] * len(chunks),
            "z": bufs,
            "ll": lls,
        }
    )


def _pid_runs(batches: Iterable[pd.DataFrame]) -> Iterator[tuple[int, Iterator[pd.DataFrame]]]:
    """A task's Arrow batches, sorted by (pid, doc_id), as runs of pids:
    ``(pid, that pid's docs in doc_id order)``.  A batch is split where the
    pid changes and a run may span batches, so how the task's rows are
    batched does not matter.  Consume each run before taking the next."""

    def pieces() -> Iterator[tuple[int, pd.DataFrame]]:
        for docs in batches:
            if not len(docs):
                continue
            pids = docs["pid"].to_numpy()
            cuts = [0, *(np.flatnonzero(pids[1:] != pids[:-1]) + 1), len(docs)]
            for lo, hi in itertools.pairwise(cuts):
                yield int(pids[lo]), docs.iloc[lo:hi]

    for pid, run in itertools.groupby(pieces(), key=lambda piece: piece[0]):
        yield pid, (docs for _, docs in run)


def _zinit_pass(batches: Iterable[pd.DataFrame], num_topics: int, seed: int,
                encode: Callable) -> Iterator[pd.DataFrame]:
    """Random z-init of one task's packed docs ``(pid, doc_id, word_occ:
    array<int>)``, sorted by (pid, doc_id).  Each pid draws one iid topic
    per occurrence (lda.cc:66-69) from its own (seed, pid, 0) stream, in
    doc_id order.  Yields each pid's docs in the sweep layout, then that
    pid's initial counts through ``encode``."""
    for pid, run in _pid_runs(batches):
        yield from _zinit_pid(pid, run, num_topics, seed, encode)


def _zinit_pid(pid: int, batches: Iterable[pd.DataFrame], num_topics: int, seed: int,
               encode: Callable) -> Iterator[pd.DataFrame]:
    """:func:`_zinit_pass` of ONE pid's docs."""
    rng = kernel.make_rng(seed, pid, 0)
    occ_parts: list[np.ndarray] = []
    z_parts: list[np.ndarray] = []
    for docs in batches:
        occs = [np.asarray(o, dtype=np.int32) for o in docs["word_occ"]]
        zs = [kernel.init_assignments(len(o), num_topics, rng) for o in occs]
        occ_parts += occs
        z_parts += zs
        yield pd.DataFrame(
            {
                "pid": np.full(len(docs), pid, dtype=np.int32),
                "doc_id": docs["doc_id"].to_numpy(),
                "word_occ": [o.tobytes() for o in occs],
                "z": [zz.tobytes() for zz in zs],
                "ll": np.zeros(len(docs)),
            }
        )
    occ = np.concatenate(occ_parts).astype(np.int64)
    rows = np.unique(occ)
    acc = np.bincount(
        np.searchsorted(rows, occ) * num_topics + np.concatenate(z_parts),
        minlength=rows.shape[0] * num_topics,
    )
    yield encode(pid, acc, rows, 0.0)


def _unpack_docs(docs: pd.DataFrame):
    """Binary doc rows → (offsets, word_occ, z) flat int32 arrays."""
    lens = (docs["word_occ"].map(len).to_numpy() // 4).astype(np.int64)
    offsets = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    word_occ = (
        np.frombuffer(b"".join(docs["word_occ"]), dtype=np.int32).copy()
        if len(docs) else np.empty(0, np.int32)
    )
    z = (
        np.frombuffer(b"".join(docs["z"]), dtype=np.int32).copy()
        if len(docs) else np.empty(0, np.int32)
    )
    return offsets, word_occ, z


def _sweep_pid(pid: int, batches: Iterable[pd.DataFrame], nwk0: np.ndarray,
               nk0: np.ndarray, rows: np.ndarray | None,
               index: Callable[[np.ndarray], np.ndarray], encode: Callable,
               config: TrainConfig, vocab_size: int, iteration: int) -> Iterator[pd.DataFrame]:
    """One pid's Gibbs sweep — the core every exchange runs.

    ``batches`` are the pid's docs in doc_id order; ``(nwk0, nk0)`` is the
    iteration's input model, n_wk row r holding global word ``rows[r]``
    (``rows=None``: all V words in order), and ``index`` maps global word
    ids to those rows (raising if one is missing).  Every doc's likelihood
    is scored against the INPUT model before the sweep (lda.cc:128-136),
    so it does not depend on how the docs are batched; the sweep runs on a
    private copy that carries over from batch to batch, like the
    reference's per-rank replica.  Yields the swept doc rows, then the
    pid's new counts and summed likelihood through ``encode``."""
    K = nk0.shape[0]
    nwk, nk = nwk0.copy(), nk0.copy()
    acc = np.zeros(nwk.size, dtype=np.int64)
    rng = kernel.make_rng(config.seed, pid, iteration + 1)
    lls: list[np.ndarray] = []
    for docs in batches:
        offsets, word_occ, z = _unpack_docs(docs)
        occ = index(word_occ)
        ll = (
            kernel.doc_log_likelihoods(occ, z, offsets, nwk0, nk0, config.alpha,
                                       config.beta, vocab_size)
            if config.compute_likelihood else np.zeros(len(docs))
        )
        kernel.sweep_docs(
            occ, z, offsets, nwk, nk, config.alpha, config.beta, rng,
            update_model=True, vocab_size=vocab_size,
        )
        acc += np.bincount(occ.astype(np.int64) * K + z, minlength=acc.shape[0])
        lls.append(ll)
        yield pd.DataFrame(
            {
                "pid": np.full(len(docs), pid, dtype=np.int32),
                "doc_id": docs["doc_id"].to_numpy(),
                "word_occ": docs["word_occ"].to_numpy(),
                "z": [z[offsets[d]:offsets[d + 1]].tobytes() for d in range(len(docs))],
                "ll": ll,
            }
        )
    yield encode(pid, acc, rows, float(np.concatenate(lls).sum()))


def _same_ids(word_occ: np.ndarray) -> np.ndarray:
    """The n_wk row of a word when the model holds all V words in order."""
    return word_occ


def _broadcast_sweep_fn(bc_nwk, encode: Callable, config: TrainConfig, vocab_size: int,
                        iteration: int):
    """mapInPandas sweep of one task's runs of pids (rows in (pid, doc_id)
    order) against the broadcast model, one pid at a time."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nwk0 = bc_nwk.value
        nk0 = nwk0.sum(axis=0)
        for pid, run in _pid_runs(batches):
            yield from _sweep_pid(pid, run, nwk0, nk0, None, _same_ids, encode, config,
                                  vocab_size, iteration)

    return fn


def _words_slice(model: pd.DataFrame, num_topics: int):
    """Words exchange: the pid's model rows sorted by word id, and the
    global-id → slice-row map for its docs."""
    order = np.argsort(model["word_id"].to_numpy())
    rows = model["word_id"].to_numpy()[order].astype(np.int64)
    nwk = (
        np.stack([np.asarray(c, dtype=np.int64) for c in model["cnts"].to_numpy()[order]])
        if len(model)
        else np.zeros((0, num_topics), dtype=np.int64)
    )

    def index(word_occ: np.ndarray) -> np.ndarray:
        loc = np.searchsorted(rows, word_occ.astype(np.int64))
        # Invariant: every word occurring in this partition has a model
        # row in the slice.  Checked with a real raise (not assert — that
        # vanishes under ``python -O``), and searchsorted can return
        # len(rows) for past-the-end words, so bounds-check before
        # fancy-indexing or the error surfaces as an opaque IndexError.
        in_range = loc < len(rows)
        ok = in_range.copy()
        ok[in_range] = rows[loc[in_range]] == word_occ[in_range]
        if not ok.all():
            missing = np.unique(word_occ[~ok])[:20]
            raise RuntimeError(
                f"partition word(s) missing from model slice: {missing.tolist()}"
            )
        return loc.astype(np.int32)

    return nwk, rows, index


def _chunks_block(model: pd.DataFrame, num_topics: int, vocab_size: int, chunk_width: int):
    """Chunks exchange: the dense V×K model assembled from the chunk rows;
    word ids index it directly."""
    K, W = num_topics, chunk_width
    nwk = np.zeros((vocab_size, K), dtype=np.int64)
    for cid, buf in zip(model["chunk_id"], model["cnts"]):
        block = np.frombuffer(buf, dtype=np.int64).reshape(-1, K)
        nwk[cid * W : cid * W + block.shape[0]] = block

    def index(word_occ: np.ndarray) -> np.ndarray:
        # Invariant (the chunks counterpart of the words-slice guard):
        # every word occurring here was counted at init, so its model row
        # must be nonzero.  A zero row means a chunk went missing
        # (lost/partial checkpoint, pid-geometry mismatch) and sweeping
        # against it would drive counts negative and corrupt the model
        # SILENTLY — raise instead (a real raise, not assert).
        present = np.unique(word_occ.astype(np.int64))
        covered = nwk[present].sum(axis=1) > 0
        if not covered.all():
            missing = present[~covered][:20]
            raise RuntimeError(
                f"partition word(s) have empty model chunks: {missing.tolist()}"
            )
        return word_occ

    return nwk, None, index


def _cogroup_sweep_fn(assemble, nk: np.ndarray, encode: Callable, config: TrainConfig,
                      vocab_size: int, iteration: int):
    """Cogrouped sweep of the join exchanges: (docs of a pid) × (the model
    rows it receives), the model assembled by ``assemble``."""

    def fn(key, docs: pd.DataFrame, model: pd.DataFrame) -> pd.DataFrame:
        if not len(docs):  # chunks reach every pid, with docs or not
            return docs
        nwk0, rows, index = assemble(model)
        out = _sweep_pid(int(key[0]), [docs.sort_values("doc_id")], nwk0, nk, rows, index,
                         encode, config, vocab_size, iteration)
        return pd.concat(list(out), ignore_index=True)

    return fn


# ---------------------------------------------------------------------------
# Driver side: the exchanges.  Each has the same steps — the first
# generation (z-init or a checkpoint), the per-iteration sweep, a reduce
# returning (n_k, n_wk or None, likelihood), and the final model — and
# keeps its own job shape: one job per iteration for broadcast, the
# cogroup plus the n_k collect for the join exchanges, none for the
# driver path.
# ---------------------------------------------------------------------------


def _pid(num_partitions: int):
    """A doc's AD-LDA partition: pmod(hash(doc_id), P), Spark's Murmur3."""
    return F.pmod(F.hash("doc_id"), F.lit(num_partitions)).cast("int")


def _lay_out(df: DataFrame, tasks: int) -> DataFrame:
    """Docs hash-partitioned by doc_id into P, laid out in ``tasks`` Spark
    tasks.  Every partition holds whole pids: partition p holds pid p, or
    a run of them where AQE coalesced the exchange.  ``coalesce`` is
    narrow and keeps partitions whole, so each task holds whole pids too,
    and the sort puts each pid's docs together, in doc_id order.  This is
    the one sort: checkpoints keep row order, so from here on every
    broadcast sweep streams its task in (pid, doc_id) order without a
    shuffle.  The driver path collects its triples unsorted and sorts
    them once, in :func:`_pack_triples`."""
    return df.coalesce(tasks).sortWithinPartitions("pid", "doc_id")


# The broadcast reduce sums the P payload rows on the driver below this
# partition count — one collect of P sparse rows beats an extra shuffle.
# From it on, driver bandwidth (P·nnz ints) is the bottleneck, and a
# map-side-combined groupBy pre-sums the payloads so the driver receives at
# most nnz(V×K) rows however many partitions exist.
_SHUFFLE_AGG_MIN_PARTITIONS = 256


def _payload_ll(df_z: DataFrame) -> float:
    """The summed pre-sweep likelihood of a generation, from its payload
    rows.  ``fsum`` is exact, so the result does not depend on row order
    or on how the exchange split the partials across rows."""
    pdf = df_z.where(F.col("doc_id") < 0).select("ll").toPandas()
    return math.fsum(pdf["ll"])


def _reduce_shuffle(df_z: DataFrame, size: int) -> tuple[np.ndarray, float]:
    """Shuffle-combined model rebuild: decode each payload row into
    (flat_idx, count) pairs executor-side, groupBy(flat_idx).sum (map-side
    combined), and collect at most nnz(V×K) summed rows — driver traffic
    independent of partition count, the tree end of the reference's
    chunked AllReduce (mpi_lda.cc:58-92).  Each payload's LL partial
    rides one extra row keyed by the payload's own negative doc_id, so
    the same job returns counts AND likelihood, and the driver ``fsum``s
    the P partials exactly as :func:`_payload_sum` does."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for key, buf, ll_part in zip(pdf["doc_id"], pdf["z"], pdf["ll"]):
                a = np.frombuffer(buf, dtype=np.int64)
                yield pd.DataFrame({
                    "idx": np.append(a[0::2], key),
                    "cnt": np.append(a[1::2], 0),
                    "ll": np.append(np.zeros(a.shape[0] // 2), ll_part),
                })

    summed = (
        df_z.where(F.col("doc_id") < 0)
        .select("doc_id", "z", "ll")
        .mapInPandas(decode, schema="idx long, cnt long, ll double")
        .groupBy("idx")
        .agg(F.sum("cnt").alias("cnt"), F.sum("ll").alias("ll"))
        .toPandas()
    )
    counts = summed[summed["idx"] >= 0]
    flat = np.zeros(size, dtype=np.int64)
    flat[counts["idx"].to_numpy()] = counts["cnt"].to_numpy()
    return flat, math.fsum(summed["ll"])


def _payload_sum(payloads: pd.DataFrame, size: int) -> tuple[np.ndarray, float]:
    """Sum sparse payload rows ``(z, ll)`` on the driver: the flat V·K
    counts, and the summed likelihood (``fsum``, so row order does not
    matter)."""
    flat = np.zeros(size, dtype=np.int64)
    for buf in payloads["z"]:
        a = np.frombuffer(buf, dtype=np.int64)
        flat[a[0::2]] += a[1::2]
    return flat, math.fsum(payloads["ll"])


class _Exchange:
    """What the Spark exchanges share: a generation is a lazily
    checkpointed DataFrame, started from the z-init or a checkpoint."""

    def __init__(self, spark, vocab_size: int, num_partitions: int, chunk_width: int,
                 config: TrainConfig) -> None:
        self.spark = spark
        self.V, self.P, self.W, self.config = vocab_size, num_partitions, chunk_width, config

    @staticmethod
    def setup(corpus: DataFrame, num_partitions: int) -> tuple[list, DataFrame]:
        """The sorted vocabulary, collected, and the packed docs with their
        pid, lazy: ``(pid, doc_id, word_occ)`` hash-partitioned by doc_id
        into P."""
        spark = corpus.sparkSession
        # word_id is BY CONTRACT the lexicographic rank, and the sorted
        # word list is needed on the driver anyway (model + checkpoint),
        # so one distinct+sort collect builds the vocabulary.
        with job_phase(spark, "lda.train", "vocab"):
            words = [r["word"] for r in corpus.select("word").distinct().orderBy("word").collect()]
        corpus_ids = remap_words(corpus, vocab_table(spark, words)).select(
            "doc_id", "word_id", "count"
        )
        # pack_docs hash-partitions by doc_id into P, so a partition holds
        # whole pids.  When P equals spark.sql.shuffle.partitions Spark
        # reuses the doc_id aggregate's exchange for it, which AQE may
        # coalesce into runs of pids; _lay_out handles both.
        return words, pack_docs(corpus_ids, num_partitions).withColumn(
            "pid", _pid(num_partitions)
        )

    def zinit(self, packed: DataFrame, tasks: int, lineage: _Lineage) -> DataFrame:
        """The z-init, with its payload rows in ``encode``'s wire format, in
        ``tasks`` Spark tasks and no shuffle."""
        zinit = partial(_zinit_pass, num_topics=self.config.num_topics, seed=self.config.seed,
                        encode=self.encode)
        return lineage.cut(_lay_out(packed, tasks).mapInPandas(zinit, schema=_SWEEP_SCHEMA))

    def resume(self, df_z: DataFrame, lineage: _Lineage) -> DataFrame:
        return lineage.cut(df_z)

    def frame(self, df_z: DataFrame) -> DataFrame:
        """The generation as a DataFrame, for the checkpoint writer."""
        return df_z

    def close(self) -> None:
        pass


class _Broadcast(_Exchange):
    """model_mode='broadcast': the driver-held n_wk, re-broadcast each
    iteration; the sweep, its checkpoint and the payload collect are ONE
    job."""

    name = "broadcast"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.encode = partial(_payload_row, num_topics=self.config.num_topics)
        self._bc = None

    def sweep(self, df_z: DataFrame, it: int, nk, nwk, lineage: _Lineage) -> DataFrame:
        self._bc = self.spark.sparkContext.broadcast(nwk)
        # Payload rows carry the previous pass's counts and must not enter
        # the sweep; the filter is narrow (no shuffle).
        return lineage.cut(df_z.where(F.col("doc_id") >= 0).mapInPandas(
            _broadcast_sweep_fn(self._bc, self.encode, self.config, self.V, it),
            schema=_SWEEP_SCHEMA,
        ))

    def reduce(self, df_z: DataFrame, lineage: _Lineage):
        """Rebuild n_wk from the per-pid payloads — the reduce end of
        the reference's AllReduce (mpi_lda.cc:58-110)."""
        flat, ll = self._sum(df_z)
        # The sweep that read the broadcast has run; its checkpoint holds
        # the output, so nothing can recompute through the closure.
        self.close()
        nwk = flat.reshape(self.V, self.config.num_topics)
        return nwk.sum(axis=0), nwk, ll

    def _sum(self, df_z: DataFrame) -> tuple[np.ndarray, float]:
        size = self.V * self.config.num_topics
        if self.P >= _SHUFFLE_AGG_MIN_PARTITIONS:
            return _reduce_shuffle(df_z, size)
        return _payload_sum(df_z.where(F.col("doc_id") < 0).select("z", "ll").toPandas(), size)

    def final(self, nwk, lineage: _Lineage):
        return nwk, None

    def close(self) -> None:
        if self._bc is not None:
            self._bc.destroy()
            self._bc = None


class _Driver(_Broadcast):
    """The broadcast exchange for a corpus within one task's token budget,
    run in the caller's process — plda's single-process ``lda``
    (lda.cc:99-148) beside its ``mpi_lda``.  Its setup is one Arrow
    collect of the corpus triples, from which numpy builds the same
    vocabulary and packed docs the Spark setup builds.  A generation is a
    pandas frame of the same rows a Spark generation holds, and every step
    calls the executor code above: no Python task and no Spark job per
    iteration, the same chain, payloads and checkpoints."""

    @staticmethod
    def setup(corpus: DataFrame, num_partitions: int) -> tuple[list, pd.DataFrame]:
        """The Spark setup's vocabulary and packed docs from ONE collect:
        the triples with their pid, computed in the same projection, in
        whatever order they arrive.  plda's ``lda`` likewise reads the
        corpus and builds its vocabulary in one pass (lda.cc:71-77)."""
        triples = corpus.select("doc_id", "word", "count", _pid(num_partitions).alias("pid"))
        with job_phase(corpus.sparkSession, "lda.train", "collect"):
            return _pack_triples(triples.toPandas())

    def zinit(self, docs: pd.DataFrame, tasks: int, lineage: _Lineage) -> pd.DataFrame:
        return _generation(
            _zinit_pass([docs], self.config.num_topics, self.config.seed, self.encode)
        )

    def resume(self, df_z: DataFrame, lineage: _Lineage) -> pd.DataFrame:
        return df_z.toPandas()

    def sweep(self, gen: pd.DataFrame, it: int, nk, nwk, lineage: _Lineage) -> pd.DataFrame:
        fn = _broadcast_sweep_fn(SimpleNamespace(value=nwk), self.encode, self.config,
                                 self.V, it)
        return _generation(fn([gen[gen["doc_id"] >= 0]]))

    def _sum(self, gen: pd.DataFrame) -> tuple[np.ndarray, float]:
        return _payload_sum(gen[gen["doc_id"] < 0], self.V * self.config.num_topics)

    def frame(self, gen: pd.DataFrame) -> DataFrame:
        return self.spark.createDataFrame(gen, _SWEEP_SCHEMA)


def _pack_triples(triples: pd.DataFrame) -> tuple[list, pd.DataFrame]:
    """Collected ``(doc_id, word, count, pid)`` triples, in any order →
    the sorted vocabulary and the packed docs ``(pid, doc_id, word_occ)``
    in (pid, doc_id) order, as the Spark setup builds them.  The vocabulary
    is ``distinct().orderBy("word")``: Python's code-point order is
    Spark's binary UTF-8 order, and a NULL word sorts first and, like the
    remap join, matches no triple.  ``word_occ`` is :func:`pack_docs`'
    array, packed by the numpy core it shares with the CLI ``infer``'s
    driver path (``corpus._pack_rows``)."""
    codes, uniques = pd.factorize(triples["word"].to_numpy(), sort=True)
    null_word = int((codes < 0).any())
    t = triples.assign(word_id=(codes + null_word).astype(np.int32))[codes >= 0]
    docs, word_occ, offsets = _pack_rows(t, ["pid", "doc_id"])
    return [None] * null_word + uniques.tolist(), docs.assign(
        word_occ=[word_occ[s:e] for s, e in zip(offsets[:-1], offsets[1:])]
    )


def _generation(frames: Iterable[pd.DataFrame]) -> pd.DataFrame:
    """A driver-path generation: the rows a Spark task would emit, in order."""
    frames = list(frames)
    if not frames:  # a corpus of empty docs
        return pd.DataFrame({"pid": np.empty(0, np.int32), "doc_id": np.empty(0, np.int64),
                             "word_occ": [], "z": [], "ll": np.empty(0)})
    return pd.concat(frames, ignore_index=True)


class _Join(_Exchange):
    """model_mode='join': the model table is rebuilt executor-side from the
    payload rows and only the K-vector n_k (model.cc:147-151) reaches the
    driver.  Subclasses define the wire format."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.model: DataFrame | None = None
        self._model_ckpt: DataFrame | None = None

    def sweep(self, df_z: DataFrame, it: int, nk, nwk, lineage: _Lineage) -> DataFrame:
        fn = _cogroup_sweep_fn(self.assemble, nk, self.encode, self.config, self.V, it)
        return lineage.cut(
            df_z.where(F.col("doc_id") >= 0)
            .groupby("pid")
            .cogroup(self._slices().groupby("pid"))
            .applyInPandas(fn, schema=_SWEEP_SCHEMA)
        )

    def reduce(self, df_z: DataFrame, lineage: _Lineage):
        # Lazy model checkpoint: the n_k read below is a full pass over the
        # model table, so it is the materializing action — ONE job runs
        # sweep → persist z blocks → model rebuild → persist model blocks →
        # n_k collect.  No _fresh_stats on df_z: its checkpoint keeps the
        # cogroup's output partitioning, and its inherited stats grow only
        # linearly; the model's rebase is what breaks the exponential
        # squaring (it would otherwise inherit the corpus product and feed
        # it back in).
        self._model_ckpt = lineage.cut(self._model_of(df_z))
        self.model = _fresh_stats(self._model_ckpt)
        nk = self._nk()
        ll = _payload_ll(df_z) if self.config.compute_likelihood else 0.0
        return nk, None, ll

    def final(self, nwk, lineage: _Lineage):
        """Driver materialization for API parity (tests, describe_topics,
        serde).  At true scale, use the returned table with
        model-as-DataFrame inference and skip this collect."""
        K = self.config.num_topics
        rows = self._rows()
        mpdf = rows.toPandas()
        nwk = np.zeros((self.V, K), dtype=np.int64)
        if len(mpdf):
            nwk[mpdf["word_id"].to_numpy().astype(np.int64)] = np.stack(
                [np.asarray(c, dtype=np.int64) for c in mpdf["cnts"]]
            )
        # The returned table reads the final model's blocks.
        lineage.keep(self._model_ckpt)
        # model_table in the exact shape transform_model_df consumes
        # ((word_id, topic_counts: array<double>)) so the documented
        # at-scale hand-off needs no rename or cast.
        return nwk, rows.select(
            "word_id",
            F.transform("cnts", lambda c: c.cast("double")).alias("topic_counts"),
        )


class _Words(_Join):
    """Each partition receives ONLY the model rows for words its documents
    contain — an equi-join of the static ``(pid, word_id)`` membership
    table with the model, cogrouped with the assignments by pid.  Shipped
    volume is Σ_w K·|partitions(w)| ≤ P·V·K through a shuffle; the sweep
    remaps the partition's word ids into a dense local sub-model with the
    true-V smoothing override."""

    name = "words"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.encode = partial(_payload_row, num_topics=self.config.num_topics)
        self.assemble = partial(_words_slice, num_topics=self.config.num_topics)
        self.word_pid: DataFrame | None = None

    def reduce(self, df_z: DataFrame, lineage: _Lineage):
        if self.word_pid is None:
            # First reduce (fresh or resumed): docs never move between
            # pids, so the membership table is built once, from the
            # assignments.  Pre-partitioned by word_id and PERSISTED (not
            # localCheckpoint: a checkpoint's Scan ExistingRDD reports
            # UnknownPartitioning, so the per-iteration slice join would
            # re-exchange this table — the LARGEST relation in that join —
            # every iteration; an InMemoryRelation keeps the hash
            # partitioning, so the join reuses it, plan-verified).  At
            # local scale AQE simply broadcasts the cached table instead.
            self.word_pid = (
                df_z.where(F.col("doc_id") >= 0)
                .select("pid", "word_occ", "z")
                .mapInPandas(_members, schema="pid int, word_id long")
                .distinct()
                .repartition("word_id")
                .persist()
            )
            self.word_pid.count()
        return super().reduce(df_z, lineage)

    def _model_of(self, df_z: DataFrame) -> DataFrame:
        """Payload rows → the ``(word_id, cnts: array<long>)`` model table:
        decode the int64 (idx, cnt) pairs executor-side, sum by (word,
        topic) (map-side combined), pivot the K known topics into a dense
        array.  The driver touches nothing."""
        K = self.config.num_topics

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for buf in pdf["z"]:
                    a = np.frombuffer(buf, dtype=np.int64)
                    yield pd.DataFrame(
                        {
                            "word_id": a[0::2] // K,
                            "topic": (a[0::2] % K).astype(np.int32),
                            "cnt": a[1::2],
                        }
                    )

        pivoted = (
            df_z.where(F.col("doc_id") < 0)
            .select("z")
            .mapInPandas(decode, schema="word_id long, topic int, cnt long")
            .groupBy("word_id")
            .pivot("topic", list(range(K)))
            .agg(F.sum("cnt"))
        )
        return pivoted.select(
            "word_id",
            F.array(
                *[F.coalesce(F.col(str(t)), F.lit(0)).cast("long") for t in range(K)]
            ).alias("cnts"),
        )

    def _nk(self) -> np.ndarray:
        nk = np.zeros(self.config.num_topics, dtype=np.int64)
        for r in (
            self.model.select(F.posexplode("cnts").alias("t", "c"))
            .groupBy("t")
            .agg(F.sum("c").alias("c"))
            .collect()
        ):
            nk[r["t"]] = r["c"]
        return nk

    def _slices(self) -> DataFrame:
        return self.word_pid.join(self.model, "word_id").select("pid", "word_id", "cnts")

    def _rows(self) -> DataFrame:
        return self.model

    def close(self) -> None:
        if self.word_pid is not None:
            self.word_pid.unpersist()
            self.word_pid = None


def _members(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doc rows → the distinct (pid, word_id) pairs they contain."""
    for pdf in batches:
        offsets, word_occ, _ = _unpack_docs(pdf)
        pid = np.repeat(pdf["pid"].to_numpy().astype(np.int64), np.diff(offsets))
        key = np.unique((pid << 32) | word_occ.astype(np.int64))
        yield pd.DataFrame({"pid": (key >> 32).astype(np.int32), "word_id": key & 0xFFFFFFFF})


# --- chunks: dense binary chunk model exchange ---------------------------
# When every partition contains (nearly) the whole vocabulary — which a
# partition holding ≥V tokens of Zipfian text almost always does — the
# words exchange ships P near-full model copies as P·V tiny array rows, and
# profiling showed the row/sort/Arrow machinery (not the kernel, ~0.2 s of
# a ~10 s iteration) dominating.  The chunks exchange moves the same bytes
# as C dense binary chunk rows and reduces the rebuild to a per-chunk
# buffer sum — measured ~2× faster per iteration at NYTimes scale (see
# BENCH_LDA_SCALE.json).

_CHUNK_TARGET_BYTES = 4 << 20     # aim ~4 MB per chunk row
# 'auto' per-task memory budget for the chunks exchange.  A chunk-mode
# task holds ~3 dense V·K copies at peak (the assembled nwk, the local
# acc, and the received chunk / emitted delta byte buffers), so the
# V·K·8 block itself is budgeted at a third of the allowance
# (384 MB/task → dense blocks up to 128 MB qualify).
_CHUNK_TASK_BUDGET_BYTES = 384 << 20
_CHUNK_DENSE_COPIES = 3
# 'auto' per-iteration WIRE-VOLUME cap for the chunks exchange.  Chunks
# replicate the dense V·K block to every partition — P·V·K·8 bytes on the
# shuffle per iteration — while words route each partition only its own
# word slices; a block that comfortably fits one task can still be a
# multi-TB per-iteration exchange at P=1000.  At the single-digit-GiB
# level a 1000-executor shuffle absorbs the replication cheaply; beyond
# it the words format's slice routing wins.
_CHUNK_EXCHANGE_BUDGET_BYTES = 8 << 30


def _chunk_grid(vocab_size: int, num_topics: int, parallelism: int) -> tuple[int, int]:
    """(C, W): chunk count and width.  C ≥ parallelism so the rebuild's
    per-chunk sum saturates the cluster; chunks shrink toward
    _CHUNK_TARGET_BYTES as V·K grows."""
    nbytes = vocab_size * num_topics * 8
    c = max(parallelism, -(-nbytes // _CHUNK_TARGET_BYTES), 1)
    c = min(c, vocab_size)
    w = -(-vocab_size // c)
    return -(-vocab_size // w), w


class _Chunks(_Join):
    """The model is C rows (chunk_id, cnts: binary), chunk c = the flat
    int64 count block for words [c·W, min(V,(c+1)·W)).  Per iteration each
    pid receives all C chunks through a pid×chunk cross join whose
    BROADCAST side is the P-row pid table (the model itself only ever
    rides the shuffle) and emits its counts back as per-chunk binary rows
    that a per-chunk buffer sum reduces into the next model — the closest
    Spark shape to the reference's chunked AllReduce (mpi_lda.cc:58-92)."""

    name = "chunks"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        K = self.config.num_topics
        self.encode = partial(_chunk_rows, num_topics=K, chunk_width=self.W,
                              vocab_size=self.V)
        self.assemble = partial(_chunks_block, num_topics=K, vocab_size=self.V,
                                chunk_width=self.W)
        self.pids = self.spark.range(self.P).select(F.col("id").cast("int").alias("pid"))

    def _model_of(self, df_z: DataFrame) -> DataFrame:
        """Per-pid chunk rows → the (chunk_id, cnts, tsum) model table: one
        buffer sum per chunk (groups are ≤P rows of one chunk's block).
        ``tsum`` is the chunk's K-vector of per-topic totals, computed here
        while the summed block is already in hand, so the n_k read is a
        narrow C-row collect instead of a re-decode of the count blocks."""
        K = self.config.num_topics

        def sum_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            cid = -int(key[0]) - 1
            bufs = [np.frombuffer(b, dtype=np.int64) for b in pdf["z"]]
            width = max(b.shape[0] for b in bufs)
            total = np.zeros(width, dtype=np.int64)
            for b in bufs:
                total[: b.shape[0]] += b
            tsum = total.reshape(-1, K).sum(axis=0)
            return pd.DataFrame(
                {"chunk_id": [cid], "cnts": [total.tobytes()], "tsum": [tsum.tobytes()]}
            )

        return (
            df_z.where(F.col("doc_id") < 0)
            .select("doc_id", "z")
            .groupBy("doc_id")
            .applyInPandas(sum_fn, schema="chunk_id int, cnts binary, tsum binary")
        )

    def _nk(self) -> np.ndarray:
        nk = np.zeros(self.config.num_topics, dtype=np.int64)
        for r in self.model.select("tsum").collect():
            nk += np.frombuffer(r["tsum"], dtype=np.int64)
        return nk

    def _slices(self) -> DataFrame:
        return F.broadcast(self.pids).crossJoin(self.model.select("chunk_id", "cnts"))

    def _rows(self) -> DataFrame:
        """Chunk table → (word_id, cnts: array<long>) rows, decoded
        executor-side."""
        K, W = self.config.num_topics, self.W

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for cid, buf in zip(pdf["chunk_id"], pdf["cnts"]):
                    block = np.frombuffer(buf, dtype=np.int64).reshape(-1, K)
                    yield pd.DataFrame(
                        {
                            "word_id": cid * W + np.arange(block.shape[0], dtype=np.int64),
                            "cnts": list(block),
                        }
                    )

        return self.model.mapInPandas(decode, schema="word_id long, cnts array<long>")


_EXCHANGES = {"broadcast": _Broadcast, "words": _Words, "chunks": _Chunks}


def _exchange(name: str, total_tokens: int) -> type[_Exchange]:
    """The exchange that runs ``name``: the driver path when a broadcast
    corpus fits the token budget of one task, where a Spark job per
    iteration would only add its fixed cost.  Join mode stays on Spark,
    being for models too large for one machine."""
    if name == "broadcast" and total_tokens <= _TOKENS_PER_PARTITION:
        return _Driver
    return _EXCHANGES[name]


def _resolve_join_exchange(config: TrainConfig, vocab_size: int,
                           total_tokens: int, num_partitions: int) -> str:
    """'auto' picks chunks when (a) the dense V·K block fits the per-task
    budget, (b) partitions average ≥V tokens — the regime where
    word-slicing degenerates into shipping near-full model copies row by
    row — and (c) the per-iteration replication volume P·V·K·8 stays
    inside _CHUNK_EXCHANGE_BUDGET_BYTES.  Words otherwise: giant V·K,
    where dense per-task state is unaffordable and slicing genuinely
    prunes."""
    if config.join_exchange != "auto":
        return config.join_exchange
    nbytes = vocab_size * config.num_topics * 8
    dense_ok = nbytes * _CHUNK_DENSE_COPIES <= _CHUNK_TASK_BUDGET_BYTES
    token_rich = total_tokens >= vocab_size * num_partitions
    volume_ok = nbytes * num_partitions <= _CHUNK_EXCHANGE_BUDGET_BYTES
    return "chunks" if (dense_ok and token_rich and volume_ok) else "words"


def _save_checkpoint(path: str, df_z: DataFrame, it: int, lls, words, accum, ex,
                     total_tokens: int) -> None:
    """The assignments (parquet, payload rows included) plus one npz of
    driver state.  The exchange, its partition count and chunk width are
    saved because a resumed run must continue in the geometry it started
    with: rows carry pids baked from the original P.  The token total
    sizes the resumed run's tasks for the cluster it resumes on.  n_wk is
    not saved — the payload rows rebuild it."""
    df_z.write.mode("overwrite").parquet(f"{path}/assignments")
    np.savez(
        f"{path}/state.npz",
        next_iteration=it + 1,
        lls=np.asarray(lls, dtype=np.float64),
        words=np.asarray(words, dtype=object),
        accum=np.zeros(0) if accum is None else accum,
        exchange=ex.name,
        num_partitions=ex.P,
        chunk_width=ex.W,
        num_tokens=total_tokens,
    )


def _load_checkpoint(spark, path: str):
    """Inverse of :func:`_save_checkpoint`: (state npz, assignments), the
    assignments hash-partitioned into the checkpoint's P and laid out the
    way a fresh run lays them out, in as many tasks as the checkpoint's
    token total asks for on this cluster."""
    with np.load(f"{path}/state.npz", allow_pickle=True) as npz:
        state = dict(npz)
    P = int(state["num_partitions"])
    tasks = _num_tasks(P, int(state["num_tokens"]), spark.sparkContext.defaultParallelism)
    df_z = _lay_out(spark.read.parquet(f"{path}/assignments").repartition(P, "doc_id"), tasks)
    return state, df_z


def train(corpus: DataFrame, config: TrainConfig, resume_from: str | None = None) -> TrainResult:
    """Train on canonical ``(doc_id, word, count)`` triples.

    ``resume_from`` restarts from a checkpoint written by
    ``config.checkpoint_dir``.  The checkpoint's exchange and partition
    count win over ``config``, and the resumed run is bit-identical to an
    uninterrupted one: every sweep depends only on (assignments, model,
    seed, pid, iteration), all of which the checkpoint reproduces.
    """
    config.validate()
    spark = corpus.sparkSession
    K = config.num_topics
    setup, prev, lineage = _Lineage(), _Lineage(), _Lineage()
    ex = None
    try:
        if resume_from is None:
            # LAZY checkpoint on the corpus triples: every setup pass reads
            # this frame — the guard/token aggregate below, then either the
            # driver path's one collect of the triples or the Spark path's
            # vocabulary distinct and the remap+pack feeding z-init.  When
            # the triples arrive as doc_term_counts(tokenize(docs)) (the
            # train_documents path), each pass would re-run the full
            # tokenize explode + count aggregation; the checkpoint
            # materializes it ONCE (the guard agg is the first action).
            corpus = setup.cut(_int_counts(corpus))
            # doc_id < 0 is the internal payload-row sentinel: a negative
            # user doc_id would be excluded from every sweep AND decoded as
            # count-payload garbage into the model.  One cheap columnar agg
            # up front rejects it loudly, and the token total (the path,
            # auto partition sizing, join exchange resolution) rides it.
            with job_phase(spark, "lda.train", "guard"):
                guard = corpus.agg(
                    F.min("doc_id").alias("__min_id"), F.sum("count").alias("__tokens")
                ).collect()[0]
            min_id = guard["__min_id"]
            total_tokens = int(guard["__tokens"] or 0)
            if min_id is not None and min_id < 0:
                raise ValueError(
                    f"doc_id must be >= 0 (got {min_id}); negative ids are "
                    "reserved for internal payload rows"
                )
            parallelism = spark.sparkContext.defaultParallelism
            P = config.num_partitions or _auto_partitions(total_tokens, parallelism)
            # Broadcast mode picks its exchange from the token total, so
            # the driver path builds its setup from one collect; join mode
            # needs V to pick one and takes the Spark setup.
            cls = (_exchange("broadcast", total_tokens) if config.model_mode == "broadcast"
                   else _Join)
            words, docs = cls.setup(corpus, P)
            V = len(words)
            if V == 0:
                raise ValueError("empty vocabulary")
            if cls is _Join:
                cls = _exchange(_resolve_join_exchange(config, V, total_tokens, P), total_tokens)
            name = cls.name
            W = _chunk_grid(V, K, parallelism)[1] if name == "chunks" else 0
            ex = cls(spark, V, P, W, config)
            df_z = ex.zinit(docs, _num_tasks(P, total_tokens, parallelism), lineage)
            lls: list[float] = []
            accum = np.zeros((V, K)) if name == "broadcast" else None
            start_it = 0
        else:
            state, df_z = _load_checkpoint(spark, resume_from)
            words = state["words"].tolist()
            V = len(words)
            name = str(state["exchange"])
            total_tokens = int(state["num_tokens"])
            ex = _exchange(name, total_tokens)(
                spark, V, int(state["num_partitions"]), int(state["chunk_width"]), config
            )
            with job_phase(spark, "lda.train", "resume"):
                df_z = ex.resume(df_z, lineage)
            lls = [float(x) for x in state["lls"]]
            accum = state["accum"] if name == "broadcast" else None
            start_it = int(state["next_iteration"])
            if config.average_model and accum is None:
                raise ValueError(
                    f"checkpoint was written by the {name} exchange, which keeps "
                    "no running average; set average_model=False"
                )

        with job_phase(spark, "lda.train", "zinit" if resume_from is None else "resume"):
            nk, nwk, _ = ex.reduce(df_z, lineage)
        # The reduce materialized the first generation (the driver path's
        # setup collected the triples) — nothing reads them again.
        setup.release()
        for it in range(start_it, config.total_iterations):
            prev, lineage = lineage, _Lineage()
            df_z = ex.sweep(df_z, it, nk, nwk, lineage)
            nk, nwk, ll = ex.reduce(df_z, lineage)
            # The reduce was the iteration's one action and the new
            # checkpoint now holds its output: the previous generation has
            # no readers left.
            prev.release()
            if config.compute_likelihood:
                lls.append(ll)
            if accum is not None and it >= config.burn_in_iterations:
                accum += nwk
            if config.checkpoint_dir and (it + 1) % config.checkpoint_every == 0:
                _save_checkpoint(config.checkpoint_dir, ex.frame(df_z), it, lls, words, accum,
                                 ex, total_tokens)
        nwk, model_table = ex.final(nwk, lineage)
    finally:
        for held in (setup, prev, lineage):
            held.release()
        if ex is not None:
            ex.close()

    raw_model = LDAModel(nwk, words, config.alpha, config.beta)
    if config.average_model:
        n_avg = config.total_iterations - config.burn_in_iterations
        model = LDAModel(accum / n_avg, words, config.alpha, config.beta)
    else:
        model = raw_model
    return TrainResult(model=model, raw_model=raw_model, log_likelihood=lls,
                       model_table=model_table)


def train_documents(
    docs: DataFrame, config: TrainConfig, text_col: str = "text", id_col: str = "doc_id"
) -> TrainResult:
    """Train directly on a ``documents(doc_id, text, …)`` table."""
    from .corpus import doc_term_counts, tokenize

    return train(doc_term_counts(tokenize(docs, text_col, id_col)), config)
