"""Command-line interface with reference flag parity (O21).

Mirrors the reference's three binaries and their flag validators
(``cmd_flags.h:23-41``, ``cmd_flags.cc:37-170``):

- ``train``      ≙ ``lda``      — train, average post-burn-in snapshots,
  write the model text file (``lda.cc:99-148``).  ``--raw_counts``
  switches to ``mpi_lda`` output semantics (final-iteration raw counts,
  no averaging — ``mpi_lda.cc:234-241``).
- ``infer``      ≙ ``infer``    — score unseen docs against a frozen
  model, write averaged θ numerators (``infer.cc:37-101``).  A held-out
  corpus of at most ``train._TOKENS_PER_PARTITION`` triples is scored
  and written on the driver, like the reference's single process: one
  Spark job (the collect of its triples) and no Python task.
- ``view``       ≙ ``view_model.py`` — print topic top words
  (weight > 1, descending) and per-topic totals.

Flags keep the reference's names: ``--num_topics --alpha --beta
--training_data_file --model_file --inference_data_file
--inference_result_file --burn_in_iterations --total_iterations
--compute_likelihood``.
"""

from __future__ import annotations

import argparse
import sys

from plda_spark.lda.model import LDAModel
from plda_spark.lda.train import TrainConfig, train
from plda_spark.lda import infer as lda_infer
from plda_spark.session import get_spark
from plda_spark.sources.plda_text import read_plda_corpus

__all__ = ["main", "build_parser", "check_training_validity", "check_inferring_validity"]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="plda_spark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    tr = sub.add_parser("train", help="train an LDA model (lda / mpi_lda parity)")
    tr.add_argument("--num_topics", type=int, default=0)
    tr.add_argument("--alpha", type=float, default=0.1)
    tr.add_argument("--beta", type=float, default=0.01)
    tr.add_argument("--training_data_file", default="")
    tr.add_argument("--model_file", default="")
    tr.add_argument("--total_iterations", type=int, default=-1)
    tr.add_argument("--burn_in_iterations", type=int, default=-1)
    tr.add_argument("--compute_likelihood", choices=["true", "false"], default="false")
    tr.add_argument("--raw_counts", action="store_true",
                    help="write final-iteration raw counts (mpi_lda semantics)")
    tr.add_argument("--seed", type=int, default=42)
    tr.add_argument("--num_partitions", type=int, default=None)

    inf = sub.add_parser("infer", help="batch inference (infer parity)")
    inf.add_argument("--alpha", type=float, default=0.1)
    inf.add_argument("--beta", type=float, default=0.01)
    inf.add_argument("--model_file", default="")
    inf.add_argument("--inference_data_file", default="")
    inf.add_argument("--inference_result_file", default="")
    inf.add_argument("--total_iterations", type=int, default=-1)
    inf.add_argument("--burn_in_iterations", type=int, default=-1)
    inf.add_argument("--seed", type=int, default=42)

    vw = sub.add_parser("view", help="topic viewer (view_model.py parity)")
    vw.add_argument("--model_file", default="")
    vw.add_argument("--top_n", type=int, default=20)
    return p


def check_training_validity(a: argparse.Namespace) -> None:
    """``CheckValidity`` for training (cmd_flags.cc:74-138)."""
    if a.num_topics < 2:
        raise SystemExit("Invalid num_topics: must be >= 2")
    if a.alpha <= 0:
        raise SystemExit("Invalid alpha: must be > 0")
    if a.beta <= 0:
        raise SystemExit("Invalid beta: must be > 0")
    if not a.training_data_file:
        raise SystemExit("Invalid training_data_file: must be set")
    if not a.model_file:
        raise SystemExit("Invalid model_file: must be set")
    if a.total_iterations <= 0:
        raise SystemExit("Invalid total_iterations: must be > 0")
    if not (0 <= a.burn_in_iterations < a.total_iterations):
        raise SystemExit(
            "Invalid burn_in_iterations: need 0 <= burn_in < total_iterations"
        )
    if a.num_partitions is not None and a.num_partitions < 1:
        raise SystemExit("Invalid num_partitions: must be >= 1")


def check_inferring_validity(a: argparse.Namespace) -> None:
    """``CheckParallelInferValidity`` parity (cmd_flags.cc:139-170)."""
    if a.alpha <= 0 or a.beta <= 0:
        raise SystemExit("Invalid alpha/beta: must be > 0")
    if not a.model_file:
        raise SystemExit("Invalid model_file: must be set")
    if not a.inference_data_file:
        raise SystemExit("Invalid inference_data_file: must be set")
    if not a.inference_result_file:
        raise SystemExit("Invalid inference_result_file: must be set")
    if a.total_iterations <= 0:
        raise SystemExit("Invalid total_iterations: must be > 0")
    if not (0 <= a.burn_in_iterations < a.total_iterations):
        raise SystemExit(
            "Invalid burn_in_iterations: need 0 <= burn_in < total_iterations"
        )


def _cmd_train(a: argparse.Namespace) -> None:
    check_training_validity(a)
    spark = get_spark("plda-train")
    corpus = read_plda_corpus(spark, a.training_data_file)
    cfg = TrainConfig(
        num_topics=a.num_topics,
        alpha=a.alpha,
        beta=a.beta,
        total_iterations=a.total_iterations,
        burn_in_iterations=a.burn_in_iterations,
        compute_likelihood=a.compute_likelihood == "true",
        average_model=not a.raw_counts,
        seed=a.seed,
        num_partitions=a.num_partitions,
    )
    result = train(corpus, cfg)
    for i, ll in enumerate(result.log_likelihood):
        # lda.cc:128-136 prints "Loglikelihood: <value>" before each sweep
        print(f"Loglikelihood: {ll}")
    result.model.save_text(a.model_file)


def _cmd_infer(a: argparse.Namespace) -> None:
    check_inferring_validity(a)
    spark = get_spark("plda-infer")
    model = LDAModel.load_text(a.model_file, a.alpha, a.beta)
    corpus = read_plda_corpus(spark, a.inference_data_file)
    lda_infer._infer_to_file(
        model,
        corpus,
        a.inference_result_file,
        total_iterations=a.total_iterations,
        burn_in_iterations=a.burn_in_iterations,
        seed=a.seed,
    )


def _cmd_view(a: argparse.Namespace) -> None:
    # Pure driver-side (view_model.py is plain Python too; no session needed).
    if not a.model_file:
        raise SystemExit("Invalid model_file: must be set")
    model = LDAModel.load_text(a.model_file)
    for k in range(model.num_topics):
        col = model.nwk[:, k]
        ranked = sorted(
            ((model.words[i], col[i]) for i in range(model.num_words) if col[i] > 1),
            key=lambda t: (-t[1], t[0]),
        )[: a.top_n]
        words = " ".join(f"{w}:{c}" for w, c in ranked)
        print(f"topic {k} (total {int(model.nk[k])}): {words}")


def main(argv: list[str] | None = None) -> None:
    a = build_parser().parse_args(argv)
    if a.command == "train":
        _cmd_train(a)
    elif a.command == "infer":
        _cmd_infer(a)
    elif a.command == "view":
        _cmd_view(a)


if __name__ == "__main__":
    main(sys.argv[1:])
