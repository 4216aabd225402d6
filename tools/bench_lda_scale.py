"""Per-iteration LDA training cost at NYTimes scale (README.md:102: 300k
docs, ~100k vocab, ~100M tokens, K=10), through the public ``train()``.

Generates ``(doc_id, word, count)`` triples distributed (no driver data
pass) into a temporary parquet directory, then times ``train()`` on them at
two iteration counts per mode.  ``t = fixed + n * per_iteration``, so the
difference of the two calls over the difference of their iteration counts
is the marginal cost of one Gibbs iteration (``iter_s``) and the intercept
is what a call pays whatever its length (``fixed_s``: setup, z-init, the
final model collect) — the split perfbench's ``iter_s`` / ``fixed_s``
report.  ``tasks_per_iter`` is the same difference of the two calls'
Spark task counts, read from the status tracker: in broadcast mode an
iteration is one stage, so it is the sweep stage's task count, which
follows the token volume while P (``cores``) sets the chain.  One untimed
one-iteration call warms the JVM and compiles the C sweep kernel first.

Usage (from the repository root, so the Python workers import the
package from the working directory):

    python tools/bench_lda_scale.py [n_docs] [avg_len] [vocab] [k] [iters] [mode]

``iters`` is the higher iteration count (the lower is 1).  ``mode`` is
``broadcast`` (default — the reference's replicated-model design),
``words`` or ``chunks`` (``model_mode='join'`` with that
``join_exchange``) or ``auto`` (``model_mode='join'``, exchange picked by
``train()``).  Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from plda_spark import TrainConfig, get_spark, train  # noqa: E402

MODES = {
    "broadcast": dict(model_mode="broadcast"),
    "words": dict(model_mode="join", join_exchange="words"),
    "chunks": dict(model_mode="join", join_exchange="chunks"),
    "auto": dict(model_mode="join", join_exchange="auto"),
}


def _triples_fn(avg_len: int, vocab: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            rng = np.random.Generator(np.random.PCG64(1234 + int(ids[0])))
            lens = rng.poisson(avg_len, len(ids)).clip(min=1)
            doc = np.repeat(ids, lens)
            # Zipf-ish word frequencies via squared uniform (hot head).
            word = (rng.random(doc.shape[0]) ** 2 * vocab).astype(np.int64).clip(max=vocab - 1)
            key, cnt = np.unique(doc * vocab + word, return_counts=True)
            yield pd.DataFrame(
                {
                    "doc_id": key // vocab,
                    "word": [f"w{w:07d}" for w in key % vocab],
                    "count": cnt.astype(np.int32),
                }
            )

    return gen


def _tasks(sc, group: str) -> int:
    """Spark tasks run by the jobs of job group ``group``."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {sid for jid in tracker.getJobIdsForGroup(group)
              for sid in tracker.getJobInfo(jid).stageIds}
    return sum(info.numCompletedTasks for info in map(tracker.getStageInfo, stages) if info)


def _timed_train(spark, path: str, cfg: TrainConfig) -> tuple[float, int, int]:
    """(wall s, Σn_wk, Spark tasks) of one ``train`` call."""
    sc = spark.sparkContext
    group = f"train-{cfg.total_iterations}-{time.perf_counter_ns()}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        raw = train(spark.read.parquet(path), cfg).raw_model
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return wall, int(raw.nwk.sum()), _tasks(sc, group)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    avg_len = int(sys.argv[2]) if len(sys.argv) > 2 else 333
    V = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    K = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    n_hi = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    mode = sys.argv[6] if len(sys.argv) > 6 else "broadcast"
    if n_hi < 2 or mode not in MODES:
        raise SystemExit(f"need iters >= 2 and mode in {sorted(MODES)}")
    n_lo = 1

    spark = get_spark("lda-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    P = spark.sparkContext.defaultParallelism
    # local mode = ONE JVM for driver + executors, so this bounds executor
    # memory too; join exchanges keep two checkpoint generations and a
    # model exchange live, and an undersized heap GC-thrashes at scale.
    driver_mem = spark.sparkContext.getConf().get("spark.driver.memory", "default")
    tmp = tempfile.mkdtemp(prefix="lda-scale-")
    try:
        path = f"{tmp}/triples"
        (
            spark.range(n_docs, numPartitions=P)
            .mapInPandas(_triples_fn(avg_len, V), schema="doc_id long, word string, count int")
            .write.parquet(path)
        )
        n_tokens = int(spark.read.parquet(path).selectExpr("sum(count)").collect()[0][0])

        def config(n: int) -> TrainConfig:
            return TrainConfig(num_topics=K, total_iterations=n, burn_in_iterations=n - 1,
                               average_model=False, seed=42, num_partitions=P, **MODES[mode])

        _timed_train(spark, path, config(n_lo))  # warm-up, untimed
        t_lo, tok_lo, tasks_lo = _timed_train(spark, path, config(n_lo))
        t_hi, tok_hi, tasks_hi = _timed_train(spark, path, config(n_hi))
        if tok_lo != n_tokens or tok_hi != n_tokens:
            raise SystemExit(f"model counts {tok_lo}, {tok_hi} != {n_tokens} tokens")
        iter_s = (t_hi - t_lo) / (n_hi - n_lo)
        print(json.dumps({
            "mode": mode, "n_docs": n_docs, "vocab": V, "k": K, "n_tokens": n_tokens,
            "cores": P, "driver_mem": driver_mem, "iterations": [n_lo, n_hi],
            "wall_s": [round(t_lo, 2), round(t_hi, 2)],
            "iter_s": round(iter_s, 3), "fixed_s": round(t_lo - n_lo * iter_s, 3),
            "tasks_per_iter": round((tasks_hi - tasks_lo) / (n_hi - n_lo), 2),
            "tokens_per_sec_per_iter": int(n_tokens / iter_s) if iter_s > 0 else None,
        }))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
