"""End-to-end LDA training tests (SURVEY.md §5.2-3/4)."""

import contextlib

import numpy as np
import pytest

from plda_spark.lda import kernel
from plda_spark.lda.train import TrainConfig, TrainResult, train


def synthetic_corpus(spark, n_docs=60, doc_len=40, k_true=3, vocab_per_topic=10, seed=5):
    """Docs drawn from K disjoint-vocab topics — recoverable by Gibbs."""
    rng = kernel.make_rng(seed)
    rows = []
    for d in range(n_docs):
        t = d % k_true
        words = rng.integers(0, vocab_per_topic, size=doc_len) + t * vocab_per_topic
        uniq, cnt = np.unique(words, return_counts=True)
        for w, c in zip(uniq, cnt):
            rows.append((d, f"w{w:03d}", int(c)))
    return spark.createDataFrame(rows, "doc_id long, word string, count int")


@pytest.fixture(scope="module")
def tiny_result(spark) -> TrainResult:
    corpus = synthetic_corpus(spark)
    cfg = TrainConfig(
        num_topics=3, total_iterations=25, burn_in_iterations=15,
        compute_likelihood=True, seed=7, num_partitions=2,
    )
    return train(corpus, cfg)


def test_counts_conserved(tiny_result):
    m = tiny_result.raw_model
    assert m.nwk.sum() == 60 * 40  # every occurrence assigned exactly one topic
    assert np.array_equal(m.nk, m.nwk.sum(axis=0))


def test_vocab_sorted(tiny_result):
    assert tiny_result.model.words == sorted(tiny_result.model.words)


def test_likelihood_increases(tiny_result):
    lls = tiny_result.log_likelihood
    assert len(lls) == 25
    # The de-facto correctness oracle of the reference (--compute_likelihood):
    # LL must improve substantially from random init and be stable late.
    assert lls[-1] > lls[0]
    assert np.mean(lls[-5:]) > np.mean(lls[:5])


def test_topics_recovered(tiny_result):
    """Disjoint-vocab topics: each true block concentrates on one topic."""
    nwk = tiny_result.raw_model.nwk
    owners = set()
    for t in range(3):
        block = nwk[t * 10 : (t + 1) * 10].sum(axis=0)
        assert block.max() / block.sum() > 0.85
        owners.add(int(block.argmax()))
    assert len(owners) == 3


def test_averaged_vs_raw(tiny_result):
    avg = tiny_result.model
    assert avg.nwk.dtype == np.float64
    # Averaged totals equal the mean per-iteration total token count.
    assert avg.nwk.sum() == pytest.approx(60 * 40)


def test_auto_partitions():
    from plda_spark.lda.train import (
        _MAX_TOKENS_PER_PARTITION, _TOKENS_PER_PARTITION, _auto_partitions,
    )

    assert _auto_partitions(0, 32) == 1                     # empty corpus
    assert _auto_partitions(1, 32) == 1                     # tiny corpus: one task
    assert _auto_partitions(_TOKENS_PER_PARTITION, 32) == 1
    assert _auto_partitions(_TOKENS_PER_PARTITION + 1, 32) == 2
    assert _auto_partitions(10**8, 32) == 32                # saturates the cluster
    # memory floor: more partitions than cores when a partition would exceed cap
    big = 3 * _MAX_TOKENS_PER_PARTITION
    assert _auto_partitions(big, 2) == 3


def test_determinism(spark):
    corpus = synthetic_corpus(spark, n_docs=20, doc_len=15)
    cfg = TrainConfig(
        num_topics=3, total_iterations=5, burn_in_iterations=2,
        seed=123, num_partitions=2,
    )
    m1 = train(corpus, cfg).raw_model
    m2 = train(corpus, cfg).raw_model
    assert np.array_equal(m1.nwk, m2.nwk)
    assert m1.words == m2.words


def test_infer_and_oov(spark, tiny_result):
    from plda_spark.lda import infer

    model = tiny_result.raw_model
    # Doc 0: pure topic-0 vocab plus an OOV word that must be dropped.
    new_docs = spark.createDataFrame(
        [(0, "w001", 5), (0, "w002", 5), (0, "zzz_oov", 99), (1, "w025", 10)],
        "doc_id long, word string, count int",
    )
    res = infer.transform(model, new_docs, total_iterations=12, burn_in_iterations=6, seed=3)
    rows = {r["doc_id"]: np.array(r["topic_weights"]) for r in res.collect()}
    # OOV dropped: doc 0 weights sum to 10 occurrences, not 109.
    assert rows[0].sum() == pytest.approx(10.0)
    assert rows[1].sum() == pytest.approx(10.0)
    # Each doc's mass lands on the topic owning its vocab block.
    block0_owner = int(tiny_result.raw_model.nwk[0:10].sum(axis=0).argmax())
    block2_owner = int(tiny_result.raw_model.nwk[20:30].sum(axis=0).argmax())
    assert int(rows[0].argmax()) == block0_owner
    assert int(rows[1].argmax()) == block2_owner


def test_infer_model_df_matches_broadcast(spark, tiny_result):
    """Model-as-DataFrame inference (the beyond-broadcast cutover) agrees
    with the broadcast path on where each doc's topic mass lands."""
    from plda_spark.lda import infer
    from plda_spark.lda.vocab import build_vocab, remap_words

    model = tiny_result.raw_model
    new_docs = spark.createDataFrame(
        [(0, "w001", 5), (0, "w002", 5), (0, "zzz_oov", 99), (1, "w025", 10)],
        "doc_id long, word string, count int",
    )
    bc = infer.transform(model, new_docs, total_iterations=12, burn_in_iterations=6, seed=3)
    bc_rows = {r["doc_id"]: np.array(r["topic_weights"]) for r in bc.collect()}

    vocab = spark.createDataFrame(
        [(w, i) for i, w in enumerate(model.words)], "word string, word_id long"
    )
    triples = remap_words(new_docs, vocab).select("doc_id", "word_id", "count")
    model_df = model.to_dataframe(spark).select("word_id", "topic_counts")
    df = infer.transform_model_df(
        model_df, model.nk, triples, alpha=model.alpha, beta=model.beta,
        total_iterations=12, burn_in_iterations=6, seed=3,
    )
    df_rows = {r["doc_id"]: np.array(r["topic_weights"]) for r in df.collect()}

    assert set(df_rows) == set(bc_rows)
    for d in df_rows:
        # Same total mass (OOV dropped identically) and same argmax topic.
        assert df_rows[d].sum() == pytest.approx(bc_rows[d].sum())
        assert int(df_rows[d].argmax()) == int(bc_rows[d].argmax())


# Inputs of the front-end pins: docs 0-6 (a 1-token doc, a mixed doc,
# OOV rows in doc 0) scored against a high-smoothing copy of the tiny
# model (α=1, β=50), so that every draw of the sampler can move θ.
_PIN_ROWS = [
    (0, "w001", 5), (0, "w002", 5), (0, "zzz_oov", 99), (1, "w025", 10),
    (2, "w003", 3), (2, "w014", 4), (2, "w027", 2), (3, "w019", 1),
    (4, "w005", 2), (4, "w006", 7), (4, "w011", 1), (5, "w000", 4),
    (5, "w012", 6), (5, "w021", 5), (5, "w029", 3), (6, "w008", 2), (6, "w018", 2),
]
# 6·θ per doc (12 iterations, 6 of them after burn-in, seed 3): the
# per-doc inference loop on each doc's own (seed, doc_id) stream.
_THETA6 = {
    0: [1, 1, 58], 1: [54, 3, 3], 2: [16, 32, 6], 3: [1, 4, 1],
    4: [15, 8, 37], 5: [58, 34, 16], 6: [4, 6, 14],
}


def _assert_theta6(df, want=_THETA6):
    got = {r["doc_id"]: np.array(r["topic_weights"]) for r in df.collect()}
    assert set(got) == set(want)
    for d, counts in want.items():
        assert np.array_equal(got[d], np.array(counts, dtype=np.float64) / 6), d


@contextlib.contextmanager
def _sql_conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_infer_front_ends_pinned(spark, tiny_result, tmp_path):
    """Every inference front end gives exactly the per-doc loop's θ,
    however Spark partitions and batches the docs: each doc samples on
    its own (seed, doc_id) stream."""
    from pyspark.sql import functions as F

    from plda_spark.lda import infer
    from plda_spark.lda.model import LDAModel
    from plda_spark.lda.vocab import remap_words

    from .test_ckernel import infer_per_doc

    raw = tiny_result.raw_model
    model = LDAModel(raw.nwk, raw.words, alpha=1.0, beta=50.0)
    index = {w: i for i, w in enumerate(model.words)}
    occs = {}
    for d, w, c in sorted(_PIN_ROWS, key=lambda r: (r[0], index.get(r[1], -1))):
        occs.setdefault(d, []).extend([index[w]] * c if w in index else [])
    ids = np.array(sorted(occs), dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum([len(occs[d]) for d in ids])]).astype(np.int64)
    loop = infer_per_doc(np.concatenate([occs[d] for d in ids]).astype(np.int32), offs, ids,
                         model.nwk.astype(np.float64), model.nk.astype(np.float64), 3, 12, 6,
                         alpha=model.alpha, beta=model.beta)
    assert {int(d): list(6 * t) for d, t in zip(ids, loop)} == _THETA6

    docs = spark.createDataFrame(_PIN_ROWS, "doc_id long, word string, count int")
    texts = {}
    for d, w, c in _PIN_ROWS:
        texts.setdefault(d, []).extend([w] * c)
    text_df = spark.createDataFrame(
        [(d, " ".join(ws)) for d, ws in texts.items()], "doc_id long, text string"
    )
    vocab = spark.createDataFrame(
        [(w, i) for i, w in enumerate(model.words)], "word string, word_id long"
    )
    triples = remap_words(docs, vocab).select("doc_id", "word_id", "count")
    model_df = model.to_dataframe(spark).select("word_id", "topic_counts")
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    for partitions, batch in ((shuffle, "10000"), ("3", "2")):
        with _sql_conf(spark, "spark.sql.shuffle.partitions", partitions), \
                _sql_conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", batch):
            for placed in (docs.coalesce(1), docs.repartition(3)):
                _assert_theta6(infer.transform(model, placed, 12, 6, seed=3))
            _assert_theta6(infer.transform_stream(model, text_df.repartition(3), 12, 6, seed=3))
            for table in (model_df, F.broadcast(model_df)):
                _assert_theta6(infer.transform_model_df(
                    table, model.nk, triples, alpha=model.alpha, beta=model.beta,
                    total_iterations=12, burn_in_iterations=6, seed=3,
                ))

    # Streamed: one file per micro-batch.
    src = str(tmp_path / "texts")
    text_df.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(text_df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    query = (infer.transform_stream(model, stream, 12, 6, seed=3).writeStream
             .format("memory").queryName("pinned_theta").trigger(availableNow=True).start())
    try:
        assert query.awaitTermination(300)
        assert sum(p["numInputRows"] > 0 for p in query.recentProgress) >= 2
        _assert_theta6(spark.table("pinned_theta"))
    finally:
        query.stop()
        spark.catalog.dropTempView("pinned_theta")


def test_model_df_frame_runs_no_job(spark, tiny_result):
    """Building any inference frame runs no Spark job: transform_model_df
    counts V inside the caller's action, and transform and
    transform_stream need no count at all."""
    from plda_spark.lda import infer

    model = tiny_result.raw_model
    model_df = model.to_dataframe(spark).select("word_id", "topic_counts")
    triples = spark.createDataFrame([(0, 1, 3), (1, 25, 4)],
                                    "doc_id long, word_id long, count int")
    docs = spark.createDataFrame([(0, "w001", 3), (1, "w025", 4)],
                                 "doc_id long, word string, count int")
    texts = spark.createDataFrame([(0, "w001 w001"), (1, "w025")], "doc_id long, text string")
    builds = {
        "model_df": lambda: infer.transform_model_df(model_df, model.nk, triples,
                                                     total_iterations=4, burn_in_iterations=2),
        "transform": lambda: infer.transform(model, docs, 4, 2),
        "stream": lambda: infer.transform_stream(model, texts, 4, 2),
    }
    sc = spark.sparkContext
    for name, build in builds.items():
        group = f"infer-build-{name}"
        try:
            sc.setJobGroup(group, group)
            df = build()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], name
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sorted(r["doc_id"] for r in df.collect()) == [0, 1], name


def test_infer_all_oov_doc_and_empty_input(spark, tiny_result):
    """An all-OOV doc is omitted by transform and transform_model_df and
    scored all zeros by transform_stream; an empty input gives an empty
    frame through all three."""
    from plda_spark.lda import infer

    model = tiny_result.raw_model
    model_df = model.to_dataframe(spark).select("word_id", "topic_counts")
    docs = spark.createDataFrame(
        [(0, "w001", 3), (1, "zzz_oov", 4)], "doc_id long, word string, count int"
    )
    texts = spark.createDataFrame([(0, "w001 w001 w001"), (1, "zzz oov")],
                                  "doc_id long, text string")
    triples = spark.createDataFrame([(0, 1, 3), (1, 999, 4)],
                                    "doc_id long, word_id long, count int")

    def scored(df):
        return {r["doc_id"]: list(r["topic_weights"]) for r in df.collect()}

    assert list(scored(infer.transform(model, docs, 4, 2))) == [0]
    assert list(scored(infer.transform_model_df(model_df, model.nk, triples,
                                                total_iterations=4,
                                                burn_in_iterations=2))) == [0]
    stream = scored(infer.transform_stream(model, texts, 4, 2))
    assert sum(stream[0]) == pytest.approx(3.0)
    assert stream[1] == [0.0, 0.0, 0.0]

    assert infer.transform(model, docs.limit(0), 4, 2).collect() == []
    assert infer.transform_stream(model, texts.limit(0), 4, 2).collect() == []
    assert infer.transform_model_df(model_df, model.nk, triples.limit(0),
                                    total_iterations=4, burn_in_iterations=2).collect() == []


def test_driver_tables_skip_python_workers(spark, tiny_result, rdd_scans):
    """The vocab and model tables are local tables (no Python worker), and
    so is inference's plan up to the scoring step."""
    import pandas as pd

    from plda_spark.lda import infer
    from plda_spark.lda.model import LDAModel
    from plda_spark.lda.vocab import vocab_table

    model = tiny_result.raw_model
    vocab = vocab_table(spark, model.words)
    assert rdd_scans(vocab) == []
    assert [tuple(r) for r in vocab.orderBy("word_id").collect()] == [
        (w, i) for i, w in enumerate(model.words)
    ]
    # Counts past 2**53 round as float(v) does; float models keep their bits.
    big = LDAModel(np.array([[2**53 + 1, 3], [2**63 - 1, 0]], dtype=np.int64), ["a", "b"])
    frac = LDAModel(np.array([[0.1, 1 / 3], [2.5e-310, 7.0]]), ["a", "b"])
    for m in (big, frac, model):
        table = m.to_dataframe(spark)
        assert rdd_scans(table) == []
        rows = table.orderBy("word_id").collect()
        assert [(r["word"], r["word_id"]) for r in rows] == list(zip(m.words, range(m.num_words)))
        assert [r["topic_counts"] for r in rows] == [[float(v) for v in row] for row in m.nwk]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 0, 1], "word": ["w001", "w002", "w025"], "count": [5, 5, 10]}),
        "doc_id long, word string, count int",
    )
    assert rdd_scans(infer.transform(model, docs)) == []


def test_describe_topics(spark, tiny_result):
    df = tiny_result.raw_model.describe_topics(spark, top_n=5)
    rows = df.collect()
    assert {r["topic"] for r in rows} == {0, 1, 2}
    for r in rows:
        assert 1 <= r["rank"] <= 5
    # Top word of each topic belongs to the vocab block that topic owns.
    top1 = {r["topic"]: r["word"] for r in rows if r["rank"] == 1}
    for t, w in top1.items():
        block = int(w[1:]) // 10
        owner = int(tiny_result.raw_model.nwk[block * 10 : block * 10 + 10].sum(axis=0).argmax())
        assert owner == t


def test_umass_coherence(spark, tiny_result, rdd_scans):
    """Coherence of recovered topics beats coherence of shuffled topics
    (words from the true disjoint vocab blocks co-occur; mixtures don't)."""
    from plda_spark.lda.evaluate import umass_coherence

    corpus = synthetic_corpus(spark)
    top = tiny_result.model.describe_topics(spark, top_n=5)
    res = {r["topic"]: r["coherence"] for r in umass_coherence(top, corpus).collect()}
    # Dense co-occurrence (every block word in ~every block doc) makes the
    # smoothed UMass score slightly positive here; the discriminating
    # property is recovered-vs-scrambled, below.
    assert len(res) == 3

    # Scrambled topics: round-robin words across topics → low co-occurrence.
    import pyspark.sql.functions as F

    scrambled = top.withColumn("topic", (F.col("rank") % 3).cast("int"))
    bad = {r["topic"]: r["coherence"] for r in umass_coherence(scrambled, corpus).collect()}
    assert sum(res.values()) > sum(bad.values())
    assert rdd_scans(umass_coherence(top, corpus)) == []


EXCHANGES = {
    "broadcast": dict(model_mode="broadcast"),
    "words": dict(model_mode="join", join_exchange="words"),
    "chunks": dict(model_mode="join", join_exchange="chunks"),
}

# _TOKENS_PER_PARTITION values that train a broadcast corpus of 600 to
# 2,400 tokens on the driver, or on Spark in more than one task.
_PATHS = {"driver": 10**9, "spark": 300}


def _on_path(monkeypatch, path: str) -> None:
    from plda_spark.lda import train as train_mod

    monkeypatch.setattr(train_mod, "_TOKENS_PER_PARTITION", _PATHS[path])


@pytest.mark.parametrize("exchange", sorted(EXCHANGES))
def test_checkpoint_resume_bit_identical(spark, tmp_path, exchange):
    """Kill-and-resume equals an uninterrupted run: every sweep depends
    only on (assignments, model, seed, pid, iteration), all of which the
    checkpoint reproduces.  Broadcast also carries the running average."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "ckpt")
    base = dict(num_topics=3, burn_in_iterations=1, compute_likelihood=True,
                average_model=exchange == "broadcast", seed=31, num_partitions=2,
                **EXCHANGES[exchange])
    straight = train(corpus, TrainConfig(**base, total_iterations=4))
    train(corpus, TrainConfig(**base, total_iterations=2,
                              checkpoint_dir=ckpt, checkpoint_every=2))
    resumed = train(corpus, TrainConfig(**base, total_iterations=4), resume_from=ckpt)

    assert np.array_equal(straight.raw_model.nwk, resumed.raw_model.nwk)
    assert straight.raw_model.words == resumed.raw_model.words
    assert resumed.log_likelihood == straight.log_likelihood
    if exchange == "broadcast":
        assert np.array_equal(straight.model.nwk, resumed.model.nwk)


def test_shuffle_aggregate_mode_identical(spark, monkeypatch):
    """The shuffle pre-combine reduce (the broadcast exchange at P >= 256)
    must produce the same model and likelihood bit-for-bit as the
    driver-side payload sum."""
    from plda_spark.lda import train as train_mod

    _on_path(monkeypatch, "spark")
    triples = synthetic_corpus(spark, n_docs=30)
    cfg = TrainConfig(num_topics=4, total_iterations=3, burn_in_iterations=1,
                      seed=9, num_partitions=3, compute_likelihood=True)
    a = train(triples, cfg)
    monkeypatch.setattr(train_mod, "_SHUFFLE_AGG_MIN_PARTITIONS", 1)
    b = train(triples, cfg)
    assert np.array_equal(a.raw_model.nwk, b.raw_model.nwk)
    assert a.log_likelihood == b.log_likelihood


def test_join_mode_trains_and_recovers_topics(spark):
    """model_mode='join' (model-as-DataFrame, no V*K broadcast) must be a
    valid AD-LDA chain: counts conserved, LL improving, disjoint-vocab
    topics recovered, model_table consistent with the driver model."""
    corpus = synthetic_corpus(spark)
    cfg = TrainConfig(
        num_topics=3, total_iterations=25, burn_in_iterations=0,
        average_model=False, compute_likelihood=True, seed=7,
        num_partitions=3, model_mode="join",
    )
    res = train(corpus, cfg)
    m = res.raw_model
    assert m.nwk.sum() == 60 * 40
    assert np.array_equal(m.nk, m.nwk.sum(axis=0))
    lls = res.log_likelihood
    assert len(lls) == 25 and lls[-1] > lls[0]
    assert np.mean(lls[-5:]) > np.mean(lls[:5])
    owners = set()
    for t in range(3):
        block = m.nwk[t * 10 : (t + 1) * 10].sum(axis=0)
        assert block.max() / block.sum() > 0.85
        owners.add(int(block.argmax()))
    assert len(owners) == 3
    # model_table is the same model, distributed
    mt = {
        r["word_id"]: [int(c) for c in r["topic_counts"]]
        for r in res.model_table.collect()
    }
    for wid, row in enumerate(m.nwk):
        assert mt.get(wid, [0] * 3) == list(row)


def test_join_mode_deterministic_and_validated(spark):
    corpus = synthetic_corpus(spark, n_docs=20, doc_len=15)
    cfg = dict(num_topics=3, total_iterations=4, burn_in_iterations=0,
               average_model=False, seed=123, num_partitions=2,
               model_mode="join")
    m1 = train(corpus, TrainConfig(**cfg)).raw_model
    m2 = train(corpus, TrainConfig(**cfg)).raw_model
    assert np.array_equal(m1.nwk, m2.nwk)

    with pytest.raises(ValueError):
        TrainConfig(num_topics=3, model_mode="bogus").validate()
    with pytest.raises(ValueError):
        # join mode is mpi_lda semantics: averaging must be rejected
        TrainConfig(num_topics=3, model_mode="join", average_model=True).validate()


def test_join_mode_model_feeds_dataframe_inference(spark):
    """The 100 TB path end-to-end: join-trained model_table drives
    model-as-DataFrame inference without ever materializing V*K on the
    driver, and matches inference from the collected model."""
    from plda_spark.lda import infer

    corpus = synthetic_corpus(spark, n_docs=30)
    cfg = TrainConfig(
        num_topics=3, total_iterations=10, burn_in_iterations=0,
        average_model=False, seed=11, num_partitions=2, model_mode="join",
    )
    import pyspark.sql.functions as F

    res = train(corpus, cfg)
    model = res.raw_model
    new_docs = spark.createDataFrame(
        [(0, "w001", 5), (0, "w002", 5), (1, "w015", 10)],
        "doc_id long, word string, count int",
    )
    vocab = spark.createDataFrame(
        [(w, i) for i, w in enumerate(model.words)], "word string, word_id long"
    )
    from plda_spark.lda.vocab import remap_words

    triples = remap_words(new_docs, vocab).select("doc_id", "word_id", "count")
    # model_table is already (word_id, topic_counts double[]) — the
    # exact frame transform_model_df consumes, no rename or cast
    model_df = res.model_table
    df = infer.transform_model_df(
        model_df, model.nk, triples, alpha=cfg.alpha, beta=cfg.beta,
        total_iterations=12, burn_in_iterations=6, seed=3,
    )
    bc = infer.transform(
        model, new_docs, total_iterations=12, burn_in_iterations=6, seed=3
    )
    a = {r["doc_id"]: np.array(r["topic_weights"]) for r in df.collect()}
    b = {r["doc_id"]: np.array(r["topic_weights"]) for r in bc.collect()}
    assert set(a) == set(b) == {0, 1}
    for d in a:
        assert a[d].sum() == pytest.approx(b[d].sum())
        assert int(a[d].argmax()) == int(b[d].argmax())


def test_exchange_parity_broadcast_words_chunks(spark):
    """The three exchanges run the same Markov chain: same RNG streams,
    same doc order per pid, same kernel inputs (the words slice and the
    chunks' dense n_wk hold the broadcast model's values for every word
    that occurs), and the likelihood is scored against the input model —
    so counts match bit for bit, the likelihoods to rounding, and the two
    join exchanges hand back equal model tables."""
    corpus = synthetic_corpus(spark, n_docs=30)
    base = dict(num_topics=3, total_iterations=4, burn_in_iterations=0,
                average_model=False, compute_likelihood=True, seed=7,
                num_partitions=3)
    res = {name: train(corpus, TrainConfig(**base, **kw)) for name, kw in EXCHANGES.items()}
    ref = res["broadcast"]
    assert ref.model_table is None
    for name in ("words", "chunks"):
        assert np.array_equal(ref.raw_model.nwk, res[name].raw_model.nwk), name
        assert res[name].log_likelihood == pytest.approx(ref.log_likelihood, rel=1e-12)
    mt_a, mt_b = (
        sorted((r["word_id"], list(r["topic_counts"])) for r in res[n].model_table.collect())
        for n in ("words", "chunks")
    )
    assert mt_a == mt_b


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_likelihood_independent_of_arrow_batch_size(spark, monkeypatch, path):
    """The broadcast sweep streams a partition in Arrow batches; scoring
    each doc against the iteration's input model (lda.cc:128-136) makes
    both the counts and the likelihood independent of the batch size."""
    _on_path(monkeypatch, path)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    corpus = synthetic_corpus(spark)
    cfg = TrainConfig(num_topics=3, total_iterations=3, burn_in_iterations=1,
                      compute_likelihood=True, seed=7, num_partitions=2)
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "10000")
        big = train(corpus, cfg)
        spark.conf.set(conf, "3")
        small = train(corpus, cfg)
    finally:
        spark.conf.set(conf, old)
    assert np.array_equal(big.raw_model.nwk, small.raw_model.nwk)
    assert big.log_likelihood == small.log_likelihood


def test_more_partitions_than_documents(spark):
    """Empty pids: the chunks exchange hands every pid the model, so a pid
    with no documents must sweep nothing rather than fail; counts still
    match the broadcast exchange."""
    corpus = synthetic_corpus(spark, n_docs=4, doc_len=10)
    base = dict(num_topics=3, total_iterations=2, burn_in_iterations=0,
                average_model=False, seed=1, num_partitions=9)
    a = train(corpus, TrainConfig(**base, **EXCHANGES["broadcast"])).raw_model
    b = train(corpus, TrainConfig(**base, **EXCHANGES["chunks"])).raw_model
    assert a.nwk.sum() == 40
    assert np.array_equal(a.nwk, b.nwk)


@pytest.mark.parametrize("exchange", sorted(EXCHANGES))
def test_train_releases_persisted_blocks(spark, tmp_path, exchange):
    """train() leaves no persisted RDD behind — checked without forcing a
    GC, so a release that only drops the Python handle would fail — on a
    fresh run and on a zero-iteration resume.  Join mode keeps exactly
    the one RDD behind the returned model_table.  Ids, not counts: a GC
    during the call may clean up RDDs that earlier tests left behind."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "ckpt")
    base = dict(num_topics=3, total_iterations=3, burn_in_iterations=1,
                average_model=exchange == "broadcast", seed=5, num_partitions=2,
                **EXCHANGES[exchange])
    kept = 0 if exchange == "broadcast" else 1
    for resume_from, extra in ((None, dict(checkpoint_dir=ckpt, checkpoint_every=3)),
                               (ckpt, {})):
        before = persisted()
        res = train(corpus, TrainConfig(**base, **extra), resume_from=resume_from)
        assert len(persisted() - before) == kept, resume_from
        assert res.raw_model.nwk.sum() == 30 * 20


def test_join_exchange_checkpoint_geometry_wins(spark, tmp_path):
    """A checkpoint written under one exchange is resumed in that
    exchange even when the resuming config asks for the other — a chain
    must continue in the wire format it started with."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "join_ckpt_geom")
    base = dict(num_topics=3, burn_in_iterations=0, average_model=False,
                seed=31, num_partitions=2, model_mode="join")
    straight = train(
        corpus, TrainConfig(**base, total_iterations=4, join_exchange="chunks")
    ).raw_model
    train(corpus, TrainConfig(**base, total_iterations=2, join_exchange="chunks",
                              checkpoint_dir=ckpt, checkpoint_every=2))
    resumed = train(
        corpus,
        TrainConfig(**base, total_iterations=4, join_exchange="words"),
        resume_from=ckpt,
    ).raw_model
    assert np.array_equal(straight.nwk, resumed.nwk)


def test_join_exchange_auto_resolution():
    from plda_spark.lda.train import (
        _CHUNK_DENSE_COPIES, _CHUNK_TASK_BUDGET_BYTES, _resolve_join_exchange,
    )

    cfg = TrainConfig(num_topics=10, average_model=False, model_mode="join")
    # token-rich + dense-affordable -> chunks
    assert _resolve_join_exchange(cfg, 1000, 1000 * 8, 4) == "chunks"
    # token-poor partitions -> words (slicing genuinely prunes)
    assert _resolve_join_exchange(cfg, 1000, 1000, 4) == "words"
    # dense block past the per-task budget -> words
    big_v = _CHUNK_TASK_BUDGET_BYTES // (_CHUNK_DENSE_COPIES * 10 * 8) + 1
    assert _resolve_join_exchange(cfg, big_v, big_v * 100, 4) == "words"
    # bytes-based replication-volume cutover: chunks ship P full model
    # copies per iteration (P·V·K·8 wire bytes); past the budget 'auto'
    # must fall back to words even though the block fits one task.
    # V=100k, K=10: dense 8 MB (dense_ok), token-rich.  P=1000 ->
    # 8 GB volume, inside the 8 GiB budget -> still chunks; V=200k at
    # P=1000 -> 16 GB -> words.
    assert _resolve_join_exchange(cfg, 100_000, 100_000 * 1000, 1000) == "chunks"
    assert _resolve_join_exchange(cfg, 200_000, 200_000 * 1000, 1000) == "words"
    # explicit settings win over the heuristic
    for forced in ("words", "chunks"):
        f = TrainConfig(num_topics=10, average_model=False, model_mode="join",
                        join_exchange=forced)
        assert _resolve_join_exchange(f, 1000, 0, 4) == forced
    with pytest.raises(ValueError):
        TrainConfig(num_topics=3, model_mode="join", average_model=False,
                    join_exchange="bogus").validate()


def test_chunk_grid_geometry():
    from plda_spark.lda.train import _chunk_grid

    # chunk count >= parallelism (rebuild parallelism), covers V exactly
    c, w = _chunk_grid(100_000, 10, 32)
    assert c >= 32 and (c - 1) * w < 100_000 <= c * w
    # tiny vocab: never more chunks than words
    c, w = _chunk_grid(5, 10, 32)
    assert c <= 5 and c * w >= 5
    # huge V*K: chunks shrink toward the target byte size
    c, w = _chunk_grid(10_000_000, 100, 32)
    assert w * 100 * 8 <= 8 << 20


def test_join_resume_uses_checkpointed_partition_count(spark, tmp_path):
    """Assignment rows carry pids baked from the original P; a resume
    with a different num_partitions (new machine, changed config) must
    continue in the CHECKPOINTED geometry, not the new one — otherwise
    pids >= new-P would get empty model groups and corrupt silently."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "join_ckpt_p")
    base = dict(num_topics=3, burn_in_iterations=0, average_model=False,
                seed=31, model_mode="join", join_exchange="chunks")
    straight = train(
        corpus, TrainConfig(**base, total_iterations=4, num_partitions=3)
    ).raw_model
    train(corpus, TrainConfig(**base, total_iterations=2, num_partitions=3,
                              checkpoint_dir=ckpt, checkpoint_every=2))
    resumed = train(
        corpus,
        TrainConfig(**base, total_iterations=4, num_partitions=2),
        resume_from=ckpt,
    ).raw_model
    assert np.array_equal(straight.nwk, resumed.nwk)


def _stage_tasks(spark, group: str) -> list[list[int]]:
    """The task count of every stage that ran, per job of job group
    ``group``, in job order."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s) for s in sorted(tracker.getJobInfo(jid).stageIds)]
        jobs.append([s.numTasks for s in stages if s is not None and s.numCompletedTasks])
    return jobs


def test_broadcast_task_count_follows_token_volume(spark, monkeypatch):
    """P = 4 on a corpus past the driver path's budget: the z-init and
    every broadcast iteration run min(P, token-sized) Spark tasks — here
    2 — and an iteration is still one job.  The iteration jobs are the
    last ones of a train and the z-init job (the first reduce) comes
    right before them."""
    from plda_spark.lda import train as train_mod

    _on_path(monkeypatch, "spark")
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    P = 4
    want = train_mod._num_tasks(P, 30 * 20, spark.sparkContext.defaultParallelism)
    assert 1 < want < P
    sc = spark.sparkContext
    jobs = {}
    try:
        for n in (1, 3):
            group = f"task-count-{n}"
            sc.setJobGroup(group, group)
            train(corpus, TrainConfig(num_topics=3, total_iterations=n, burn_in_iterations=0,
                                      seed=3, num_partitions=P))
            jobs[n] = _stage_tasks(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs[3]) - len(jobs[1]) == 2
    for n, got in jobs.items():
        assert got[-(n + 1):] == [[want]] * (n + 1), got


@pytest.fixture
def tiny_arrow_batches(spark):
    """Arrow batches of 3 rows, so batches straddle pid boundaries and a
    pid's docs span several batches; the setting is restored after."""
    with _sql_conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "3"):
        yield


def _record_layouts(monkeypatch) -> list[int]:
    """The task count of every z-init or resume layout ``train`` builds."""
    from plda_spark.lda import train as train_mod

    seen: list[int] = []
    lay_out = train_mod._lay_out

    def recording(df, tasks):
        seen.append(tasks)
        return lay_out(df, tasks)

    monkeypatch.setattr(train_mod, "_lay_out", recording)
    return seen


# _TOKENS_PER_PARTITION values that make a 600-token corpus run 1, 2 and 4
# tasks at P = 4 on local[4].
_TASKS_AT = {1: 10**9, 2: 300, 4: 150}


@pytest.mark.parametrize("exchange", sorted(EXCHANGES))
def test_task_count_does_not_move_a_bit(spark, tmp_path, monkeypatch, tiny_arrow_batches,
                                        exchange):
    """P sets the chain, not the task count: at P = 4, training in 1, 2
    or 4 tasks gives bit-equal n_wk, n_k, likelihoods and final z."""
    from plda_spark.lda import train as train_mod

    assert spark.sparkContext.defaultParallelism >= 4
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    seen = _record_layouts(monkeypatch)
    out = {}
    for tasks, per_task in _TASKS_AT.items():
        monkeypatch.setattr(train_mod, "_TOKENS_PER_PARTITION", per_task)
        ckpt = str(tmp_path / f"t{tasks}")
        res = train(corpus, TrainConfig(
            num_topics=3, total_iterations=2, burn_in_iterations=0, compute_likelihood=True,
            average_model=exchange == "broadcast", seed=17, num_partitions=4,
            checkpoint_dir=ckpt, checkpoint_every=2, **EXCHANGES[exchange],
        ))
        z = spark.read.parquet(f"{ckpt}/assignments").toPandas()
        out[tasks] = res, z.sort_values(["pid", "doc_id"], ignore_index=True)
    # A broadcast corpus in one task trains on the driver: no layout.
    assert seen == [t for t in _TASKS_AT if t > 1 or exchange != "broadcast"]
    ref, ref_z = out[1]
    for tasks in (2, 4):
        res, z = out[tasks]
        assert np.array_equal(ref.raw_model.nwk, res.raw_model.nwk), tasks
        assert np.array_equal(ref.raw_model.nk, res.raw_model.nk), tasks
        assert np.array_equal(ref.model.nwk, res.model.nwk), tasks
        assert ref.log_likelihood == res.log_likelihood, tasks
        assert ref_z.equals(z), tasks


def test_resume_in_another_task_count(spark, tmp_path, monkeypatch, tiny_arrow_batches):
    """A checkpoint written by a 1-task run resumes in 4 tasks, bit-equal
    to an uninterrupted 2-task run."""
    from plda_spark.lda import train as train_mod

    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "ckpt")
    base = dict(num_topics=3, burn_in_iterations=1, compute_likelihood=True, seed=31,
                num_partitions=4)
    seen = _record_layouts(monkeypatch)
    monkeypatch.setattr(train_mod, "_TOKENS_PER_PARTITION", _TASKS_AT[2])
    straight = train(corpus, TrainConfig(**base, total_iterations=4))
    monkeypatch.setattr(train_mod, "_TOKENS_PER_PARTITION", _TASKS_AT[1])
    train(corpus, TrainConfig(**base, total_iterations=2, checkpoint_dir=ckpt,
                              checkpoint_every=2))
    monkeypatch.setattr(train_mod, "_TOKENS_PER_PARTITION", _TASKS_AT[4])
    resumed = train(corpus, TrainConfig(**base, total_iterations=4), resume_from=ckpt)
    assert seen == [2, 4]  # the 1-task run was on the driver
    assert np.array_equal(straight.raw_model.nwk, resumed.raw_model.nwk)
    assert np.array_equal(straight.model.nwk, resumed.model.nwk)
    assert resumed.log_likelihood == straight.log_likelihood


def test_resume_on_the_driver(spark, tmp_path, monkeypatch, tiny_arrow_batches):
    """A checkpoint written on Spark resumes on the driver path, bit-equal
    to an uninterrupted driver-path run."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "ckpt")
    base = dict(num_topics=3, burn_in_iterations=1, compute_likelihood=True, seed=31,
                num_partitions=4)
    seen = _record_layouts(monkeypatch)
    straight = train(corpus, TrainConfig(**base, total_iterations=4))
    _on_path(monkeypatch, "spark")
    train(corpus, TrainConfig(**base, total_iterations=2, checkpoint_dir=ckpt,
                              checkpoint_every=2))
    _on_path(monkeypatch, "driver")
    resumed = train(corpus, TrainConfig(**base, total_iterations=4), resume_from=ckpt)
    assert seen == [2, 1]
    assert np.array_equal(straight.raw_model.nwk, resumed.raw_model.nwk)
    assert np.array_equal(straight.model.nwk, resumed.model.nwk)
    assert resumed.log_likelihood == straight.log_likelihood


def test_resume_keeps_a_null_word(spark, tmp_path):
    """A NULL word stays NULL in a resumed run's vocabulary."""
    corpus = spark.createDataFrame([(0, None, 1), (0, "a", 2), (1, "b", 3)],
                                   "doc_id long, word string, count int")
    ckpt = str(tmp_path / "ckpt")
    base = dict(num_topics=2, burn_in_iterations=0, seed=3, num_partitions=2)
    fresh = train(corpus, TrainConfig(**base, total_iterations=2))
    train(corpus, TrainConfig(**base, total_iterations=1, checkpoint_dir=ckpt,
                              checkpoint_every=1))
    resumed = train(corpus, TrainConfig(**base, total_iterations=2), resume_from=ckpt)
    assert fresh.model.words == resumed.model.words == [None, "a", "b"]
    assert np.array_equal(fresh.model.nwk, resumed.model.nwk)


def _stage_scopes(spark, group: str) -> list[str]:
    """The operator scopes (``MapInPandas``, ``Exchange``, …) of every
    stage that ran (not skipped) in job group ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    scopes = []

    def walk(cluster) -> None:
        scopes.append(cluster.name())
        children = cluster.childClusters().iterator()
        while children.hasNext():
            walk(children.next())

    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                walk(store.operationGraphForStage(sid).rootCluster())
    return scopes


def test_driver_path_runs_no_job_per_iteration(spark, monkeypatch):
    """A broadcast corpus within one task's token budget trains on the
    driver: the same Spark jobs at 1 and at 3 iterations, and no stage
    runs a Python task.  The same train on Spark runs MapInPandas."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    cfg = dict(num_topics=3, burn_in_iterations=0, seed=3, num_partitions=4)
    sc = spark.sparkContext
    jobs, scopes = {}, {}
    try:
        for path, n in (("driver", 1), ("driver", 3), ("spark", 1)):
            _on_path(monkeypatch, path)
            group = f"driver-path-{path}-{n}"
            sc.setJobGroup(group, group)
            train(corpus, TrainConfig(**cfg, total_iterations=n))
            jobs[path, n] = _stage_tasks(spark, group)
            scopes[path, n] = _stage_scopes(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs["driver", 1]) == len(jobs["driver", 3])
    for n in (1, 3):
        assert "MapInPandas" not in scopes["driver", n], scopes["driver", n]
    assert "MapInPandas" in scopes["spark", 1]


def test_driver_path_boundary(spark, monkeypatch):
    """Exactly ``_TOKENS_PER_PARTITION`` tokens train on the driver, one
    more on Spark, and both give the same chain."""
    from plda_spark.lda import train as train_mod

    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    made = []
    exchange = train_mod._exchange

    def recording(*args):
        made.append(exchange(*args))
        return made[-1]

    monkeypatch.setattr(train_mod, "_exchange", recording)
    cfg = TrainConfig(num_topics=3, total_iterations=2, burn_in_iterations=0,
                      compute_likelihood=True, seed=13, num_partitions=4)
    res = []
    for budget in (30 * 20, 30 * 20 - 1):
        monkeypatch.setattr(train_mod, "_TOKENS_PER_PARTITION", budget)
        res.append(train(corpus, cfg))
    assert made == [train_mod._Driver, train_mod._Broadcast]
    assert np.array_equal(res[0].raw_model.nwk, res[1].raw_model.nwk)
    assert res[0].log_likelihood == res[1].log_likelihood


def test_driver_path_zero_token_corpus(spark):
    """Triples whose counts are all 0 pack into no docs: the driver path
    trains an all-zero model, as the Spark path does."""
    corpus = spark.createDataFrame([(0, "a", 0), (1, "b", 0)],
                                   "doc_id long, word string, count int")
    res = train(corpus, TrainConfig(num_topics=2, total_iterations=2, burn_in_iterations=0,
                                    compute_likelihood=True))
    assert res.raw_model.nwk.tolist() == [[0, 0], [0, 0]]
    assert res.log_likelihood == [0.0, 0.0]


def _job_labels(spark, group: str) -> list[str | None]:
    """The description of every job of job group ``group``, in job order."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    labels = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = store.job(jid).description()
        labels.append(desc.get() if desc.isDefined() else None)
    return labels


def test_driver_path_setup_runs_four_jobs_at_most(spark):
    """A warm driver-path train at P = 4 runs at most 4 Spark jobs — the
    guard aggregate and one collect of the triples — each labelled
    ``lda.train:<phase>``, and hands the caller back its job group and
    description."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    cfg = TrainConfig(num_topics=3, total_iterations=3, burn_in_iterations=0, seed=3,
                      num_partitions=4)
    train(corpus, cfg)
    sc = spark.sparkContext
    group = "driver-path-setup"
    try:
        sc.setJobGroup(group, "caller")
        train(corpus, cfg)
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sc.getLocalProperty("spark.job.description") == "caller"
        labels = _job_labels(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(labels) <= 4, labels
    assert all(label and label.startswith("lda.train:") for label in labels), labels


# Triples the driver path's numpy setup must pack as the Spark setup does:
# non-ASCII words in code-point order (one outside the BMP, and one that
# UTF-16 order would put after it), a duplicate (doc_id, word) triple,
# zero and negative counts, a word that only occurs with count 0, a doc
# left empty, a NULL word and a doc with a NULL count (dropped whole, as
# pack_docs drops it).
_EDGE_TRIPLES = [
    (0, "é", 2), (0, "z", 1), (0, "\U0001f600", 3), (1, "\uff5e", 2), (1, "Z", 1), (1, "Z", 2),
    (2, "a", 0), (2, "b", -1), (3, "only0", 0), (3, "z", 4), (4, "a", 2), (5, "é", 1),
    (5, "a", -3), (7, "b", 5), (8, None, 2), (8, "b", 1), (9, "a", 2), (9, "b", None),
    (11, "z", 3), (11, "a", 1), (11, "z", 1),
]


def test_driver_setup_matches_spark_setup(spark, monkeypatch):
    """The driver path's one-collect setup gives the Spark setup's words,
    counts and likelihoods on edge-case triples."""
    corpus = spark.createDataFrame(_EDGE_TRIPLES, "doc_id long, word string, count int")
    cfg = TrainConfig(num_topics=2, total_iterations=3, burn_in_iterations=1,
                      compute_likelihood=True, seed=3, num_partitions=3)
    res = {}
    for path in ("driver", "spark"):
        _on_path(monkeypatch, path)
        res[path] = train(corpus, cfg)
    drv, ref = res["driver"], res["spark"]
    assert ref.raw_model.words == [None, "Z", "a", "b", "only0", "z", "é", "\uff5e", "\U0001f600"]
    assert drv.raw_model.words == ref.raw_model.words
    assert np.array_equal(drv.raw_model.nwk, ref.raw_model.nwk)
    assert np.array_equal(drv.model.nwk, ref.model.nwk)
    assert drv.log_likelihood == ref.log_likelihood
    # docs 0, 1, 3, 4, 5, 7, 8 and 11 keep 6 + 5 + 4 + 2 + 1 + 5 + 1 + 5 tokens
    assert ref.raw_model.nwk.sum() == 29


@pytest.mark.parametrize("mode", [dict(model_mode="broadcast"),
                                  dict(model_mode="join", average_model=False)])
def test_train_on_zero_triples_raises(spark, monkeypatch, mode):
    """No triples: the driver path (and the join setup) refuse the empty
    vocabulary."""
    from plda_spark.lda import train as train_mod

    made = []
    exchange = train_mod._exchange

    def recording(*args):
        made.append(exchange(*args))
        return made[-1]

    monkeypatch.setattr(train_mod, "_exchange", recording)
    corpus = spark.createDataFrame([], "doc_id long, word string, count int")
    with pytest.raises(ValueError, match="^empty vocabulary$"):
        train(corpus, TrainConfig(num_topics=2, total_iterations=2, burn_in_iterations=0,
                                  **mode))
    assert made == ([train_mod._Driver] if mode["model_mode"] == "broadcast" else [])


@pytest.mark.parametrize("bad", [dict(num_partitions=0), dict(num_partitions=-2),
                                 dict(checkpoint_every=0), dict(checkpoint_every=-1)])
def test_config_rejects_bad_partitions_and_checkpoint_every(bad):
    with pytest.raises(ValueError):
        TrainConfig(num_topics=3, **bad).validate()
    TrainConfig(num_topics=3, num_partitions=None).validate()


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_chain_ignores_shuffle_partitions(spark, monkeypatch, path):
    """With P equal to ``spark.sql.shuffle.partitions`` Spark drops the
    P-way repartition of the packed docs (the doc_id aggregate below it
    already hash-partitions them) and AQE may coalesce that aggregate's
    partitions, so a task can hold several pids in a doc_id-sorted mix.
    The z-init and sweep split every task by pid, so the chain is the
    same as when the repartition stays."""
    _on_path(monkeypatch, path)
    conf = "spark.sql.shuffle.partitions"
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    cfg = TrainConfig(num_topics=3, total_iterations=2, burn_in_iterations=0,
                      compute_likelihood=True, seed=5, num_partitions=4)
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "4")
        same = train(corpus, cfg)
        spark.conf.set(conf, "16")
        other = train(corpus, cfg)
    finally:
        spark.conf.set(conf, old)
    assert np.array_equal(same.raw_model.nwk, other.raw_model.nwk)
    assert same.log_likelihood == other.log_likelihood


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_bigint_counts_train_and_transform(spark, monkeypatch, path):
    """A BIGINT ``count`` trains on the driver and on the Spark path and
    scores through ``transform`` exactly as the same INT counts do; a
    count past INT's range fails each of them with one message, and a
    non-integral count is refused when the frame is built."""
    from pyspark.sql import functions as F

    from plda_spark.lda.infer import transform

    _on_path(monkeypatch, path)
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    wide = corpus.withColumn("count", F.col("count").cast("long"))
    cfg = TrainConfig(num_topics=3, total_iterations=2, burn_in_iterations=0, seed=7,
                      num_partitions=2, compute_likelihood=True)
    narrow_res, wide_res = train(corpus, cfg), train(wide, cfg)
    assert np.array_equal(narrow_res.model.nwk, wide_res.model.nwk)
    assert narrow_res.log_likelihood == wide_res.log_likelihood

    def theta(df):
        return sorted((r["doc_id"], r["topic_weights"])
                      for r in transform(narrow_res.model, df, 4, 2, seed=3).collect())

    assert theta(wide) == theta(corpus)

    huge = wide.withColumn("count", F.when(F.col("doc_id") == 3, F.lit(3_000_000_000))
                           .otherwise(F.col("count")))
    with pytest.raises(Exception, match="count out of INT range: 3000000000"):
        train(huge, cfg)
    with pytest.raises(Exception, match="count out of INT range: 3000000000"):
        transform(narrow_res.model, huge, 4, 2).collect()
    with pytest.raises(ValueError, match="count must be an integral column, got double"):
        train(corpus.withColumn("count", F.col("count").cast("double")), cfg)
