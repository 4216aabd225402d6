"""CLI (O21) tests: flag validators + train→view→infer end-to-end on a
tiny plda-format corpus, exercising the reference's binary surface."""

import contextlib

import pytest

from plda_spark import cli
from plda_spark.lda import infer as lda_infer
from plda_spark.lda import train as lda_train


CORPUS = """\
# comment line
apple 3 banana 2 cherry 1
banana 4 cherry 2
apple 1 durian 5

durian 2 apple 2 elder 1
"""


@pytest.fixture(scope="module")
def corpus_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("cli") / "corpus.txt"
    p.write_text(CORPUS)
    return str(p)


@pytest.mark.parametrize(
    "args",
    [
        ["train", "--num_topics", "1", "--training_data_file", "x", "--model_file", "y",
         "--total_iterations", "10", "--burn_in_iterations", "5"],
        ["train", "--num_topics", "3", "--alpha", "-1", "--training_data_file", "x",
         "--model_file", "y", "--total_iterations", "10", "--burn_in_iterations", "5"],
        ["train", "--num_topics", "3", "--training_data_file", "", "--model_file", "y",
         "--total_iterations", "10", "--burn_in_iterations", "5"],
        ["train", "--num_topics", "3", "--training_data_file", "x", "--model_file", "y",
         "--total_iterations", "0", "--burn_in_iterations", "0"],
        ["train", "--num_topics", "3", "--training_data_file", "x", "--model_file", "y",
         "--total_iterations", "10", "--burn_in_iterations", "10"],
        ["infer", "--model_file", "", "--inference_data_file", "x",
         "--inference_result_file", "y", "--total_iterations", "5",
         "--burn_in_iterations", "1"],
        ["infer", "--model_file", "m", "--inference_data_file", "x",
         "--inference_result_file", "y", "--total_iterations", "-1",
         "--burn_in_iterations", "0"],
        ["train", "--num_topics", "3", "--training_data_file", "x", "--model_file", "y",
         "--total_iterations", "10", "--burn_in_iterations", "5", "--num_partitions", "0"],
    ],
)
def test_validators_reject(args):
    with pytest.raises(SystemExit):
        cli.main(args)


def test_train_view_infer_roundtrip(spark, corpus_file, tmp_path, capsys):
    model_file = str(tmp_path / "model.txt")
    cli.main([
        "train", "--num_topics", "2", "--training_data_file", corpus_file,
        "--model_file", model_file, "--total_iterations", "8",
        "--burn_in_iterations", "4", "--compute_likelihood", "true",
        "--num_partitions", "2",
    ])
    out = capsys.readouterr().out
    lls = [float(x.split(":")[1]) for x in out.splitlines() if x.startswith("Loglikelihood")]
    assert len(lls) == 8 and lls[-1] >= lls[0]  # convergence oracle (lda.cc:128-136)

    # model text: one line per word, tab then K space-separated counts
    lines = open(model_file).read().splitlines()
    assert len(lines) == 5  # apple banana cherry durian elder (sorted vocab)
    assert all("\t" in ln and len(ln.split("\t")[1].split(" ")) == 2 for ln in lines)

    cli.main(["view", "--model_file", model_file, "--top_n", "3"])
    vout = capsys.readouterr().out
    assert vout.count("topic ") == 2

    result_file = str(tmp_path / "theta.txt")
    cli.main([
        "infer", "--model_file", model_file, "--inference_data_file", corpus_file,
        "--inference_result_file", result_file, "--total_iterations", "5",
        "--burn_in_iterations", "2",
    ])
    rlines = open(result_file).read().splitlines()
    assert len(rlines) == 4  # one per (non-comment, non-blank) doc
    assert all(len(ln.split(" ")) == 2 for ln in rlines)


def test_train_on_comment_only_file_fails(spark, tmp_path):
    """A training file of blank and ``#`` lines holds no triples: train
    fails with the trainer's empty-vocabulary error."""
    p = tmp_path / "empty.txt"
    p.write_text("# only a comment\n\n   \n# another\n")
    with pytest.raises(ValueError, match="^empty vocabulary$"):
        cli.main(["train", "--num_topics", "2", "--training_data_file", str(p),
                  "--model_file", str(tmp_path / "model.txt"), "--total_iterations", "2",
                  "--burn_in_iterations", "1"])


def test_weight_text_matches_format_string(spark):
    """The driver's writer prints a weight as the JVM writer does: every
    k/m with 1 <= m <= 130 and 0 <= k <= 10·m (the θ of T − burn-in = m),
    and the probes where Python's own "%.6f" rounds the other way."""
    from pyspark.sql import functions as F

    probes = [1 / 128, 5 / 128, 5e-7, 123456.7890125]
    ratios = (spark.range(1, 131).select(F.col("id").alias("m"))
              .select("m", F.explode(F.sequence(F.lit(0), F.col("m") * 10)).alias("k"))
              .select((F.col("k") / F.col("m")).alias("v")))
    values = ratios.union(spark.createDataFrame([(v,) for v in probes], "v double"))
    rows = values.select("v", lda_infer._weight_col(F.col("v")).alias("s")).collect()
    assert len(rows) == sum(10 * m + 1 for m in range(1, 131)) + len(probes)
    assert [r["s"] for r in rows] == [lda_infer._weight_str(r["v"]) for r in rows]
    assert [lda_infer._weight_str(v) for v in probes] == [
        "0.007813", "0.039063", "0.000001", "123456.789013"]
    assert ["%.6f" % v for v in probes] == [
        "0.007812", "0.039062", "0.000000", "123456.789012"]


# A model file in plda's text format (word ids by line order) and a
# held-out file with a word repeated on one line, non-ASCII words, an
# all-OOV line, and blank and ``#`` lines.
MODEL = """\
apple\t5 1 0
banana\t0 7 2
cherry\t3 3 3
\u00e9t\u00e9\t1 0 6
\u65e5\u672c\t0 2 9
\U0001f600\t4 4 0
"""

HELDOUT = """\
# held-out docs
apple 2 banana 1 apple 3
\u65e5\u672c 4 \U0001f600 1 zzz 2

oov 3 other 1
\u00e9t\u00e9 2 cherry 5 banana 1 apple 1
   
cherry 1
\U0001f600 3 \u00e9t\u00e9 1 \u65e5\u672c 2 banana 4 apple 6 cherry 2
"""


@pytest.fixture(scope="module")
def infer_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("infer")
    (d / "model.txt").write_text(MODEL, encoding="utf-8")
    (d / "heldout.txt").write_text(HELDOUT, encoding="utf-8")
    (d / "empty.txt").write_text("", encoding="utf-8")
    return d


def _cli_infer(monkeypatch, d, data, out, iters=("12", "4")) -> bool:
    """Run the CLI's ``infer``; True when it scored on Spark."""
    calls = []
    real = lda_infer.transform
    with monkeypatch.context() as m:
        m.setattr(lda_infer, "transform", lambda *a, **k: calls.append(1) or real(*a, **k))
        cli.main(["infer", "--model_file", str(d / "model.txt"), "--inference_data_file",
                  str(d / data), "--inference_result_file", str(out), "--total_iterations",
                  iters[0], "--burn_in_iterations", iters[1], "--seed", "5"])
    return bool(calls)


def _spark_file(spark, d, data, out, iters=("12", "4")) -> bytes:
    """The same file from ``transform`` + ``write_inference_result``."""
    from plda_spark.lda.model import LDAModel
    from plda_spark.sources.plda_text import read_plda_corpus

    theta = lda_infer.transform(LDAModel.load_text(str(d / "model.txt")),
                                read_plda_corpus(spark, str(d / data)),
                                int(iters[0]), int(iters[1]), seed=5)
    lda_infer.write_inference_result(theta, str(out), single_file=True)
    return out.read_bytes()


@contextlib.contextmanager
def _files_split(spark, max_bytes: str):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, max_bytes)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize(
    "case", ["plain", "ties", "split", "empty", "small_budget", "tokens_past_cap"])
def test_infer_driver_path_matches_spark(spark, infer_files, tmp_path, monkeypatch, case):
    """The CLI ``infer``'s driver path writes the bytes of ``transform`` +
    ``write_inference_result``: on edge-case lines, on the tie case of
    T − burn-in = 128, on an input split three ways and more, on an empty
    file, and on more tokens than the row cap (the cap is on rows); with
    the row cap below the corpus's 19 triples, the CLI takes the Spark
    path and still writes them."""
    d, out, ref = infer_files, tmp_path / "cli.txt", tmp_path / "spark.txt"
    data = "empty.txt" if case == "empty" else "heldout.txt"
    iters = ("138", "10") if case == "ties" else ("12", "4")
    if case == "small_budget":
        monkeypatch.setattr(lda_train, "_TOKENS_PER_PARTITION", 10)
    if case == "tokens_past_cap":
        # 19 triples, 45 tokens
        monkeypatch.setattr(lda_train, "_TOKENS_PER_PARTITION", 19)
    with _files_split(spark, "64b") if case == "split" else contextlib.nullcontext():
        if case == "split":
            assert spark.read.text(str(d / data)).rdd.getNumPartitions() >= 3
        assert _cli_infer(monkeypatch, d, data, out, iters) == (case == "small_budget")
        assert out.read_bytes() == _spark_file(spark, d, data, ref, iters)
    lines = out.read_text(encoding="utf-8").splitlines()
    # every held-out line but the all-OOV one, K weights each
    assert len(lines) == (0 if case == "empty" else 5)
    assert all(len(line.split(" ")) == 3 for line in lines)
    if case == "ties":
        # The file goes through ties where Python's "%.6f" would round down.
        from plda_spark.lda.model import LDAModel
        from plda_spark.sources.plda_text import read_plda_corpus

        theta = lda_infer.transform(LDAModel.load_text(str(d / "model.txt")),
                                    read_plda_corpus(spark, str(d / data)), 138, 10, seed=5)
        values = [v for r in theta.collect() for v in r["topic_weights"]]
        assert any("%.6f" % v != lda_infer._weight_str(v) for v in values)


def test_infer_driver_path_runs_two_jobs_at_most(spark, infer_files, tmp_path):
    """A warm CLI ``infer`` on a corpus within the row cap runs at most
    2 Spark jobs, each labelled ``lda.infer:<phase>``, and no
    Python task."""
    from .test_train import _job_labels, _stage_scopes

    args = ["infer", "--model_file", str(infer_files / "model.txt"), "--inference_data_file",
            str(infer_files / "heldout.txt"), "--inference_result_file",
            str(tmp_path / "theta.txt"), "--total_iterations", "12", "--burn_in_iterations", "4"]
    cli.main(args)
    sc = spark.sparkContext
    group = "cli-infer-driver"
    try:
        sc.setJobGroup(group, "caller")
        cli.main(args)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        labels = _job_labels(spark, group)
        scopes = _stage_scopes(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(labels) <= 2, labels
    assert all(label and label.startswith("lda.infer:") for label in labels), labels
    assert "MapInPandas" not in scopes, scopes
