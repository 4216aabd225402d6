"""CLI (O21) tests: flag validators + train→view→infer end-to-end on a
tiny plda-format corpus, exercising the reference's binary surface."""

import pytest

from plda_spark import cli


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
