"""WordPiece trainer/encoder gates.

The distributed trainer must be bit-identical (merge ORDER included) to
an independent sequential dict-based implementation of the published
algorithm (Schuster & Nakajima 2012; score = cnt(a,b)/(cnt(a)·cnt(b)),
ties by (a asc, b asc)); the encoder to hand goldens including the
whole-word [UNK] rule.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest

from plda_spark.operators import wordpiece as wp


# ---------------------------------------------------------------------------
# sequential reference (independent of the Spark code)


def _seq_apply(s: list[str], a: str, b: str, ab: str) -> list[str]:
    out: list[str] = []
    for x in s:
        if out and out[-1] == a and x == b:
            out[-1] = ab
        else:
            out.append(x)
    return out


def seq_train(texts, num_merges, min_count=2):
    words = Counter()
    for t in texts:
        for w in re.findall(r"[a-z0-9]+", (t or "").lower()):
            words[w] += 1
    segs = {
        w: [w[0]] + [wp.CONT_PREFIX + c for c in w[1:]] for w in words
    }
    sym0 = Counter()
    for w, n in words.items():
        for s in segs[w]:
            sym0[s] += n
    vocab = sorted(sym0)
    merges = []
    for _ in range(num_merges):
        pair, sym = Counter(), Counter()
        for w, n in words.items():
            s = segs[w]
            for x in s:
                sym[x] += n
            for i in range(len(s) - 1):
                pair[(s[i], s[i + 1])] += n
        cands = [
            (float(c) / (float(sym[a]) * float(sym[b])), a, b)
            for (a, b), c in pair.items()
            if c >= min_count
        ]
        if not cands:
            break
        score, a, b = min(cands, key=lambda t: (-t[0], t[1], t[2]))
        ab = wp._join_pieces(a, b)
        merges.append((a, b))
        vocab.append(ab)
        for w in words:
            segs[w] = _seq_apply(segs[w], a, b, ab)
    return {"merges": merges, "vocab": vocab}


# ---------------------------------------------------------------------------


def test_trainer_parity_with_sequential_reference(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(150)
        .select("doc_id", "text")
    )
    texts = [r["text"] for r in docs.collect()]
    want = seq_train(texts, num_merges=20, min_count=2)
    got = wp.wordpiece_train(docs, num_merges=20, min_count=2)
    assert got["merges"] == want["merges"]
    assert got["vocab"] == want["vocab"]
    # the driver cutover (default for bounded word tables) and the
    # distributed sweeps (forced with _DRIVER_MAX_WORDS = 0) must both
    # match the sequential reference, merge order included
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(wp, "_DRIVER_MAX_WORDS", 0)
        dist = wp.wordpiece_train(docs, num_merges=20, min_count=2)
    assert dist["merges"] == want["merges"]
    assert dist["vocab"] == want["vocab"]


def test_trainer_min_count_stops_early(spark):
    docs = spark.createDataFrame(
        [(0, "aa ab"), (1, "aa")], "doc_id long, text string"
    )
    # 'a ##a' appears twice (aa twice... once per doc) and 'a ##b' once;
    # after the first merge nothing reaches min_count=2.
    got = wp.wordpiece_train(docs, num_merges=10, min_count=2)
    assert got["merges"] == [("a", "##a")]
    assert got["vocab"][-1] == "aa"  # right side loses its ## prefix


def test_encode_published_example(spark):
    vocab = ["un", "##aff", "##able", "a", "b", "##c"]
    docs = spark.createDataFrame(
        [(0, "unaffable"), (1, "abc"), (2, "unzzz"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in wp.wordpiece_encode(docs, vocab).collect()
    }
    assert got[0] == (["un", "##aff", "##able"], 3)
    # 'abc': 'a' matches, then '##b' is not in vocab ('b' is plain
    # only), so the WHOLE word collapses to [UNK]
    assert got[1] == ([wp.UNK], 1)
    assert got[2] == ([wp.UNK], 1)  # 'zzz' tail unmatchable
    assert got[3] == ([], 0)


def test_encode_longest_match_wins(spark):
    # Both 'a' and 'ab' match at position 0 — greedy takes 'ab'.
    vocab = ["a", "ab", "##b", "##c"]
    docs = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    toks = list(wp.wordpiece_encode(docs, vocab).collect()[0]["tokens"])
    assert toks == ["ab", "##c"]


def test_encode_roundtrip_with_trained_vocab(spark):
    """Every non-[UNK] encoding must concatenate back to the word, and
    training-corpus words must never be [UNK] (their alphabet is in
    the vocab by construction)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(80)
        .select("doc_id", "text")
    )
    trained = wp.wordpiece_train(docs, num_merges=15, min_count=2)
    enc = wp.wordpiece_encode(docs, trained).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(enc) == len(texts)
    for r in enc:
        words = re.findall(r"[a-z0-9]+", texts[r["doc_id"]].lower())
        toks = list(r["tokens"])
        assert wp.UNK not in toks
        # tokens concatenate (prefixes stripped) back to the words
        joined = "".join(t[2:] if t.startswith(wp.CONT_PREFIX) else " " + t
                         for t in toks)
        assert joined.split() == words


def test_validators(spark):
    docs = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_merges"):
        wp.wordpiece_train(docs, num_merges=0)
    with pytest.raises(ValueError, match="min_count"):
        wp.wordpiece_train(docs, 1, min_count=0)
    with pytest.raises(ValueError, match="vocab"):
        wp.wordpiece_encode(docs, [])


def test_encode_plan_has_no_shuffle(spark):
    from plda_spark.plans import plan_summary

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s = plan_summary(wp.wordpiece_encode(docs, ["a", "##a", "b"]))
    assert s["exchanges"] == 0
    assert "BatchEvalPython" not in s["plan"]


# ---------------------------------------------------------------------------
# tokenizer persistence (operators/tokenizer_io.py) — all three families


def test_tokenizer_save_load_roundtrip_all_families(spark, tmp_path):
    """Save/load must be identity for every trained-tokenizer family,
    and encode_with(loaded) must equal encoding with the fresh model."""
    from plda_spark.operators import bpe, tokenizer_io, unigram

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(60)
        .select("doc_id", "text")
    )

    def rows(df):
        return sorted(
            (r["doc_id"], tuple(r["tokens"])) for r in df.collect()
        )

    # BPE
    merges = bpe.bpe_train(docs, 8)
    p = str(tmp_path / "tok_bpe.json")
    assert tokenizer_io.save_tokenizer(spark, merges, p) == "bpe"
    loaded = tokenizer_io.load_tokenizer(spark, p)
    assert loaded["merges"] == merges
    assert rows(tokenizer_io.encode_with(docs, loaded)) == rows(
        bpe.bpe_encode(docs, merges)
    )

    # unigram
    uv = unigram.unigram_train(docs, vocab_size=80, max_piece_len=3, em_iters=1)
    p = str(tmp_path / "tok_ug.json")
    assert tokenizer_io.save_tokenizer(spark, uv, p) == "unigram"
    loaded = tokenizer_io.load_tokenizer(spark, p)
    assert loaded["vocab"] == uv
    assert rows(tokenizer_io.encode_with(docs, loaded)) == rows(
        unigram.unigram_encode(docs, uv)
    )

    # byte-level BPE (explicit kind dict: a bare merge list would be
    # indistinguishable from word-level BPE)
    from plda_spark.operators import byte_bpe as bb

    bmerges = bb.byte_bpe_train(docs, 8)
    p = str(tmp_path / "tok_bbpe.json")
    assert (
        tokenizer_io.save_tokenizer(
            spark, {"kind": "byte_bpe", "merges": bmerges}, p
        )
        == "byte_bpe"
    )
    loaded = tokenizer_io.load_tokenizer(spark, p)
    assert loaded["merges"] == bmerges
    assert rows(tokenizer_io.encode_with(docs, loaded)) == rows(
        bb.byte_bpe_encode(docs, bmerges)
    )

    # wordpiece
    wv = wp.wordpiece_train(docs, num_merges=8)
    p = str(tmp_path / "tok_wp.json")
    assert tokenizer_io.save_tokenizer(spark, wv, p) == "wordpiece"
    loaded = tokenizer_io.load_tokenizer(spark, p)
    assert loaded["merges"] == wv["merges"] and loaded["vocab"] == wv["vocab"]
    assert rows(tokenizer_io.encode_with(docs, loaded)) == rows(
        wp.wordpiece_encode(docs, wv)
    )


def test_tokenizer_io_validators(spark, tmp_path):
    from plda_spark.operators import tokenizer_io

    with pytest.raises(ValueError, match="unrecognized"):
        tokenizer_io.save_tokenizer(spark, 42, str(tmp_path / "x.json"))
    with pytest.raises(FileNotFoundError):
        tokenizer_io.load_tokenizer(spark, str(tmp_path / "missing.json"))
    p = str(tmp_path / "bad.json")
    tokenizer_io.save_tokenizer(spark, [("a", "b")], p)
    import json as _json

    from plda_spark.sources.snapshot import _FS

    fs = _FS(spark, p)  # rewrite through the same (checksummed) FS API
    doc = _json.loads(fs.read_text(p))
    doc["format_version"] = 99
    fs.write_text(p, _json.dumps(doc))
    with pytest.raises(ValueError, match="format_version"):
        tokenizer_io.load_tokenizer(spark, p)
    docs = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown tokenizer kind"):
        tokenizer_io.encode_with(docs, {"kind": "nope"})
