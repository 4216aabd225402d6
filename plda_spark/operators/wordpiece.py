"""WordPiece tokenizer training/encoding (Schuster & Nakajima 2012 —
the BERT tokenizer), completing the big-three subword family next to
BPE (:mod:`.bpe`) and unigram-LM (:mod:`.unigram`).

Training is the likelihood-scored merge rule as published and as
implemented by the public HuggingFace ``tokenizers`` WordPiece trainer:
identical loop structure to BPE, but each step merges the adjacent
symbol pair maximizing

    score(a, b) = count(a, b) / (count(a) · count(b))

— the pair whose merge most increases a unigram-LM likelihood of the
corpus, rather than the raw most-frequent pair.  Word-internal
continuation pieces carry the ``##`` prefix (``unaffable`` →
``un ##aff ##able``); merging ``(a, ##b)`` produces ``a##b`` with the
prefix of the RIGHT symbol dropped (``##a + ##b → ##ab``).

Encoding is greedy longest-match-first over the final vocabulary (the
published WordPiece encoder — NOT merge replay, which is BPE's encode):
at each position take the longest vocab piece that matches; a word with
any unmatchable position becomes a single ``[UNK]``.

Design for 100 TB
-----------------
- The corpus is scanned ONCE into a word-frequency table (vocabulary-
  sized, not corpus-sized); every training sweep aggregates that table.
- Per merge: one adjacent-pair aggregation + one symbol aggregation
  (both map-side combined), then the score argmax via two BROADCAST
  joins — the symbol table is vocab-bounded (alphabet + accepted
  merges), exactly the small-dimension case where a broadcast is the
  right plan, never a corpus-sized relation.
- Encoding broadcasts the final vocabulary (≤ vocab-size strings) into
  ONE Arrow ``mapInPandas`` pass over the documents — no shuffle, no
  per-row Python UDF; the greedy matcher is bounded by
  ``max_piece_len`` per position.

Parity: ``tests/test_wordpiece.py`` pins the distributed trainer
bit-identical (merge order included) to an independent sequential
dict-based reference of the published algorithm, and the encoder to
hand-computed goldens including ``[UNK]`` semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["wordpiece_train", "wordpiece_encode", "CONT_PREFIX", "UNK"]

CONT_PREFIX = "##"
UNK = "[UNK]"

_EMPTY = "CAST(array() AS ARRAY<STRING>)"

# A word table of at most this many rows runs the merge loop on the
# driver; it never changes the result (tests set it to 0 to force the
# distributed sweeps).
_DRIVER_MAX_WORDS = 500_000


def _words_col(text_col: str) -> Column:
    """Engine-standard tokenization: lowercase runs of [a-z0-9]."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: F.length(x) > 0,
    )


def _pieces_col(word: Column) -> Column:
    """``word`` → initial WordPiece segmentation: first char plain,
    every later char ``##``-prefixed."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.when(i == 1, F.substring(word, 1, 1)).otherwise(
            F.concat(F.lit(CONT_PREFIX), F.substring(word, i, 1))
        ),
    )


def _join_pieces(a: str, b: str) -> str:
    """The merged symbol: right side loses its continuation prefix."""
    return a + (b[len(CONT_PREFIX):] if b.startswith(CONT_PREFIX) else b)


def _merge_col(syms: Column, a: str, b: str) -> Column:
    """One merge pass: adjacent (a, b) → the joined symbol, left to
    right, non-overlapping (same re-scan semantics as bpe._apply_all)."""
    ab = _join_pieces(a, b)
    return F.aggregate(
        syms,
        F.expr(_EMPTY),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-pair occurrences weighted by word freq."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("syms") - 1),
        lambda i: F.struct(
            F.element_at("syms", i).alias("a"),
            F.element_at("syms", i + 1).alias("b"),
        ),
    )
    return (
        words.where(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )


def _symbol_counts(words: DataFrame) -> DataFrame:
    """(sym, scnt): per-symbol occurrences weighted by word freq."""
    return (
        words.select(F.explode("syms").alias("sym"), "n")
        .groupBy("sym")
        .agg(F.sum("n").alias("scnt"))
    )


def _wordpiece_train_driver(
    words: list, num_merges: int, min_count: int
) -> dict:
    """Driver-side twin of the distributed sweep loop over a BOUNDED
    word-frequency table: same pair counts, same symbol counts, same
    ``cnt/(ca·cb)`` double score, same (score desc, a asc, b asc)
    argmax, same left-to-right non-overlapping merge replay — counts
    are exact ints and the score division is one IEEE double op on
    exactly-representable ints, so the merge sequence is bit-identical
    to the distributed path (parity-pinned in tests)."""
    merges: list[tuple[str, str]] = []
    seen: dict = {}
    for syms, n in words:
        for s in syms:
            seen[s] = None
    vocab: list[str] = sorted(seen)
    for _ in range(num_merges):
        pc: dict = {}
        sc: dict = {}
        for syms, n in words:
            for s in syms:
                sc[s] = sc.get(s, 0) + n
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + n
        best = None
        for (a, b), cnt in pc.items():
            if cnt < min_count:
                continue
            score = float(cnt) / (float(sc[a]) * float(sc[b]))
            if (
                best is None
                or score > best[0]
                or (score == best[0] and (a, b) < (best[1], best[2]))
            ):
                best = (score, a, b)
        if best is None:
            break  # no pair reaches min_count — sequential stop point
        a, b = best[1], best[2]
        merges.append((a, b))
        ab = _join_pieces(a, b)
        vocab.append(ab)
        new_words = []
        for syms, n in words:
            acc: list[str] = []
            for x in syms:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = ab
                else:
                    acc.append(x)
            new_words.append((acc, n))
        words = new_words
    return {"merges": merges, "vocab": vocab}


def wordpiece_train(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_count: int = 2,
) -> dict:
    """Learn a WordPiece vocabulary from ``docs[text_col]``.

    Returns ``{"merges": [(a, b), ...], "vocab": [piece, ...]}`` where
    ``vocab`` is the initial alphabet (every first-char and ``##``-char
    seen in the corpus) plus each merge's joined symbol, in learned
    order — the input :func:`wordpiece_encode` takes.  Stops early when
    no pair reaches ``min_count`` occurrences.

    One merge per sweep (the published sequential rule; scores are NOT
    monotone under merging, so BPE's batched-prefix parity argument
    does not transfer — correctness over cleverness here).  Ties on
    score break by (a asc, b asc), pinned by the parity test.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    words = (
        docs.select(F.explode(_words_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(_pieces_col(F.col("word")).alias("syms"), "n")
    )
    # Eager checkpoint: the argmax job reads the word table THREE times
    # (pair agg + one symbol agg per broadcast side); materializing the
    # vocab-sized table once per sweep beats re-running its lineage 3x.
    words = words.localCheckpoint(eager=True)
    # The sweep loop is INHERENTLY sequential (one merge per sweep —
    # scores are not monotone under merging), so against a bounded
    # word-frequency table the distributed loop is ~4 scheduling-bound
    # jobs per merge over a vocab-sized frame.  When the table fits
    # the row-count guard (checked on the materialized checkpoint,
    # BEFORE any collect — the knn/mmr/cc self-enforcing pattern), the
    # loop runs driver-side instead; past the bound, the distributed
    # sweeps below are the path, unchanged.
    if words.count() <= _DRIVER_MAX_WORDS:
        rows = [
            (list(r["syms"]), int(r["n"])) for r in words.collect()
        ]
        return _wordpiece_train_driver(rows, num_merges, min_count)
    alphabet = [
        r["sym"]
        for r in _symbol_counts(words).select("sym").orderBy("sym").collect()
    ]
    merges: list[tuple[str, str]] = []
    vocab: list[str] = list(alphabet)
    for _ in range(num_merges):
        pc = _pair_counts(words).where(F.col("cnt") >= min_count)
        sc = _symbol_counts(words)
        top = (
            pc.join(F.broadcast(sc.withColumnRenamed("sym", "a")), "a")
            .withColumnRenamed("scnt", "ca")
            .join(F.broadcast(sc.withColumnRenamed("sym", "b")), "b")
            .withColumnRenamed("scnt", "cb")
            .select(
                "a",
                "b",
                (
                    F.col("cnt").cast("double")
                    / (F.col("ca").cast("double") * F.col("cb").cast("double"))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # no pair reaches min_count — sequential stop point
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab.append(_join_pieces(a, b))
        words = words.select(
            _merge_col(F.col("syms"), a, b).alias("syms"), "n"
        ).localCheckpoint(eager=True)
    return {"merges": merges, "vocab": vocab}


def wordpiece_encode(
    docs: DataFrame,
    vocab: list[str] | dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 32,
) -> DataFrame:
    """Encode ``docs`` with a WordPiece vocabulary:
    ``(doc_id, tokens array<string>, n_tokens)``.

    The published greedy longest-match-first encoder: per word, take the
    longest vocab piece matching at the cursor (continuation positions
    require the ``##`` form); any unmatchable position collapses the
    whole word to ``[UNK]``.  The vocabulary rides the closure into ONE
    Arrow ``mapInPandas`` pass — no shuffle, no row-at-a-time UDF; the
    per-position scan is bounded by ``max_piece_len``.
    """
    if isinstance(vocab, dict):
        vocab = vocab["vocab"]
    vset = frozenset(vocab)
    if not vset:
        raise ValueError("vocab must be non-empty")
    longest = min(max(len(p) for p in vset), max_piece_len)

    def enc_word(w: str) -> list[str]:
        out: list[str] = []
        pos = 0
        while pos < len(w):
            pre = "" if pos == 0 else CONT_PREFIX
            end = min(len(w), pos + longest)
            while end > pos:
                cand = pre + w[pos:end]
                if cand in vset:
                    out.append(cand)
                    break
                end -= 1
            else:
                return [UNK]
            pos = end
        return out

    import re as _re

    import pandas as pd  # local: keep the module import-light on driver

    word_re = _re.compile(r"[a-z0-9]+")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for text in pdf["text"]:
                row: list[str] = []
                for w in word_re.findall((text or "").lower()):
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = enc_word(w)
                    row.extend(got)
                toks.append(row)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    staged = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return staged.mapInPandas(
        fn, schema="doc_id long, tokens array<string>, n_tokens int"
    )
