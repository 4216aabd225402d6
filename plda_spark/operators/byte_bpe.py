"""Distributed BYTE-LEVEL BPE tokenizer training and encoding — the
GPT-2 lineage (Radford et al. 2019; Sennrich et al. 2016 merges over a
256-symbol byte alphabet) that production LLM pipelines default to:
no unknown tokens ever (every string is a byte sequence), casing and
whitespace preserved, and one tokenizer for every language.

Differences from word-level :mod:`.bpe`:

- the base alphabet is the 256 UTF-8 BYTES of each pretoken, shown
  through the standard GPT-2 byte→unicode remap
  (:func:`bytes_to_unicode`): every byte gets a PRINTABLE
  single-codepoint stand-in (``0x20`` → ``Ġ``, ``0x0A`` → ``Ċ``, …)
  so merge tables serialize as plain text;
- pretokenization keeps case and leading spaces: the GPT-2-style
  pattern ``PRETOKEN_RE`` (letter runs / digit runs / punctuation
  runs, each with an optional leading space, plus whitespace runs).
  The published GPT-2 pattern's English contraction special-cases and
  the ``\\s+(?!\\S)`` lookahead are deliberately dropped: the class
  form here is lookahead-free and therefore replayable in Java regex
  AND RE2/DuckDB alike — same split in every engine, which is what
  the cross-engine oracle gate needs;
- no END_OF_WORD marker: a leading-space byte (``Ġ``) plays the word
  boundary role, as in GPT-2.

Scale shape is identical to word BPE and shared with it: the corpus
is scanned ONCE into a (pretoken, n) frequency table, and merges are
learned by the SAME batched sweep (``bpe._train_merges``) with the
same exact-sequential-parity acceptance rule — pair counting runs
over the vocabulary-sized table, never the corpus.  The byte remap is
a single JVM ``translate`` over the latin-1 view of the UTF-8 bytes
(a bijective bytes↔chars decode), so no Python touches the row path.

Encoding replays the merges in learned order as per-row JVM folds —
the word-BPE contract; compile to a trie before applying 30k-merge
production vocabularies.

The pytest gate checks bit-identical merges and encodings (including
multi-byte UTF-8 input) against a pure-Python reference of the
published algorithm at batch sizes 1/4/16.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from plda_spark.operators.bpe import _apply_all, _train_merges

__all__ = [
    "byte_bpe_train",
    "byte_bpe_encode",
    "bytes_to_unicode",
    "PRETOKEN_RE",
]

# Lookahead-free GPT-2-style pretokenizer: identical semantics in Java
# regex (Spark) and RE2 (DuckDB).  Order matters: letter/digit runs
# claim their optional leading space before the punctuation class can.
PRETOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


@lru_cache(maxsize=1)
def bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte→printable-unicode remap: bytes in the three
    "nice" printable latin ranges (``!``–``~``, ``¡``–``¬``,
    ``®``–``ÿ``) map to themselves; the remaining 68 (controls, space,
    DEL, ``\\xad``, …) map to ``U+0100 + n`` in ascending byte order —
    a bijection, so encodings are losslessly reversible."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = list(bs)
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


@lru_cache(maxsize=1)
def _translate_pair() -> tuple[str, str]:
    """(matching, replace) strings for ``F.translate``: only the 68
    non-identity bytes, as their latin-1 chars → remapped chars."""
    b2u = bytes_to_unicode()
    pairs = [(chr(b), u) for b, u in b2u.items() if chr(b) != u]
    return "".join(p[0] for p in pairs), "".join(p[1] for p in pairs)


def _byte_syms(pt: Column) -> Column:
    """Pretoken → array of remapped chars, ONE per UTF-8 byte: encode
    to UTF-8, decode latin-1 (bijective bytes↔U+00–U+FF), translate
    the 68 non-printable bytes to their GPT-2 stand-ins, split to
    chars.  All JVM expressions — no Python, no shuffle.  The split is
    ``split(s, "")`` (one linear pass); the earlier per-index
    ``substring(s, i, 1)`` re-walked the UTF8 string from the start
    per character — O(len²) per pretoken."""
    matching, replace = _translate_pair()
    mapped = F.translate(
        F.decode(F.encode(pt, "UTF-8"), "ISO-8859-1"), matching, replace
    )
    return F.split(mapped, "")


def byte_bpe_train(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` byte-level BPE merges from
    ``docs[text_col]``; returns the merge list in learned order (pairs
    of remapped-unicode symbol strings) — bit-identical to the
    sequential published algorithm however many merges a sweep accepts
    (the :func:`plda_spark.operators.bpe.bpe_train` parity contract;
    stops early when no pair reaches ``min_count``)."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    pretoks = F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_RE), 0)
    ).alias("pt")
    words = (
        docs.where(F.col(text_col).isNotNull())
        .select(pretoks)
        .groupBy("pt")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(_byte_syms(F.col("pt")).alias("syms"), "n")
    )
    # known starts EMPTY: the byte alphabet is all single chars, so
    # the multi-char symbol universe is exactly the merge concats
    return _train_merges(words, num_merges, min_count, known=set())


def byte_bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode ``docs`` with a learned byte-level merge table:
    ``(doc_id, tokens array<string>, n_tokens)`` — tokens are in the
    remapped-unicode space (the GPT-2 convention; invert
    :func:`bytes_to_unicode` to recover raw bytes).  Per-row JVM
    folds only, the :func:`plda_spark.operators.bpe.bpe_encode`
    shape — stateless, so the same call runs on a readStream frame."""
    word_syms = lambda pt: _apply_all(_byte_syms(pt), merges)  # noqa: E731
    pretoks = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(PRETOKEN_RE), 0
    )
    tokens = F.flatten(F.transform(pretoks, word_syms))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens.alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens"))
