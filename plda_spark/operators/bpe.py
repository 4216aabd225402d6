"""Distributed BPE tokenizer training (Sennrich et al. 2016 word-level
byte-pair encoding) and encoding.

The operation a training-data pipeline actually needs before packing:
learn a subword merge table from the corpus, then encode documents with
it.  The classic algorithm is a sequential loop (count adjacent symbol
pairs, merge the most frequent, repeat), which distributes cleanly with
the standard trick the original implementation uses: all counting runs
over the WORD-FREQUENCY table, not the corpus.

Scale shape:

- the corpus is scanned ONCE (``doc_term_counts``-style tokenize +
  groupBy) into a vocabulary-sized ``(word, n)`` table — every later
  stage is corpus-size-independent;
- merges are learned in BATCHED sweeps: one map-side-combined
  pair-count aggregation over the V-row table plus a top-``k``
  ``TakeOrdered`` (count desc, pair asc — deterministic ties) collected
  to the driver, from which a provably-safe PREFIX is accepted and
  applied in one fold pass.  This cuts driver round-trips up to ~m×
  versus one job per merge (a production 30k-merge vocabulary becomes
  thousands of sweeps instead of 30k sequential jobs) while producing
  the EXACT sequential merge list.  Why the prefix rule is sound:
  merging pair p only changes counts of pairs sharing a symbol with p —
  disjoint pairs keep their counts exactly, and every NEW pair p
  creates inherits a count ≤ some symbol-sharing progenitor's.  The
  sweep therefore accepts sorted pairs while (a) the candidate shares
  no symbol with an already-accepted pair (its count is then unchanged
  at its sequential turn) and (b) no symbol-sharing pair TIES the
  candidate's count (a new pair can inherit a tied count and, under the
  lexicographic tie-break, sort ahead of the candidate — e.g. merging
  ``(e,r)`` turns ``(r,</w>)`` into ``(er,</w>)``, which outranks a
  tied ``(low,</w>)``), and (c) a sweep ends right after accepting a
  merge whose concatenated string COLLIDES with an already-existing
  symbol (``a+bc`` and ``ab+c`` both spell ``abc``) — the one case
  where applying a merge can INCREASE an existing pair's count, since
  the new occurrences pour into pairs already carrying that symbol;
  the multi-char symbol universe is exactly ``{END_OF_WORD} ∪ {past
  merge concats}``, so a driver-side set detects every collision.  It
  stops at the first violation, so every accepted pair is still the
  true argmax at its turn.  Driver state is the merge list + concat
  set only;
- lineage is cut with a lazy ``localCheckpoint`` every few merges so
  N-merge plans don't nest N folds.

Encoding applies the merges in learned order as the same JVM fold —
fine for the ~10²-merge tables tests use; production tokenizers compile
the table into a trie/automaton, deliberately out of scope here.

The pytest gate checks bit-identical merges and encodings against a
pure-Python reference implementation of the published algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bpe_train", "bpe_encode", "END_OF_WORD"]

END_OF_WORD = "</w>"

# The merge sweep's fixed tuning, shared by word and byte BPE; no value
# changes the merge list (tests monkeypatch them to force each path).
# A word table of at most _DRIVER_MAX_WORDS rows runs the sequential
# loop on the driver; past it, each distributed sweep collects up to
# _BATCH_MERGES merges, and the lineage is cut every _CHECKPOINT_EVERY.
_DRIVER_MAX_WORDS = 500_000
_BATCH_MERGES = 8
_CHECKPOINT_EVERY = 8

def _chars_col(word: Column) -> Column:
    """``word`` → its characters plus the end-of-word marker.

    ``split(word, "")`` is one linear pass; the earlier per-index
    ``substring(word, i, 1)`` re-walked the string per character."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def _pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, cnt) for all adjacent symbol pairs, weighted by word
    frequency — one explode + one map-side-combined aggregation."""
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


def bpe_train(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` BPE merges from ``docs[text_col]``.

    Returns the merge list in learned order — bit-identical to the
    sequential published algorithm however many merges a sweep accepts
    (see module doc); stops early when no pair reaches ``min_count``
    occurrences.  Tokenization is the engine's standard lowercase word
    split (:mod:`plda_spark.lda.corpus` convention: runs of
    ``[a-z0-9]``).
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = F.explode(
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: F.length(x) > 0,
        )
    ).alias("word")
    words = (
        docs.select(toks)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(_chars_col(F.col("word")).alias("syms"), "n")
    )
    # Every multi-char symbol that can exist: END_OF_WORD plus the
    # concatenation of each accepted merge (single chars can never
    # collide with a >= 2-char concat).  Used by sweep-stop rule (c).
    return _train_merges(words, num_merges, min_count, known={END_OF_WORD})


def _train_merges_driver(
    words: list, num_merges: int, min_count: int
) -> list[tuple[str, str]]:
    """Driver-side twin of :func:`_train_merges` over a BOUNDED word
    table: the PUBLISHED sequential loop itself — most-frequent pair by
    (cnt desc, a asc, b asc), left-to-right non-overlapping replay —
    which the batched distributed sweeps are proven bit-identical to
    (module doc), so the two paths agree merge-for-merge by the same
    argument; parity-pinned in tests against the sequential reference
    and against the forced-distributed path."""
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        pc: dict = {}
        for syms, n in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + n
        best = None
        for (a, b), cnt in pc.items():
            if cnt < min_count:
                continue
            if (
                best is None
                or cnt > best[0]
                or (cnt == best[0] and (a, b) < (best[1], best[2]))
            ):
                best = (cnt, a, b)
        if best is None:
            break  # no pair reaches min_count — sequential stop point
        a, b = best[1], best[2]
        merges.append((a, b))
        ab = a + b
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
    return merges


def _train_merges(
    words: DataFrame,
    num_merges: int,
    min_count: int,
    known: set[str],
) -> list[tuple[str, str]]:
    """The batched merge-sweep loop shared by :func:`bpe_train` and
    the byte-level variant (:mod:`.byte_bpe`): ``words`` is the
    ``(syms array<string>, n long)`` frequency table; ``known`` seeds
    the multi-char symbol universe for sweep-stop rule (c) (the
    END_OF_WORD marker for word BPE, empty for byte BPE whose base
    alphabet is all single chars).  See the module doc for the exact
    sequential-parity argument.

    A word table within ``_DRIVER_MAX_WORDS`` rows (row-count-enforced
    on the materialized checkpoint BEFORE any collect) runs the
    sequential loop driver-side instead — each distributed sweep is
    several scheduling-bound jobs over a vocab-sized frame, pure
    overhead at that size; larger tables take the batched sweeps
    unchanged."""
    words = words.localCheckpoint(eager=True)
    if words.count() <= _DRIVER_MAX_WORDS:
        return _train_merges_driver(
            [(list(r["syms"]), int(r["n"])) for r in words.collect()],
            num_merges,
            min_count,
        )
    merges: list[tuple[str, str]] = []
    since_ckpt = 0
    known = set(known)
    while len(merges) < num_merges:
        want = min(_BATCH_MERGES, num_merges - len(merges))
        # Collect a lookahead window past `want` so each candidate's
        # full tie group is visible for the safety check below.
        lookahead = want * 2 + 8
        top = (
            _pair_counts(words)
            .where(F.col("cnt") >= min_count)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(lookahead)
            .collect()
        )
        if not top:
            break  # no pair reaches min_count — sequential stop point
        # Accept a prefix of the sorted list; stop the sweep at the
        # first candidate that (a) shares a symbol with an accepted
        # merge (its count may shift once the earlier merges apply) or
        # (b) has a symbol-sharing pair in its TIE group (a new pair
        # can inherit that tied count and sort ahead of the candidate);
        # and (c) stop AFTER accepting a merge whose concatenated
        # string collides with an ALREADY-EXISTING symbol — e.g. both
        # a+bc and ab+c spell "abc" — because applying it merges mass
        # INTO existing pairs carrying that symbol, the one way a
        # pair's count can INCREASE mid-sweep (the multi-char symbol
        # set is exactly {END_OF_WORD} ∪ {past merge concats}, so the
        # driver-side `known` set detects every such collision).
        # The first pair never violates (a)/(b), so every sweep makes
        # progress; see the module doc for the parity proof.
        used: set[str] = set()
        batch: list[tuple[str, str]] = []
        for i, r in enumerate(top):
            if len(batch) >= want:
                break
            a, b, cnt = r["a"], r["b"], r["cnt"]
            if a in used or b in used:
                break
            if batch:
                tail = top[i + 1 :]
                if any(
                    s["cnt"] == cnt and (s["a"] in used or s["b"] in used)
                    for s in tail
                ):
                    break
                if len(top) == lookahead and top[-1]["cnt"] == cnt:
                    break  # tie group may extend past the window
            batch.append((a, b))
            used.add(a)
            used.add(b)
            if a + b in known:
                # Collision with an existing symbol: see (c).  Never
                # observed in a 4000-corpus search (count dynamics make
                # dual parses of one string rare) — kept as a zero-cost
                # safety guard so parity is unconditional.
                break
            known.add(a + b)
        merges.extend(batch)
        words = words.select(
            _apply_all(F.col("syms"), batch).alias("syms"), "n"
        )
        since_ckpt += len(batch)
        if since_ckpt >= _CHECKPOINT_EVERY:
            words = words.localCheckpoint(eager=False)
            since_ckpt = 0
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode ``docs`` with a learned merge table:
    ``(doc_id, tokens array<string>, n_tokens)``.

    Per-row JVM folds only (no shuffle, no Python): each word splits to
    characters and replays the merges in learned order.  Cost is
    O(len·|merges|) per word — the pedagogically faithful form; compile
    to a trie before applying 30k-merge production vocabularies.
    """
    word_syms = lambda w: _apply_all(_chars_col(w), merges)  # noqa: E731
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: F.length(x) > 0,
    )
    tokens = F.flatten(F.transform(words, word_syms))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens.alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens"))


_SEP = "\x01"


def _apply_all(syms: Column, merges: list[tuple[str, str]]) -> Column:
    """Replay ``merges`` in learned order over a symbol array.

    ONE delimited-string rewrite instead of ``|merges|`` array folds:
    the array joins to ``\\x01s1\\x01\\x01s2\\x01…`` (every symbol
    wrapped in ``\\x01``, so symbol adjacency is the unambiguous
    ``\\x01\\x01``), each merge is a single literal ``replace`` — a
    left-to-right non-overlapping scan, exactly the published BPE
    single-pass merge semantics and the same construction the DuckDB
    replay oracle uses — and the result splits back to an array.
    O(len) per merge with no allocation per element; the previous
    ``aggregate`` fold rebuilt the accumulator array once per element
    (O(len²) per merge per word — measured 20 s for the 8-merge
    byte-BPE encode of the sf0.1 corpus vs ~2 s in this form).
    ``\\x01`` cannot collide with symbol text: word-BPE symbols are
    ``[a-z0-9]``/``</w>`` concats and byte-BPE symbols live in the
    GPT-2 remapped alphabet (printable latin + U+0100–U+0143)."""
    if not merges:
        return syms
    s = F.concat(F.lit(_SEP), F.array_join(syms, _SEP + _SEP), F.lit(_SEP))
    for a, b in merges:
        s = F.replace(
            s,
            F.lit(_SEP + a + _SEP + _SEP + b + _SEP),
            F.lit(_SEP + a + b + _SEP),
        )
    out = F.split(F.btrim(s, F.lit(_SEP)), _SEP + _SEP)
    # empty symbol array: join → "", btrim → "", split → [""] — map back
    # to the empty array the fold form produced
    return F.when(F.size(syms) == 0, syms).otherwise(out)
