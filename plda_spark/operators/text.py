"""Text-analysis operators for training-data pipelines.

JVM-side (whole-stage codegen; no row-at-a-time Python UDFs):
tokenization, token/char statistics, quality scoring, n-gram-free
language ID via stopword-lexicon hits, and document fingerprinting.
The one exception is ``gopher_repetition``, which runs as a vectorized
Arrow ``mapInPandas`` pass — measured ~13× faster than the equivalent
JVM higher-order-function folds (Spark evaluates lambda expressions
interpreted, per element).  Every operator has an exact ANSI-SQL
equivalent so the DuckDB oracle can replay it.

Scale: each operator is a narrow projection over ``documents`` — no
shuffle except where a groupBy is the semantics (lang-ID is pure
per-row).  Filters/projections push down to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from plda_spark._exprs import md5_long
from plda_spark.lda.corpus import MIN_TOKEN_LEN, TOKEN_RE
from plda_spark.lineage import _Lineage

__all__ = [
    "tokens_col",
    "token_stats",
    "quality_score",
    "language_id",
    "tf_idf",
    "collocations",
    "bm25_score",
    "lm_score",
    "lm_score_kn",
    "lm_score_kn3",
    "dedup_paragraphs",
    "split_sentences",
    "textrank_sentences",
    "normalize_unicode",
    "fix_double_encoding",
    "fingerprint",
    "winnow",
    "winnow_pairs",
    "redact_pii",
    "gopher_filters",
    "gopher_repetition",
    "c4_clean",
    "rake_keywords",
    "char_entropy",
    "ngram_novelty",
    "zipf_fit",
    "PII_PATTERNS",
    "BPE_SPLIT_RE",
    "STOPWORDS",
    "GOPHER_REQUIRED_WORDS",
    "vocab_coverage",
    "vocab_richness",
    "term_burstiness",
    "yule_k",
    "source_token_jsd",
]

# The Gopher rules' required-word check (Rae et al. 2021, "Scaling
# Language Models", §A.1.1): a page must contain at least 2 of these.
GOPHER_REQUIRED_WORDS: list[str] = ["the", "be", "to", "of", "and", "that", "have", "with"]

# BPE-style pre-tokenizer (GPT-2-shaped, ASCII classes only so Java and
# RE2 regex engines count identically): a token is an optional leading
# space + a letter run, digit run, or symbol run; bare whitespace runs
# count as one token.  Counting these matches approximates the subword
# token count a byte-level BPE would produce far better than whitespace
# splitting (punctuation and number chunks become their own tokens).
BPE_SPLIT_RE = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"

# Tiny per-language stopword lexicons (public common function words).
# Deliberately ASCII-only where possible so Spark and RE2/DuckDB tokenize
# identically; zh uses romanized/common tokens as a heuristic stand-in.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "une", "un", "dans"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "un", "una", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"],
    "zh": ["de", "shi", "le", "bu", "wo", "ni", "ta", "men", "zai", "you"],
}


def tokens_col(text_col: str = "text") -> Column:
    """Array of tokens under the engine-wide rule (corpus.TOKEN_RE)."""
    toks = F.split(F.lower(F.col(text_col)), TOKEN_RE)
    return F.filter(toks, lambda x: F.length(x) >= MIN_TOKEN_LEN)


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counting: total tokens, unique tokens, mean token
    length, and a BPE-ish subword-token estimate.

    ``n_tokens`` uses the whitespace+regex rule; ``n_unique`` is the
    distinct-token count; ``avg_token_len`` rounds to 4 decimals for
    oracle-stable hashing; ``bpe_tokens`` counts ``BPE_SPLIT_RE``
    matches (the GPT-2-shaped pre-tokenization, the standard proxy for
    LLM token budgets when no tokenizer model is available).
    """
    t = tokens_col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique"),
        F.round(
            F.aggregate(t, F.lit(0.0), lambda acc, x: acc + F.length(x))
            / F.greatest(F.size(t), F.lit(1)),
            4,
        ).alias("avg_token_len"),
        F.regexp_count(F.col(text_col), F.lit(BPE_SPLIT_RE)).alias("bpe_tokens"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality signals: length, alpha ratio, punct ratio,
    stopword ratio (en), repetition ratios, and a composite score in
    [0,1].

    The composite mirrors common pretraining-data filters (Gopher-style
    length/symbol/repetition heuristics) using only deterministic
    arithmetic.  ``dup_token_ratio`` is the fraction of tokens that are
    repeats of an earlier token (1 − unique/total) and
    ``top_bigram_ratio`` the fraction of bigrams occupied by the most
    frequent bigram — the standard signals for degenerate repetitive
    text, cheap enough to run inline at corpus scale (pure per-row
    array expressions, no shuffle).
    """
    t = tokens_col(text_col)
    n_chars = F.length(F.col(text_col))
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    punct_chars = F.length(F.regexp_replace(F.col(text_col), "[^.,;:!?]", ""))
    en_stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_tokens = F.size(t)
    stop_hits = F.size(F.filter(t, lambda x: F.array_contains(en_stop, x)))
    alpha_ratio = alpha_chars / F.greatest(n_chars, F.lit(1))
    punct_ratio = punct_chars / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    dup_token_ratio = F.lit(1.0) - F.size(F.array_distinct(t)) / F.greatest(
        n_tokens, F.lit(1)
    )
    # Most-frequent-bigram share: sort the bigram array, then one fold
    # finds the longest run of equal adjacent values — O(n log n) per
    # row, strictly per-row, no shuffle.  The sorted array materializes
    # behind an alias so the fold doesn't re-evaluate it per element.
    bigrams_sorted = F.array_sort(
        F.zip_with(
            F.slice(t, 1, F.greatest(n_tokens - 1, F.lit(0)).cast("int")),
            F.slice(t, 2, F.greatest(n_tokens - 1, F.lit(0)).cast("int")),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars_measured"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(dup_token_ratio, 4).alias("dup_token_ratio"),
        stop_ratio.alias("__stop_ratio"),
        alpha_ratio.alias("__alpha_ratio"),
        dup_token_ratio.alias("__dup_ratio"),
        n_tokens.alias("__n_tokens"),
        bigrams_sorted.alias("__bg"),
    )
    bg = F.col("__bg")
    init = F.struct(
        F.lit(0).alias("run"), F.lit("").alias("prev"), F.lit(0).alias("best")
    )

    def longest_run(acc: F.Column, x: F.Column) -> F.Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            run.alias("run"), x.alias("prev"), F.greatest(acc["best"], run).alias("best")
        )

    top_bigram = F.aggregate(bg, init, longest_run, lambda acc: acc["best"])
    top_bigram_ratio = top_bigram / F.greatest(F.size(bg), F.lit(1))
    len_ok = (F.col("__n_tokens") >= 10) & (F.col("__n_tokens") <= 1000)
    score = (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.lit(0.3) * F.col("__alpha_ratio")
        + F.lit(0.3) * F.least(F.col("__stop_ratio") * 5, F.lit(1.0))
    ) * (
        F.lit(1.0)
        - F.least(F.greatest(F.col("__dup_ratio") * 2 - 1, F.lit(0.0)), F.lit(1.0))
    )
    return staged.select(
        "doc_id",
        "n_chars_measured",
        "alpha_ratio",
        "punct_ratio",
        "stopword_ratio",
        "dup_token_ratio",
        F.round(top_bigram_ratio, 4).alias("top_bigram_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-lexicon language ID: argmax of per-language hit counts.

    Pure per-row JVM expression (one ``size(filter(...))`` per language,
    argmax via ``array_position(array_max)``); ties broken by language
    order en,fr,es,de,zh then 'und' when no lexicon hits at all.
    """
    t = tokens_col(text_col)
    langs = list(STOPWORDS)

    def hits(words: list[str]) -> Column:
        lex = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(t, lambda x: F.array_contains(lex, x)))

    hit_cols = [hits(STOPWORDS[lang]).alias(f"hits_{lang}") for lang in langs]
    scored = docs.select(F.col(id_col).alias("doc_id"), *hit_cols)
    hits = F.array(*[F.col(f"hits_{lang}") for lang in langs])
    best = F.array_position(hits, F.array_max(hits))  # 1-based first max
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    return scored.select(
        "doc_id",
        F.when(F.array_max(hits) == 0, F.lit("und"))
        .otherwise(F.element_at(lang_arr, best.cast("int")))
        .alias("pred_lang"),
        F.array_max(hits).alias("best_hits"),
    )


def tf_idf(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, word) TF-IDF: ``tf = count / doc_len``, ``idf =
    ln((N + 1) / (df + 1)) + 1`` (smoothed, scikit-learn convention).

    Two aggregations (term counts, document frequencies) + N attached as
    a broadcast 1-row aggregate (round 11: it was an eager
    ``countDistinct`` collect at construction time — a full corpus scan
    job per *call*, before any action ran; in-plan it costs one
    broadcast of 8 bytes and the whole function is lazy); everything
    else is per-row arithmetic.  ``tfidf`` rounds to 6 decimals: the
    value is a product/log of exact integer ratios, so both engines
    compute identical doubles — the in-plan ``(N + 1)`` long-add +
    double-cast yields the same double as the old driver-side
    ``float(n_docs + 1)`` literal for any N < 2^53.

    Scale note: ``df_counts`` is vocabulary-sized (10^8+ rows on a web
    corpus), so it must NOT be broadcast — the join on ``word`` is a
    plain shuffle join and AQE may downgrade it to broadcast at runtime
    only when the measured size is actually small.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("word")
    )
    tc = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tc"))
    doc_len = tc.groupBy("doc_id").agg(F.sum("tc").alias("doc_len"))
    df_counts = tc.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.countDistinct(id_col).alias("__tfidf_n")
    )
    idf = (
        F.log((F.col("__tfidf_n") + 1).cast("double") / (F.col("df") + 1)) + 1
    )
    return (
        tc.join(doc_len, "doc_id")
        .join(df_counts, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.round((F.col("tc") / F.col("doc_len")) * idf, 6).alias("tfidf"),
        )
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus bigram collocations scored by PMI:
    ``pmi = ln(c(a,b) * T / (c(a) * c(b)))`` over adjacent token pairs
    (T = total bigram count).  One explode for unigrams, one
    slide-window transform for bigrams, two aggregations.

    Scale note: the unigram marginals are vocabulary-sized and must NOT
    be broadcast; only the 1-row ``total`` is.  The ``bigrams`` side is
    post-``min_count``-filter and genuinely small, so AQE will broadcast
    *it* at runtime when appropriate — the safe default plan is a
    shuffle join keyed on the token.
    """
    t = tokens_col(text_col)
    base = docs.select(F.col(id_col).alias("doc_id"), t.alias("toks"))
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    idx = F.sequence(F.lit(1), F.size("toks") - 1)
    bigrams = (
        base.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("a"),
                        F.element_at("toks", i + 1).alias("b"),
                    ),
                )
            ).alias("bg")
        )
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    # T = TOTAL bigram occurrences (Σ max(len-1, 0)), computed directly
    # from the token lengths: summing only the min_count-filtered types
    # would understate every PMI by a constant ln(T_all/T_kept) — and
    # make the reported value depend on min_count, which a PMI must not.
    # (Also removes the bigram-table persist this used to need.)
    total = base.select(
        F.greatest(F.size("toks") - 1, F.lit(0)).alias("nb")
    ).agg(F.sum("nb").alias("t_total"))
    ua = uni.select(F.col("w").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("c").alias("c_b"))
    return (
        bigrams.crossJoin(F.broadcast(total))
        .join(ua, "a")
        .join(ub, "b")
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(F.col("c_ab") * F.col("t_total") / (F.col("c_a") * F.col("c_b"))), 6
            ).alias("pmi"),
        )
    )


def bm25_score(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 of a fixed query-term list against every document —
    the standard lexical retrieval/relevance scorer (Robertson &
    Zaragoza 2009), used in curation to rank corpus docs against a
    topic description.

        idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score  = Σ_t idf(t) · tf_t·(k1+1) / (tf_t + k1·(1 - b + b·dl/avgdl))

    Returns ``(doc_id, bm25, n_matched)`` with ``bm25`` rounded to 6
    decimals (cross-engine hash stability) and ``n_matched`` = how many
    query terms appear at least once.

    Scale shape: per-term tf columns are pure per-row JVM expressions
    over the token array (no explode, no shuffle of the corpus); the
    corpus statistics (N, avgdl, per-term df) reduce to ONE 1-row
    aggregate that broadcasts back — so the whole scorer is a scan, a
    scalar aggregate, and a codegen'd projection.  ``avgdl`` and the
    dfs come from exact integer sums, so both engines compute identical
    doubles.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = tokens_col(text_col)

    def _tf(term: str):
        # one-arg lambda: F.filter treats a 2-arg callable as (elem, idx)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("__dl"),
        *[_tf(t).alias(f"__tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b
    score = None
    matched = None
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        df = F.col(f"__df_{i}")
        idf = F.log(F.lit(1.0) + (F.col("__n") - df + 0.5) / (df + 0.5))
        denom = tf + F.lit(k1) * (
            F.lit(one_minus_b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
        )
        part = idf * tf * F.lit(k1p1) / denom
        hit = (F.col(f"__tf_{i}") > 0).cast("int")
        score = part if score is None else score + part
        matched = hit if matched is None else matched + hit
    return base.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.round(score, 6).alias("bm25"),
        matched.alias("n_matched"),
    )


def lm_score(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    k_smooth: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc bigram language-model score — the classic perplexity-based
    quality filter (docs whose perplexity under a corpus-trained LM is an
    outlier are boilerplate, gibberish, or the wrong language).

    Trains an add-k-smoothed bigram model on ``lm_docs`` (default: the
    corpus itself) and scores every doc:

        P(b | a) = (c(a,b) + k) / (c(a) + k·V)        V = unigram vocab
        avg_logp = mean over the doc's bigrams of ln P(b | a)
        perplexity = exp(−avg_logp)

    Returns ``(doc_id, n_bigrams, avg_logp, perplexity)`` (docs with <2
    tokens are absent — they have no bigram evidence).

    Scale shape: two aggregations build the count tables (map-side
    combined), then the doc-bigram stream left-joins them on their keys —
    both tables are vocabulary-sized at web scale so neither is
    broadcast; AQE may downgrade to broadcast when actually small.  V
    rides the plan as a broadcast 1-row aggregate (round 6: it was an
    eager ``uni.count()`` at construction time — a full tokenize job
    per *call*, before any action ran; in-plan it costs one broadcast
    of 8 bytes and the whole function is lazy).  Entirely JVM-side and
    SQL-expressible.
    """
    lm_docs = docs if lm_docs is None else lm_docs
    t = tokens_col(text_col)

    def bigram_rows(src: DataFrame, with_doc: bool) -> DataFrame:
        base = src.select(F.col(id_col).alias("doc_id"), t.alias("toks"))
        idx = F.sequence(F.lit(1), F.size("toks") - 1)
        pairs = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at("toks", i).alias("a"),
                F.element_at("toks", i + 1).alias("b"),
            ),
        )
        cols = (["doc_id"] if with_doc else []) + [F.explode(pairs).alias("bg")]
        out = base.where(F.size("toks") >= 2).select(*cols)
        keep = (["doc_id"] if with_doc else []) + [
            F.col("bg.a").alias("a"),
            F.col("bg.b").alias("b"),
        ]
        return out.select(*keep)

    uni = (
        lm_docs.select(F.explode(t).alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    bi = bigram_rows(lm_docs, with_doc=False).groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    vsize = uni.agg(F.count(F.lit(1)).cast("double").alias("__lm_v"))
    logp = F.log(
        (F.coalesce(F.col("c_ab"), F.lit(0)) + F.lit(k_smooth))
        / (F.coalesce(F.col("c_a"), F.lit(0)) + F.lit(k_smooth) * F.col("__lm_v"))
    )
    scored = (
        bigram_rows(docs, with_doc=True)
        .join(bi, ["a", "b"], "left")
        .join(uni, ["a"], "left")
        .crossJoin(F.broadcast(vsize))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(logp).alias("__avg_logp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("__avg_logp", 6).alias("avg_logp"),
        F.round(F.exp(-F.col("__avg_logp")), 6).alias("perplexity"),
    )


def lm_score_kn(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc INTERPOLATED KNESER-NEY bigram LM score — the stronger
    sibling of :func:`lm_score` (absolute discounting + continuation
    probabilities is the smoothing the classic CCNet/KenLM perplexity
    filter uses; Kneser & Ney 1995, Chen & Goodman 1998 — public work).

        P(b|a) = max(c(a,b)−D, 0)/ctx(a) + D·N1+(a,·)/ctx(a) · Pc(b)
        Pc(b)  = (N1+(·,b) + 1) / (N_bb + V)      (add-one floor so OOV
                                                   continuations stay
                                                   finite)
        contexts with ctx(a) = 0 back off to Pc(b) directly

    where ctx(a) = Σ_b c(a,b), N1+(a,·) = distinct continuations of a,
    N1+(·,b) = distinct contexts of b, N_bb = total distinct bigram
    types, V = unigram vocabulary size.

    Returns ``(doc_id, n_bigrams, avg_logp, perplexity)`` (docs with <2
    tokens absent), rounded for cross-engine hash stability.

    Scale shape: identical to :func:`lm_score` — three map-side-combined
    count tables (bigram counts, per-context stats, per-continuation
    stats) joined onto the doc-bigram stream on their natural keys; the
    scalars N_bb and V ride the plan as one broadcast 1-row aggregate
    (nothing touches the driver and the whole function is lazy).
    Entirely JVM-side and SQL-expressible.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError("discount must be in (0, 1)")
    lm_docs = docs if lm_docs is None else lm_docs
    t = tokens_col(text_col)

    def bigram_rows(src: DataFrame, with_doc: bool) -> DataFrame:
        base = src.select(F.col(id_col).alias("doc_id"), t.alias("toks"))
        idx = F.sequence(F.lit(1), F.size("toks") - 1)
        pairs = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at("toks", i).alias("a"),
                F.element_at("toks", i + 1).alias("b"),
            ),
        )
        cols = (["doc_id"] if with_doc else []) + [F.explode(pairs).alias("bg")]
        out = base.where(F.size("toks") >= 2).select(*cols)
        keep = (["doc_id"] if with_doc else []) + [
            F.col("bg.a").alias("a"),
            F.col("bg.b").alias("b"),
        ]
        return out.select(*keep)

    bi = bigram_rows(lm_docs, with_doc=False).groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    ctx = bi.groupBy("a").agg(
        F.sum("c_ab").alias("ctx_a"), F.count(F.lit(1)).alias("n1p_a")
    )
    cont = bi.groupBy("b").agg(F.count(F.lit(1)).alias("n1p_b"))
    # N_bb and V ride the plan as one broadcast 1-row aggregate instead
    # of eager .count() jobs at construction time (those were two full
    # corpus scans per CALL, before any action ran — the lm_score V
    # lesson from round 6); (count + count) cast to double is the same
    # exact integer-valued double the Python float() produced
    scalars = (
        bi.agg(F.count(F.lit(1)).alias("__nbb"))
        # the inner 1-row x 1-row attach is broadcast-hinted too, so it
        # never plans as a CartesianProduct even with auto-broadcast off
        .crossJoin(
            F.broadcast(
                lm_docs.select(F.explode(t).alias("w"))
                .distinct()
                .agg(F.count(F.lit(1)).alias("__v"))
            )
        )
    )

    pc = (F.coalesce(F.col("n1p_b"), F.lit(0)) + 1) / (
        F.col("__nbb") + F.col("__v")
    ).cast("double")
    d = F.lit(discount)
    p_kn = F.when(
        F.coalesce(F.col("ctx_a"), F.lit(0)) > 0,
        (
            F.greatest(F.coalesce(F.col("c_ab"), F.lit(0)) - d, F.lit(0.0))
            + d * F.col("n1p_a") * pc
        )
        / F.col("ctx_a"),
    ).otherwise(pc)
    scored = (
        bigram_rows(docs, with_doc=True)
        .join(bi, ["a", "b"], "left")
        .join(ctx, ["a"], "left")
        .join(cont, ["b"], "left")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log(p_kn)).alias("__avg_logp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("__avg_logp", 6).alias("avg_logp"),
        F.round(F.exp(-F.col("__avg_logp")), 6).alias("perplexity"),
    )


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Within-document repetition removal: drop repeated paragraphs,
    keeping the FIRST occurrence in order (the RefinedWeb/C4-style
    in-document dedup pass that strips templated boilerplate blocks).

    Returns ``(doc_id, text, n_paragraphs, n_dropped)`` where ``text``
    has exact-duplicate paragraphs removed.  Pure per-row JVM array ops
    (``array_distinct`` preserves first-occurrence order) — no shuffle,
    trivially partition-parallel at any scale.
    """
    # `sep` is treated as a literal separator: regex-escape it for split.
    import re as _re

    paras = F.split(F.col(text_col), _re.escape(sep))
    kept = F.array_distinct(paras)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(kept, sep).alias("text"),
        F.size(paras).alias("n_paragraphs"),
        (F.size(paras) - F.size(kept)).alias("n_dropped"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic content fingerprint: md5 over the sorted distinct
    token set — robust to token order and duplication, ideal for
    clustering near-identical documents after normalization."""
    t = tokens_col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(t)), " ")).alias("fingerprint"),
    )


def _winnow_staged(
    docs: DataFrame, k: int, w: int, text_col: str, id_col: str
) -> DataFrame:
    """``(doc_id, n_kgrams, __sel)`` with ``__sel`` the distinct
    winnow-selected k-gram hashes (shared by :func:`winnow` and
    :func:`winnow_pairs`)."""
    P = 2_147_483_647  # Mersenne prime 2^31 - 1
    A = 131

    def idx(n: F.Column) -> F.Column:
        # sequence(1, 0) DESCENDS in Spark — guard the empty case.
        return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )

    toks = tokens_col(text_col)
    tokh_expr = F.transform(
        toks,
        lambda t: md5_long(t) % P,
    )
    # Each stage materializes its array behind an alias in its own
    # projection: inlining would re-evaluate the WHOLE upstream array
    # per element reference (O(n²) — measured 70 s vs <2 s on 500 docs).
    staged = docs.select(F.col(id_col).alias("doc_id"), tokh_expr.alias("__tokh"))
    tokh = F.col("__tokh")
    n_grams = F.greatest(F.size(tokh) - (k - 1), F.lit(0))

    def horner(i: F.Column) -> F.Column:
        acc = F.element_at(tokh, i)
        for j in range(1, k):
            acc = (acc * A + F.element_at(tokh, i + j)) % P
        return acc

    grams_expr = F.transform(idx(n_grams), horner)
    staged = staged.select("doc_id", grams_expr.alias("__grams"))
    grams = F.col("__grams")
    n_windows = F.greatest(F.size(grams) - (w - 1), F.lit(0))
    selected = F.array_distinct(
        F.transform(
            idx(n_windows),
            lambda j: F.array_min(F.slice(grams, j, w)),
        )
    ).alias("__sel")
    return staged.select("doc_id", F.size(grams).alias("n_kgrams"), selected)


def winnow(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing rolling-hash fingerprint (the MOSS scheme: Schleimer,
    Wilkerson & Aiken, SIGMOD '03): hash every token k-gram, slide a
    window of ``w`` consecutive hashes, keep each window's minimum — the
    selected set is position-robust (guaranteed to share hashes with any
    copy that overlaps by >= w+k-1 tokens).

    The k-gram hash is a true rolling construction: one md5 per TOKEN
    (not per k-gram), then Horner's rule ``acc = (acc*131 + h_j) mod
    (2³¹−1)`` over the k token hashes — integer arithmetic with every
    intermediate < 2³⁸, exactly reproducible in ANSI SQL, and ~k× fewer
    digest computations than hashing concatenated k-gram strings.

    Returns a per-doc summary row instead of the exploded selection so
    downstream grouping stays one row per doc: ``n_kgrams``,
    ``n_winnow`` (distinct selected hashes), ``winnow_min`` (smallest
    selected hash), and ``winnow_checksum`` (Σ selected % 1000003 —
    integer-exact in any engine, unlike a float sum).  Pure per-row JVM
    expressions — no shuffle, O(n·(k+w)) per doc.
    """
    staged = _winnow_staged(docs, k, w, text_col, id_col)
    sel = F.col("__sel")
    return staged.select(
        "doc_id",
        "n_kgrams",
        F.size(sel).alias("n_winnow"),
        F.coalesce(F.array_min(sel), F.lit(0)).alias("winnow_min"),
        F.coalesce(
            F.aggregate(
                sel,
                F.lit(0).cast("long"),
                lambda acc, x: acc + x % 1000003,
            ),
            F.lit(0),
        ).alias("winnow_checksum"),
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_hash_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style copy detection: ``(doc_a, doc_b, n_shared)`` for doc
    pairs sharing at least ``min_shared`` winnow-selected fingerprints —
    positionally robust overlap (any shared run of ≥ w+k−1 tokens
    guarantees a shared fingerprint, wherever it sits in either doc),
    which n-gram Jaccard's global set ratio dilutes away for a small
    copied block inside a large document.

    Plan shape (same family as the other pair operators): explode the
    per-doc selected set, drop hashes held by more than ``max_hash_df``
    docs (boilerplate guard — candidate cost is Σ_h df(h)², so ubiquity
    is the scale killer), self-equi-join on the hash with doc_a < doc_b,
    then count distinct shared hashes per pair.  One shuffle on the
    hash + one on the pair; never O(D²).
    """
    from pyspark.sql import Window

    # The checkpoint is a deliberate optimizer BARRIER: the Generate
    # (explode) path inlines the staged Horner chain — the plan carries
    # ~60 copies of the md5-transform expression and re-evaluates the
    # upstream arrays per element, measured >100× slower.  Truncating
    # lineage materializes the per-doc selection ONCE (one slim
    # (doc_id, sel) row per doc — sketch-sized, far below the corpus)
    # and both sides of the self-join read the same blocks.
    staged = _winnow_staged(docs, k, w, text_col, id_col).localCheckpoint(
        eager=False
    )
    hashes = staged.select("doc_id", F.explode("__sel").alias("wh"))
    if max_hash_df is not None:
        df_w = F.count(F.lit(1)).over(Window.partitionBy("wh"))
        hashes = hashes.withColumn("__df", df_w).where(
            (F.col("__df") <= max_hash_df) & (F.col("__df") >= 2)
        ).drop("__df")
    a, b = hashes.alias("a"), hashes.alias("b")
    return (
        a.join(
            b,
            (F.col("a.wh") == F.col("b.wh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# PII patterns (replacement tag, regex).  ASCII classes only so the Java
# (Spark) and RE2 (DuckDB) engines match identical spans; the phone rule
# requires a leading + and separator-ish body so plain integers and
# dotted version strings never match.
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IPV4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("PHONE", r"\+[0-9][0-9()\-. ]{6,}[0-9]"),
]


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass: replace
    emails, IPv4 addresses, and international-format phone numbers with
    ``<EMAIL>`` / ``<IPV4>`` / ``<PHONE>`` tags, reporting per-doc match
    counts (the audit signal for scrub-rate monitoring).

    Returns ``(doc_id, text, n_email, n_ipv4, n_phone)``.  Each class is
    counted on the text AFTER the previous classes' replacements (EMAIL
    on the original, IPV4 on the email-redacted text, PHONE after both),
    so every count equals the number of tags that replacement actually
    inserted — a greedy PHONE match can no longer double-count a span an
    earlier class already consumed.  Pure per-row JVM regex expressions
    — whole-stage codegen, no shuffle, no Python — and RE2-compatible
    so the DuckDB oracle replays them exactly.
    """
    cur = F.col(text_col)
    counts = []
    for tag, pat in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{tag.lower()}"))
        cur = F.regexp_replace(cur, pat, f"<{tag}>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        cur.alias("text"),
        *counts,
    )


def gopher_filters(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The published Gopher document-quality rules (Rae et al. 2021,
    §A.1.1) as explicit per-rule signals + verdicts — the standard
    pretraining page filter, kept rule-by-rule so curation audits can
    see WHICH rule rejected a page (the same reporting shape as
    ``curation.apply_filters``).

    Signals (words = whitespace runs, the paper's convention):
    ``n_words``, ``mean_word_len``, ``hash_ratio`` (# chars per word),
    ``ellipsis_symbol_ratio`` (non-overlapping ``...``/``…``
    occurrences per word — the paper applies the same 0.1
    symbol-to-word threshold to the hash symbol AND the ellipsis, as
    two separate checks), ``ellipsis_line_frac`` / ``bullet_line_frac``
    (of non-empty lines), ``alpha_word_frac`` (words containing a
    letter), ``n_required_hits`` (of :data:`GOPHER_REQUIRED_WORDS`).
    Verdict columns apply the paper's thresholds: 50 <= words <= 100k,
    3 <= mean len <= 10, hash ratio <= 0.1, ellipsis symbol ratio
    <= 0.1, <= 30% ellipsis lines, < 90% bullet lines, >= 80%
    alphabetic words, >= 2 required words.  ``gopher_pass`` is
    their AND.

    Pure per-row JVM expressions (splits, filters, one fold) — no
    shuffle, no Python; ratios round to 4 decimals for oracle-stable
    hashing.
    """
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: F.length(x) > 0
    )
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda x: F.length(F.trim(x)) > 0
    )
    text = F.col(text_col)
    # Non-overlapping occurrence counts (str.count semantics — replace
    # consumes left-to-right, so "...." counts one "...").
    ell_occ = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
        + (F.length(text) - F.length(F.replace(text, F.lit("…"))))
    )
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        words.alias("__w"),
        lines.alias("__l"),
        F.length(F.regexp_replace(F.col(text_col), "[^#]", "")).alias("__hash"),
        ell_occ.alias("__ell"),
    )
    w, l = F.col("__w"), F.col("__l")
    n_words = F.size(w)
    n_lines = F.size(l)
    mean_word_len = F.aggregate(
        w, F.lit(0.0), lambda acc, x: acc + F.length(x)
    ) / F.greatest(n_words, F.lit(1))
    hash_ratio = F.col("__hash") / F.greatest(n_words, F.lit(1))
    ellipsis_symbol_ratio = F.col("__ell") / F.greatest(n_words, F.lit(1))
    ellipsis_lines = F.size(
        F.filter(l, lambda x: F.rtrim(x).endswith("...") | F.rtrim(x).endswith("…"))
    )
    bullet_lines = F.size(
        F.filter(
            l,
            lambda x: F.ltrim(x).startswith("-")
            | F.ltrim(x).startswith("*")
            | F.ltrim(x).startswith("•"),
        )
    )
    alpha_words = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    req = F.array([F.lit(t) for t in GOPHER_REQUIRED_WORDS])
    lw = F.transform(w, lambda x: F.lower(x))
    req_hits = F.size(
        F.filter(req, lambda t: F.array_contains(lw, t))
    )
    ellipsis_frac = ellipsis_lines / F.greatest(n_lines, F.lit(1))
    bullet_frac = bullet_lines / F.greatest(n_lines, F.lit(1))
    alpha_frac = alpha_words / F.greatest(n_words, F.lit(1))
    checks = {
        "ok_n_words": (n_words >= 50) & (n_words <= 100_000),
        "ok_word_len": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "ok_hash": hash_ratio <= 0.1,
        "ok_ellipsis_symbol": ellipsis_symbol_ratio <= 0.1,
        "ok_ellipsis": ellipsis_frac <= 0.3,
        "ok_bullets": bullet_frac < 0.9,
        "ok_alpha": alpha_frac >= 0.8,
        "ok_required": req_hits >= 2,
    }
    passed = None
    for c in checks.values():
        passed = c if passed is None else (passed & c)
    return staged.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(hash_ratio, 4).alias("hash_ratio"),
        F.round(ellipsis_symbol_ratio, 4).alias("ellipsis_symbol_ratio"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        req_hits.alias("n_required_hits"),
        *[v.alias(k) for k, v in checks.items()],
        passed.alias("gopher_pass"),
    )


def c4_clean(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
    min_kept_lines: int = 1,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2): keep
    only lines that end in terminal punctuation (``. ! ? "``) and have
    at least ``min_line_words`` words and do not mention "javascript";
    drop whole pages that contain "lorem ipsum" or a curly brace, or
    whose kept-line count falls below ``min_kept_lines``.

    Returns every input doc with the audit columns ``n_lines``,
    ``n_kept_lines``, the cleaned ``text`` (kept lines re-joined), and
    ``c4_keep`` — filter on it to materialize the cleaned corpus (kept
    separate so rejected pages stay visible to curation audits, the
    same convention as ``curation.apply_filters``).

    Pure per-row JVM expressions (split + filter + array_join), no
    shuffle, no Python.
    """
    lines = F.split(F.col(text_col), r"\n")
    keep_line = lambda x: (  # noqa: E731
        F.rtrim(x).rlike('[.!?"]$')
        & (F.size(F.filter(F.split(x, r"\s+"), lambda t: F.length(t) > 0)) >= min_line_words)
        & ~F.lower(x).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    lowered = F.lower(F.col(text_col))
    page_ok = (
        ~lowered.contains("lorem ipsum")
        & ~lowered.contains("{")
        & (F.size(kept) >= min_kept_lines)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(lines, lambda x: F.length(F.trim(x)) > 0)).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("text"),
        page_ok.alias("c4_keep"),
    )


def gopher_repetition(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The Gopher REPETITION filters (Rae et al. 2021 §A.1.1, the half
    :func:`gopher_filters` doesn't cover): duplicate line / paragraph
    fractions (by occurrence and by character mass), the top-{2,3,4}-gram
    character fractions, and the duplicate-{5..10}-gram character
    fractions — the published thresholds reject pages where e.g. the top
    2-gram exceeds 20% of characters or duplicate 5-grams exceed 15%.

    Conventions (documented because the paper leaves them loose, and the
    DuckDB oracle mirrors them exactly): words are whitespace runs;
    n-grams are space-joined; character mass of an occurrence is the
    length of its line/paragraph/gram string; ALL occurrences of a
    duplicated value count as duplicate mass; denominators are total
    occurrence mass at the same granularity (Σ count·length), so every
    fraction is in [0, 1].  All fractions round to 4 decimals.

    One Arrow ``mapInPandas`` pass; the per-doc gram counting is
    vectorized numpy (word-id arrays + sliding-window ``np.unique``),
    chosen over JVM higher-order-function folds after measuring: Spark's
    lambda expressions are interpreted per element, and the 9 sorted
    folds per row benched ~13× slower than this implementation at sf0.1
    (12.5 s vs under 1 s) for identical, oracle-hash-checked output.  At
    100 TB both are embarrassingly parallel scans; this one just has the
    smaller constant.  A shuffle appears ONLY when the input is a bare
    scan with fewer partitions than cores (a handful of small files that
    would otherwise serialize through one Python worker) — a
    well-partitioned source passes through exchange-free.
    """
    import re as _re
    from collections.abc import Iterator
    import math

    import numpy as np
    import pandas as pd

    # ASCII \s to match both the JVM regex this replaced and the DuckDB
    # (RE2) oracle — Python's default \s is Unicode-aware and would
    # split on NBSP etc. where the oracle does not.
    ws_re = _re.compile(r"\s+", _re.ASCII)
    para_re = _re.compile(r"\n\s*\n", _re.ASCII)
    tops, dups = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    out_cols = (
        ["doc_id", "dup_line_frac", "dup_line_char_frac",
         "dup_para_frac", "dup_para_char_frac"]
        + [f"top_{n}gram_char_frac" for n in tops]
        + [f"dup_{n}gram_char_frac" for n in dups]
    )
    # Pass the id column through with its source type (string/int ids
    # both valid) instead of hardcoding bigint.
    id_ddl = docs.schema[id_col].dataType.simpleString()
    schema = f"doc_id {id_ddl}, " + ", ".join(f"{c} double" for c in out_cols[1:])

    def _round4(x: float) -> float:
        # Round half-away-from-zero on the binary double, exactly what
        # the DuckDB oracle's ROUND(x, 4) computes (inputs are >= 0).
        # Python's built-in round is banker's, and Spark's F.round goes
        # through the shortest-decimal string (HALF_UP on that), so
        # both can differ on representation-boundary ties; the oracle
        # is DuckDB, so this is the convention the whole column obeys.
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    def _dup_value_stats(values: list[str]) -> tuple[float, float]:
        if not values:
            return 0.0, 0.0
        arr = np.asarray(values, dtype=object)
        uq, cnt = np.unique(arr, return_counts=True)
        lens = np.fromiter((len(v) for v in uq), dtype=np.int64, count=len(uq))
        total, chars = cnt.sum(), (cnt * lens).sum()
        dup_n = cnt[cnt > 1].sum()
        dup_chars = (cnt * lens)[cnt > 1].sum()
        return dup_n / max(total, 1), dup_chars / max(chars, 1)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {c: [] for c in out_cols}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                words = [t for t in ws_re.split(text) if t]
                lines = [s for s in (x.strip(" ") for x in text.split("\n")) if s]
                paras = [s for s in (x.strip(" ") for x in para_re.split(text)) if s]
                rows["doc_id"].append(doc_id)
                for label, vals in (("line", lines), ("para", paras)):
                    f1, f2 = _dup_value_stats(vals)
                    rows[f"dup_{label}_frac"].append(_round4(f1))
                    rows[f"dup_{label}_char_frac"].append(_round4(f2))
                # word-id arrays: gram identity = id tuple (same ids ⇔
                # same words ⇔ same joined string), char length from a
                # prefix-sum (joined length = Σ word lens + (n-1))
                if words:
                    uw, ids = np.unique(np.asarray(words, dtype=object),
                                        return_inverse=True)
                    ids = ids.astype(np.int64)
                    wlen = np.fromiter((len(t) for t in words), dtype=np.int64,
                                       count=len(words))
                    cum = np.concatenate([[0], np.cumsum(wlen)])
                else:
                    ids = np.empty(0, np.int64)
                    cum = np.zeros(1, np.int64)
                for n in tops + dups:
                    key = (f"top_{n}gram_char_frac" if n in tops
                           else f"dup_{n}gram_char_frac")
                    L = ids.shape[0] - n + 1
                    if L <= 0:
                        rows[key].append(0.0)
                        continue
                    M = np.lib.stride_tricks.sliding_window_view(ids, n)
                    uq, idx, cnt = np.unique(
                        M, axis=0, return_index=True, return_counts=True
                    )
                    glen = cum[idx + n] - cum[idx] + (n - 1)
                    mass = cnt * glen
                    total = mass.sum()
                    num = mass.max() if n in tops else mass[cnt > 1].sum()
                    rows[key].append(_round4(float(num) / max(float(total), 1.0)))
            yield pd.DataFrame(rows)

    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # Fan out a skinny scan: a source with fewer partitions than cores
    # (one small parquet file) would serialize every doc through one
    # Python worker.  Repartition ONLY in that case — the data is by
    # definition small relative to the cluster, so the shuffle is cheap;
    # a well-partitioned 100 TB source passes through shuffle-free.
    # The partition probe (`.rdd`) is gated on the plan being
    # exchange-free: under AQE, `.rdd` on a plan WITH exchanges
    # materializes the upstream shuffle stages as real jobs at
    # construction time (and they re-run on the later action).  For a
    # bare scan+project there are no stages to run, so the probe is
    # free; anything with an upstream shuffle already fanned out to
    # spark.sql.shuffle.partitions and needs no help.
    par = docs.sparkSession.sparkContext.defaultParallelism
    plan = src._jdf.queryExecution().executedPlan().toString()
    if "Exchange" not in plan and src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    return src.mapInPandas(fn, schema=schema)


def split_sentences(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rule-based sentence segmentation: one output row per sentence —
    ``(doc_id, sent_idx, sentence)`` — the unit sentence-level dedup,
    sequence packing, and parallel-corpus alignment all consume.

    The rule is deliberately simple and ENGINE-PORTABLE: a sentence
    boundary is a ``[.!?]`` run followed by whitespace.  Implemented as
    replace-then-split (the terminator run stays with its sentence; an
    ASCII record separator U+001E is injected after it) because
    RE2-family engines — including the DuckDB oracle — have no
    lookbehind.  Abbreviation/initialism handling is a model problem,
    not a regex problem; pipelines needing it should classify
    downstream, where the decision is auditable (same policy as
    ``drop_boilerplate``).

    Pure per-row JVM expressions (regexp_replace + split + posexplode)
    — embarrassingly parallel, no shuffle, no Python."""
    rs = "\x1e"
    marked = F.regexp_replace(F.col(text_col), r"([.!?]+)\s+", "$1" + rs)
    parts = F.filter(
        F.transform(F.split(marked, rs), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(parts).alias("sent_idx", "sentence"),
    )


def _fix_double_encoded(s: str) -> str:
    """Repair the classic mojibake: UTF-8 bytes mis-decoded as
    cp1252/latin-1 and re-saved ("caf\u00c3\u00a9" for "caf\u00e9").
    The rule is the standard conservative one (what ftfy's core check
    does): re-encode via cp1252 (latin-1 for the 0x80-0x9f gap bytes),
    try a STRICT utf-8 decode, and accept only when it succeeds AND
    shortens the text (real double-encoding always does; plain text is
    a fixed point because its cp1252 bytes are not valid multi-byte
    utf-8).  Applied repeatedly, handles double- and triple-encoded
    text; anything else returns unchanged."""
    cur = s
    for _ in range(3):
        try:
            raw = cur.encode("cp1252", errors="strict")
        except UnicodeEncodeError:
            try:
                raw = cur.encode("latin-1", errors="strict")
            except UnicodeEncodeError:
                return cur
        try:
            dec = raw.decode("utf-8", errors="strict")
        except UnicodeDecodeError:
            return cur
        if len(dec) >= len(cur):
            return cur
        cur = dec
    return cur


def fix_double_encoding(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mojibake repair over a corpus: ``(doc_id, text)`` with
    double-/triple-encoded UTF-8 restored (see
    :func:`_fix_double_encoded` for the conservative acceptance rule —
    clean text is a provable fixed point, so running this on an already
    clean corpus is a no-op).  One Arrow ``mapInPandas`` pass; crawl
    text is full of this and no SQL engine expresses the byte-level
    check, so the gate is golden pytest pairs rather than a DuckDB
    oracle."""
    import pandas as pd
    from collections.abc import Iterator

    def fix(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["i"],
                    "text": pdf["t"].map(
                        lambda x: None if x is None else _fix_double_encoded(x)
                    ),
                }
            )

    # id type derives from the input schema (ADVICE r5: crawl-facing
    # cleanups commonly key on URL strings; a hardcoded long id failed
    # at Arrow conversion — same contract as warc.extract_html_blocks).
    out_schema = StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType),
            StructField("text", StringType()),
        ]
    )
    return docs.select(
        F.col(id_col).alias("i"), F.col(text_col).alias("t")
    ).mapInPandas(fix, schema=out_schema)


def normalize_unicode(
    docs: DataFrame,
    form: str = "NFC",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode normalization of a text column — the canonicalization
    stage every multilingual pipeline runs before hashing/dedup
    (the SAME visible string has many byte encodings: decomposed
    combining marks, compatibility ligatures, width variants; exact
    dedup and shingle hashing silently miss duplicates across them).
    ``form`` is NFC/NFD/NFKC/NFKD (stdlib ``unicodedata``).  One Arrow
    ``mapInPandas`` pass, embarrassingly parallel; the NFC path is
    oracle-checked against DuckDB's ``nfc_normalize``."""
    import unicodedata

    import pandas as pd
    from collections.abc import Iterator

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError("form must be NFC|NFD|NFKC|NFKD")

    def norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["i"],
                    "text": pdf["t"].map(
                        lambda x: None
                        if x is None
                        else unicodedata.normalize(form, x)
                    ),
                }
            )

    out_schema = StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType),
            StructField("text", StringType()),
        ]
    )
    return docs.select(
        F.col(id_col).alias("i"), F.col(text_col).alias("t")
    ).mapInPandas(norm, schema=out_schema)


def rake_keywords(
    docs: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): candidate phrases are the
    maximal stopword-free token runs; each word scores deg(w)/freq(w)
    over the document (deg = summed length of the phrases its
    occurrences sit in); a phrase scores the sum of its words' scores.
    Returns the ``top_k`` phrases per document:
    ``(doc_id, phrase, score, rank)`` — ties broken by phrase text.

    Shape for scale: phrase splitting is ONE per-row JVM fold (struct
    accumulator over the token array — no window, no per-token rows
    until the explode); word statistics and phrase scores are two
    ``(doc_id, …)``-keyed aggregations plus one equi-join, all map-side
    combined; the final top-k is a per-doc rank window over
    phrase-count rows.  No Python anywhere.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    sw = stopwords if stopwords is not None else STOPWORDS["en"]
    sw_arr = F.array(*[F.lit(w) for w in sw])
    empty_ph = F.expr("CAST(array() AS ARRAY<ARRAY<STRING>>)")
    empty_cur = F.expr("CAST(array() AS ARRAY<STRING>)")
    folded = F.aggregate(
        tokens_col(text_col),
        F.struct(empty_ph.alias("ph"), empty_cur.alias("cur")),
        lambda acc, x: F.when(
            F.array_contains(sw_arr, x),
            F.struct(
                F.when(
                    F.size(acc["cur"]) > 0, F.concat(acc["ph"], F.array(acc["cur"]))
                )
                .otherwise(acc["ph"])
                .alias("ph"),
                empty_cur.alias("cur"),
            ),
        ).otherwise(
            F.struct(
                acc["ph"].alias("ph"),
                F.concat(acc["cur"], F.array(x)).alias("cur"),
            )
        ),
        lambda acc: F.when(
            F.size(acc["cur"]) > 0, F.concat(acc["ph"], F.array(acc["cur"]))
        ).otherwise(acc["ph"]),
    )
    ph = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(folded).alias("words")
    ).select(
        "doc_id",
        F.array_join("words", " ").alias("phrase"),
        "words",
        F.size("words").alias("plen"),
    )
    wstats = (
        ph.select("doc_id", "plen", F.explode("words").alias("word"))
        .groupBy("doc_id", "word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
    )
    cand = ph.select("doc_id", "phrase", "words").dropDuplicates(
        ["doc_id", "phrase"]
    )
    scored = (
        cand.select("doc_id", "phrase", F.explode("words").alias("word"))
        .join(wstats, ["doc_id", "word"])
        .groupBy("doc_id", "phrase")
        .agg(
            F.round(
                F.sum(F.col("deg").cast("double") / F.col("freq")), 4
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("phrase"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


def lm_score_kn3(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc interpolated Kneser-Ney TRIGRAM LM score — one order up
    from :func:`lm_score_kn`, closing in on the 5-gram KenLM filter
    CCNet runs (Chen & Goodman 1998's recursive formulation, public):

        P(c|ab) = max(c(abc)−D, 0)/ctx(ab)
                  + D·N1+(ab·)/ctx(ab) · P₂(c|b)
        P₂(c|b) = max(N1+(·bc)−D, 0)/N1+(·b·)
                  + D·N1+(b··)/N1+(·b·) · Pc(c)       (continuation
                                                       counts, NOT raw
                                                       bigram counts)
        Pc(c)   = (N1+(·c) + 1)/(N_bb + V)             (same add-one
                                                       floor as order 2)

    with backoff to the next order down whenever a context is unseen.
    N1+(·bc) = distinct left-extensions of (b,c); N1+(·b·) = distinct
    (a,c) around b; N1+(b··) = distinct c continuing some (·,b,c) —
    all from the TRIGRAM TYPE table, per the continuation-count rule.
    The scalars N_bb and V ride the plan as one broadcast 1-row
    aggregate (nothing touches the driver; the function is lazy).

    Returns ``(doc_id, n_trigrams, avg_logp, perplexity)`` (docs with
    <3 tokens absent), rounded for cross-engine hash stability.

    Scale shape: four map-side-combined count tables (trigram counts,
    (a,b) contexts, (b,c) continuations, b middles) + the order-2
    continuation table, joined onto the doc-trigram stream on their
    natural keys — every table is vocab-power-bounded, nothing
    corpus-sized is broadcast, and only the scalars N_bb and V touch
    the driver (same contract as :func:`lm_score_kn`).
    """
    if not (0.0 < discount < 1.0):
        raise ValueError("discount must be in (0, 1)")
    lm_docs = docs if lm_docs is None else lm_docs
    t = tokens_col(text_col)

    def trigram_rows(src: DataFrame, with_doc: bool) -> DataFrame:
        base = src.select(F.col(id_col).alias("doc_id"), t.alias("toks"))
        idx = F.sequence(F.lit(1), F.size("toks") - 2)
        tris = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at("toks", i).alias("a"),
                F.element_at("toks", i + 1).alias("b"),
                F.element_at("toks", i + 2).alias("c"),
            ),
        )
        cols = (["doc_id"] if with_doc else []) + [F.explode(tris).alias("tg")]
        out = base.where(F.size("toks") >= 3).select(*cols)
        keep = (["doc_id"] if with_doc else []) + [
            F.col("tg.a").alias("a"),
            F.col("tg.b").alias("b"),
            F.col("tg.c").alias("c"),
        ]
        return out.select(*keep)

    tri = trigram_rows(lm_docs, with_doc=False).groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).alias("c_abc")
    )
    ctx2 = tri.groupBy("a", "b").agg(
        F.sum("c_abc").alias("ctx_ab"), F.count(F.lit(1)).alias("n1p_ab")
    )
    midc = tri.groupBy("b", "c").agg(F.count(F.lit(1)).alias("n1bc"))
    midb = midc.groupBy("b").agg(
        F.sum("n1bc").alias("tot_mid_b"), F.count(F.lit(1)).alias("n1p_mid_b")
    )
    # order-2 continuation stats + scalars, identical to lm_score_kn
    base2 = lm_docs.select(t.alias("toks")).where(F.size("toks") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("a"),
            F.element_at("toks", i + 1).alias("b"),
        ),
    )
    bi = (
        base2.select(F.explode(pairs).alias("bg"))
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    cont = bi.groupBy("b").agg(F.count(F.lit(1)).alias("n1p_b"))
    # N_bb and V in-plan as one broadcast 1-row aggregate — same as
    # lm_score_kn: the eager counts were two full corpus scans per call
    scalars = (
        bi.agg(F.count(F.lit(1)).alias("__nbb"))
        # the inner 1-row x 1-row attach is broadcast-hinted too, so it
        # never plans as a CartesianProduct even with auto-broadcast off
        .crossJoin(
            F.broadcast(
                lm_docs.select(F.explode(t).alias("w"))
                .distinct()
                .agg(F.count(F.lit(1)).alias("__v"))
            )
        )
    )

    d = F.lit(discount)
    pc = (F.coalesce(F.col("n1p_b"), F.lit(0)) + 1) / (
        F.col("__nbb") + F.col("__v")
    ).cast("double")
    p2 = F.when(
        F.coalesce(F.col("tot_mid_b"), F.lit(0)) > 0,
        (
            F.greatest(F.coalesce(F.col("n1bc"), F.lit(0)) - d, F.lit(0.0))
            + d * F.col("n1p_mid_b") * pc
        )
        / F.col("tot_mid_b"),
    ).otherwise(pc)
    p3 = F.when(
        F.coalesce(F.col("ctx_ab"), F.lit(0)) > 0,
        (
            F.greatest(F.coalesce(F.col("c_abc"), F.lit(0)) - d, F.lit(0.0))
            + d * F.col("n1p_ab") * p2
        )
        / F.col("ctx_ab"),
    ).otherwise(p2)
    scored = (
        trigram_rows(docs, with_doc=True)
        .join(tri, ["a", "b", "c"], "left")
        .join(ctx2, ["a", "b"], "left")
        .join(midc, ["b", "c"], "left")
        .join(midb, ["b"], "left")
        # the order-2 continuation table keys on the PREDICTED word
        .join(cont.withColumnRenamed("b", "c"), ["c"], "left")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.avg(F.log(p3)).alias("__avg_logp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_trigrams",
        F.round("__avg_logp", 6).alias("avg_logp"),
        F.round(F.exp(-F.col("__avg_logp")), 6).alias("perplexity"),
    )


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character-level Shannon entropy + alphabet size —
    the classic gibberish/compression quality signal (low entropy =
    repeated filler, high = random noise; natural text sits in a band).

    Returns ``(doc_id, char_entropy, alphabet_size)``; empty texts are
    absent (entropy of nothing is undefined).

    Scale shape: pure per-row JVM array expressions — distinct chars
    via split + array_distinct, per-char counts via length-difference
    after literal replace — O(len·|alphabet|) per row, NO shuffle, no
    Python.
    """
    n = F.length(text_col).cast("double")
    chars = F.array_distinct(F.split(F.col(text_col), ""))
    ent = F.aggregate(
        chars,
        F.lit(0.0),
        lambda acc, c: acc
        - ((n - F.length(F.replace(F.col(text_col), c))) / n)
        * F.log2((n - F.length(F.replace(F.col(text_col), c))) / n),
    )
    return docs.where(n > 0).select(
        F.col(id_col).alias("doc_id"),
        F.round(ent, 6).alias("char_entropy"),
        F.size(chars).alias("alphabet_size"),
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """Corpus-growth NOVELTY curve: per document, the fraction of its
    distinct word n-grams that are FIRST seen in that document when the
    corpus is read in ``order_col`` order (default: the id) — the
    diminishing-returns diagnostic curation teams use to decide when
    pulling more of a source stops adding new content (novelty decays
    toward the duplication floor as a crawl saturates).

    Returns ``(doc_id, n_ngrams, n_new, novelty)``; documents with
    fewer than ``n`` tokens are absent (they have no n-grams).

    Scale shape: distinct (doc, n-gram) pairs — built by one JVM
    transform, never Python — shuffle ONCE on the n-gram for a
    first-owner window min, then ONCE on the doc for the two counts.
    Both shuffles are linear in corpus n-gram volume (the same budget
    span-level dedup pays); nothing is collected and no n-gram table is
    broadcast.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens_col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        lambda i: F.array_join(F.slice("__toks", i, n), " "),
    )
    pairs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            (F.col(order_col) if order_col else F.col(id_col)).alias("__ord"),
            toks.alias("__toks"),
        )
        .where(F.size("__toks") >= n)
        .select("doc_id", "__ord", F.explode(grams).alias("__gram"))
        .distinct()
    )
    first = F.min(F.struct("__ord", "doc_id")).over(
        Window.partitionBy("__gram")
    )
    return (
        pairs.withColumn("__first", first)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                (F.col("__first.doc_id") == F.col("doc_id")).cast("long")
            ).alias("n_new"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_new",
            F.round(F.col("n_new") / F.col("n_ngrams"), 6).alias("novelty"),
        )
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    max_rank: int = 10_000,
) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency spectrum: rank tokens
    by frequency (ties broken by token for engine-stable ranks) and
    least-squares fit ``log f = a + s·log r`` over the top
    ``max_rank`` ranks.  Natural text lands near the Zipf slope
    ``s ≈ -1``; templated/boilerplate corpora flatten (head too even),
    gibberish steepens — a one-number corpus-health diagnostic next to
    :func:`char_entropy` (per-doc) and :func:`ngram_novelty` (growth).

    Returns one row: ``(n_tokens, n_types, slope, intercept, r2)``
    (slope/intercept/r2 of the log-log fit, rounded to 6).

    Scale shape: one token-count aggregation (map-side combined), one
    rank window over the VOCABULARY-sized count table (capped at
    ``max_rank`` rows into the closed-form least-squares aggregate) —
    the corpus itself is scanned once and never re-shuffled.
    """
    if max_rank < 2:
        raise ValueError("max_rank must be >= 2")
    counts = (
        docs.select(F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.orderBy(F.desc("f"), F.asc("tok"))
    ranked = (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= max_rank)
        .select(
            "f",
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("f").cast("double")).alias("y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, sxy, syy = (
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("x") * F.col("y")),
        F.sum(F.col("y") * F.col("y")),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = F.pow(n * sxy - sx * sy, 2) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    totals = counts.agg(
        F.sum("f").alias("__nt"), F.count(F.lit(1)).alias("__ty")
    )
    return ranked.agg(
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    ).crossJoin(F.broadcast(totals)).select(
        F.col("__nt").alias("n_tokens"),
        F.col("__ty").alias("n_types"),
        "slope",
        "intercept",
        "r2",
    )


def vocab_coverage(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    word_col: str = "word",
) -> DataFrame:
    """Per-group tokenizer-vocabulary coverage: what fraction of a
    source's token OCCURRENCES fall outside ``vocab`` — the audit you
    run before committing to a tokenizer (a vocab trained on web
    English can look fine on aggregate while silently shredding the
    code or zh slice into bytes; per-source OOV rate is where that
    shows).

    Returns one row per group: ``(group, n_tokens, n_oov, oov_rate,
    coverage)`` with the rates rounded to 6.

    Scale shape: tokens explode once, join the (distinct) vocab on the
    token — vocab tables are small next to a corpus, so AQE broadcasts
    the build side — then ONE group aggregation (map-side combined).
    Occurrence-weighted by design: weighting by type instead would let
    one exotic hapax count as much as a million OOV occurrences."""
    toks = docs.select(
        F.col(group_col).alias("group"),
        F.explode(tokens_col(text_col)).alias("__w"),
    )
    vz = vocab.select(F.col(word_col).alias("__w")).distinct().withColumn(
        "__in", F.lit(1)
    )
    joined = toks.join(vz, "__w", "left")
    agg = joined.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    rate = F.col("n_oov") / F.col("n_tokens")
    return agg.select(
        "group",
        "n_tokens",
        "n_oov",
        F.round(rate, 6).alias("oov_rate"),
        F.round(F.lit(1.0) - rate, 6).alias("coverage"),
    )


def vocab_richness(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Vocabulary-richness and crawl-saturation estimators from the
    token frequency spectrum: Chao1 richness ``V + f1²/(2·f2)``
    (Chao 1984 — a lower bound on how many token types EXIST,
    observed or not), Good-Turing coverage ``1 − f1/N`` (Good 1953 —
    the probability the next token is one you've already seen), and
    type-token ratio.  Together: "is more crawling still buying new
    vocabulary, or are we saturated?" — the spectrum sibling of the
    n-gram novelty curve.

    Returns one row (per group if ``group_col``): ``(group?, n_tokens,
    n_types, f1, f2, ttr, chao1, gt_coverage)`` rounded to 6.  The
    bias-corrected Chao1 form ``f1(f1−1)/(2(f2+1))`` is used when
    ``f2 = 0`` (the standard fix — the raw form divides by zero).

    Scale shape: one token-count aggregation (map-side combined to the
    vocab size), then ONE spectrum aggregation over the vocab rows —
    f1/f2 are counts of hapax/dis legomena, not a second corpus
    pass."""
    keys = [F.col(group_col).alias("group")] if group_col else []
    counts = (
        docs.select(*keys, F.explode(tokens_col(text_col)).alias("__w"))
        .groupBy(*(["group"] if group_col else []), "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = counts.groupBy(*(["group"] if group_col else [])).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("__c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("__c") == 2).cast("long")).alias("f2"),
    )
    f1, f2 = F.col("f1").cast("double"), F.col("f2").cast("double")
    chao1 = F.col("n_types") + F.when(
        f2 > 0, f1 * f1 / (F.lit(2.0) * f2)
    ).otherwise(f1 * (f1 - 1) / (F.lit(2.0) * (f2 + 1)))
    return agg.select(
        *(["group"] if group_col else []),
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(chao1, 6).alias("chao1"),
        F.round(F.lit(1.0) - f1 / F.col("n_tokens"), 6).alias("gt_coverage"),
    )


def textrank_sentences(
    docs: DataFrame,
    n_iter: int = 3,
    top_k: int = 2,
    damping: float = 0.85,
    max_sentences: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TextRank extractive summarization (Mihalcea & Tarau, EMNLP'04):
    rank each document's sentences by weighted in-document PageRank
    over the sentence-similarity graph and keep the top ``top_k`` — a
    key-sentence selector for snippet generation and training-data
    distillation, built entirely from primitives this engine already
    hash-gates (:func:`split_sentences`, :func:`tokens_col`, the
    pagerank iteration shape).

    Similarity is the paper's ``|overlap| / (ln|S_i| + ln|S_j|)`` over
    DISTINCT-token sentence sets (zero/undefined denominators drop the
    edge); scores iterate ``WS = (1−d) + d·Σ_j w_ji/outw_j · WS_j``
    from 1.0 for EXACTLY ``n_iter`` rounds — the fixed-budget
    replayability contract of :func:`~plda_spark.operators.graph.
    kcore` (the DuckDB oracle unrolls identical rounds); isolated
    sentences settle at ``1−d``.  Ties rank by sentence position.
    Returns ``(doc_id, sent_idx, n_tok, score, rank, digest)`` with
    score rounded to 6 and ``digest = md5(sentence)``.

    Scale shape: the overlap join is keyed ``(doc, token)`` — per-doc
    quadratic in sentences sharing a word, THE skew point, capped by
    dropping docs over ``max_sentences`` (default 500; pass more
    only knowing per-doc cost is sentences²-bounded).  The edge +
    out-strength frames are eagerly checkpointed once (the
    :func:`~plda_spark.operators.graph.pagerank` persistence
    discipline) so the ``n_iter`` joins never recompute the overlap;
    each iteration is one edge-keyed join + one (doc, node)
    aggregation, the Pregel shape."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    sents = split_sentences(docs, text_col=text_col, id_col=id_col)
    st = sents.select(
        "doc_id",
        "sent_idx",
        F.array_distinct(tokens_col("sentence")).alias("__toks"),
        F.md5(F.col("sentence")).alias("digest"),
    ).withColumn("n_tok", F.size("__toks")).where(F.col("n_tok") > 0)
    sizes = st.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__ns"))
    # materialize the capped sentence frame ONCE: the node spine rides
    # it through every iteration's left join plus the final digest
    # join — without this each round re-scans and re-splits the corpus
    st = st.join(
        F.broadcast(
            sizes.where(F.col("__ns") <= max_sentences).select("doc_id")
        ),
        "doc_id",
    ).localCheckpoint(eager=True)
    nodes = st.select("doc_id", "sent_idx", "n_tok", "digest")
    tok = st.select(
        "doc_id", "sent_idx", "n_tok", F.explode("__toks").alias("w")
    )
    a = tok.select(
        "doc_id", F.col("sent_idx").alias("i"), F.col("n_tok").alias("ni"), "w"
    )
    b = tok.select(
        "doc_id", F.col("sent_idx").alias("j"), F.col("n_tok").alias("nj"), "w"
    )
    ov = (
        a.join(b, ["doc_id", "w"])
        .where(F.col("i") < F.col("j"))
        .groupBy("doc_id", "i", "j")
        .agg(
            F.count(F.lit(1)).alias("__ov"),
            F.first("ni").alias("__ni"),
            F.first("nj").alias("__nj"),
        )
    )
    den = F.log(F.col("__ni").cast("double")) + F.log(
        F.col("__nj").cast("double")
    )
    und = ov.where(den > 0).select(
        "doc_id", "i", "j", (F.col("__ov") / den).alias("wt")
    )
    held = _Lineage()
    edges = held.cut(
        und.select("doc_id", F.col("i").alias("src"), F.col("j").alias("dst"), "wt")
        .unionByName(
            und.select(
                "doc_id", F.col("j").alias("src"), F.col("i").alias("dst"), "wt"
            )
        ),
        eager=True,
    )
    outw = edges.groupBy("doc_id", "src").agg(F.sum("wt").alias("__out"))
    # ew supersedes edges: once it has materialized, nothing reads edges
    ew = held.cut(edges.join(outw, ["doc_id", "src"]), eager=True)
    held.release_superseded()
    base = 1.0 - damping
    spine = nodes.select("doc_id", F.col("sent_idx").alias("node"))
    scores = spine.withColumn("score", F.lit(1.0))
    for _ in range(n_iter):
        contrib = (
            ew.alias("e")
            .join(
                scores.alias("s"),
                (F.col("e.doc_id") == F.col("s.doc_id"))
                & (F.col("e.src") == F.col("s.node")),
            )
            .select(
                F.col("e.doc_id").alias("doc_id"),
                F.col("e.dst").alias("node"),
                (
                    F.col("e.wt") / F.col("e.__out") * F.col("s.score")
                ).alias("__c"),
            )
            .groupBy("doc_id", "node")
            .agg(F.sum("__c").alias("__s"))
        )
        scores = spine.join(contrib, ["doc_id", "node"], "left").select(
            "doc_id",
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0))
            ).alias("score"),
        )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("node").asc()
    )
    ranked = (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", F.col("node").alias("sent_idx"), "score", "rank")
    )
    return ranked.join(nodes, ["doc_id", "sent_idx"]).select(
        "doc_id",
        "sent_idx",
        "n_tok",
        F.round("score", 6).alias("score"),
        "rank",
        "digest",
    )


def term_burstiness(
    docs: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Term burstiness for the corpus's ``top_k`` most frequent terms
    (Church & Gale 1995, "Poisson mixtures"): content words BURST —
    once a document uses one, it tends to use it again — while
    function words scatter Poisson-like.  Two published diagnostics
    per term:

    - ``vmr`` — variance-to-mean ratio of the per-document term count
      INCLUDING zero-occurrence documents (1 = Poisson, > 1 = bursty)
      via the moment identities ``mean = total/N``, ``E[tf²] =
      Σtf²/N`` (zero docs add nothing to either sum, so they are
      never materialized);
    - ``adaptation`` — Church's ``P(2+ | 1+)``: of the documents that
      use the term at all, the fraction that use it again.

    The topical-vs-functional screen behind stopword-list induction
    and keyword weighting.  Returns ``(term, total_tf, doc_freq,
    mean_tf, vmr, adaptation)`` rounded to 6, top_k terms by
    ``(total_tf desc, term asc)``.

    Scale shape: one explode + one (term) aggregation carrying all
    four sums (map-side combined), one bounded top-k TakeOrdered, the
    1-row corpus size broadcast-crossed in.  Nothing survives past
    |terms| rows."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    tf = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.explode(tokens_col(text_col)).alias("__w"),
        )
        .groupBy("__id", "__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    per_term = tf.groupBy("__w").agg(
        F.sum("__tf").alias("__tot"),
        F.count(F.lit(1)).alias("__df"),
        F.sum(F.col("__tf") * F.col("__tf")).alias("__tf2"),
        F.sum((F.col("__tf") >= 2).cast("long")).alias("__rep"),
    )
    nd = docs.agg(F.countDistinct(id_col).alias("__n"))
    j = per_term.crossJoin(F.broadcast(nd))
    n = F.col("__n").cast("double")
    mean = F.col("__tot") / n
    var = F.col("__tf2") / n - mean * mean
    vmr = F.when(mean > 0, var / mean)
    adapt = F.col("__rep") / F.col("__df").cast("double")
    return (
        j.select(
            F.col("__w").alias("term"),
            F.col("__tot").cast("long").alias("total_tf"),
            F.col("__df").cast("long").alias("doc_freq"),
            F.round(mean, 6).alias("mean_tf"),
            F.round(vmr, 6).alias("vmr"),
            F.round(adapt, 6).alias("adaptation"),
        )
        .orderBy(F.col("total_tf").desc(), F.col("term").asc())
        .limit(top_k)
    )


def yule_k(
    docs: DataFrame,
    group_col: str | None = "source",
    text_col: str = "text",
) -> DataFrame:
    """Yule's characteristic K (Yule 1944, "The Statistical Study of
    Literary Vocabulary") per group: ``K = 10⁴·(Σ_t tf_t² − N)/N²``
    over the group's pooled term frequencies — the classic
    length-robust repetitiveness constant (higher = more repetitive
    vocabulary) used for authorship/register profiling and, in a
    crawl pipeline, for spotting sources whose "documents" are
    template spam.  Complements :func:`vocab_richness` (which counts
    types) by weighting HOW unevenly tokens repeat.

    ``group_col=None`` scores the whole corpus as one row.  Returns
    ``(group, n_tokens, n_types, yule_k)`` rounded to 6 — NULL K for
    a group with a single token.

    Scale shape: one explode + one (group, term) count aggregation
    (map-side combined) + one per-group rollup — |groups| rows
    survive; the Σtf² identity means the frequency SPECTRUM is never
    materialized."""
    g = (
        F.col(group_col).alias("__g")
        if group_col is not None
        else F.lit("corpus").alias("__g")
    )
    tf = (
        docs.select(g, F.explode(tokens_col(text_col)).alias("__w"))
        .groupBy("__g", "__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    agg = tf.groupBy("__g").agg(
        F.sum("__tf").alias("__n"),
        F.count(F.lit(1)).alias("__types"),
        F.sum(F.col("__tf") * F.col("__tf")).alias("__s2"),
    )
    n = F.col("__n").cast("double")
    k = F.when(
        F.col("__n") > 1,
        F.lit(1e4) * (F.col("__s2") - n) / (n * n),
    )
    return agg.select(
        F.col("__g").alias("group"),
        F.col("__n").cast("long").alias("n_tokens"),
        F.col("__types").cast("long").alias("n_types"),
        F.round(k, 6).alias("yule_k"),
    )


def source_token_jsd(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    max_groups: int = 50,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the token
    distributions of each pair of sources (Lin 1991, IEEE Trans. IT)
    — the mixture-design diagnostic a pretraining-corpus review runs
    before setting source weights: JSD is symmetric, bounded, and
    defined even when one source's vocabulary misses the other's
    entirely (where KL blows up).  ``jsd = ½·KL(P‖M) + ½·KL(Q‖M)``
    with ``M = (P+Q)/2``, in log base 2 so the value lives in [0, 1]
    (0 = identical unigram mix, 1 = disjoint vocabularies);
    ``√jsd`` is a proper metric (Endres & Schindelin 2003).

    Returns one row per unordered pair ``(source_a, source_b,
    tokens_a, tokens_b, jsd, jsd_distance)`` rounded to 6, pairs
    ordered ``source_a < source_b``.

    Scale shape: one explode + one (source, token) count aggregation
    (map-side combined) collapses the corpus to the per-source
    vocabulary table; a self-enforcing ``max_groups`` pre-check (the
    ks_test pattern) bounds the pair stage; pairs come from ONE
    token-keyed self-equi-join of that vocabulary table (never the
    corpus), full-outer per pair handled by the 0-side contributing
    ``p·log2(2)`` = p via the one-sided terms.  Everything after the
    join is a |pairs|-row aggregation."""
    g = F.col(group_col).cast("string")
    tf = (
        docs.where(g.isNotNull())
        .select(g.alias("__g"), F.explode(tokens_col(text_col)).alias("__w"))
        .groupBy("__g", "__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    k = tf.agg(F.countDistinct("__g").alias("__k")).first()["__k"]
    if k > max_groups:
        raise ValueError(
            f"source_token_jsd: {k} groups > max_groups={max_groups}; "
            "the pair stage is C(k,2) token-keyed joins — bucket the "
            "grouping column upstream or raise max_groups if the "
            "source count is genuinely bounded."
        )
    if k < 2:
        raise ValueError(f"source_token_jsd: need >= 2 groups, got {k}")
    # the pair sides, the shared-term aggregation, and the spine all
    # branch off these two frames; persist them (vocabulary-scale and
    # |sources|-row) so the corpus explode runs ONCE, not per branch
    tf = tf.persist()
    totals = tf.groupBy("__g").agg(F.sum("__tf").alias("__n")).persist()
    probs = tf.join(totals, "__g").select(
        "__g",
        "__w",
        (F.col("__tf").cast("double") / F.col("__n").cast("double")).alias(
            "__p"
        ),
        F.col("__n").alias("__nt"),
    )
    a = probs.select(
        F.col("__g").alias("source_a"), F.col("__w").alias("__w"),
        F.col("__p").alias("__pa"), F.col("__nt").alias("__na"),
    )
    b = probs.select(
        F.col("__g").alias("source_b"), F.col("__w").alias("__wb"),
        F.col("__p").alias("__pb"), F.col("__nt").alias("__nb"),
    )
    # token-keyed equi-join gives the SHARED-vocabulary terms; the
    # disjoint remainder of each side contributes sum(p)*log2(2) = the
    # residual mass (1 - shared_mass), added in closed form below
    ln2 = F.lit(0.6931471805599453)
    joined = (
        a.join(b, (F.col("__w") == F.col("__wb")))
        .where(F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", "__pa", "__pb")
    )
    m = (F.col("__pa") + F.col("__pb")) / 2
    shared = joined.groupBy("source_a", "source_b").agg(
        F.sum(
            F.col("__pa") / 2 * F.log(F.col("__pa") / m) / ln2
            + F.col("__pb") / 2 * F.log(F.col("__pb") / m) / ln2
        ).alias("__shared_term"),
        F.sum("__pa").alias("__massa"),
        F.sum("__pb").alias("__massb"),
    )
    # pairs with completely disjoint vocabularies never meet in the
    # equi-join: build the full pair spine from the tiny totals table
    ta = totals.select(
        F.col("__g").alias("source_a"), F.col("__n").alias("__sna")
    )
    tb = totals.select(
        F.col("__g").alias("source_b"), F.col("__n").alias("__snb")
    )
    spine = ta.join(tb, F.col("source_a") < F.col("source_b"))
    full = spine.join(shared, ["source_a", "source_b"], "left")
    jsd = (
        F.coalesce(F.col("__shared_term"), F.lit(0.0))
        + (F.lit(1.0) - F.coalesce(F.col("__massa"), F.lit(0.0))) / 2
        + (F.lit(1.0) - F.coalesce(F.col("__massb"), F.lit(0.0))) / 2
    )
    clamped = F.least(F.greatest(jsd, F.lit(0.0)), F.lit(1.0))
    return full.select(
        "source_a",
        "source_b",
        F.col("__sna").cast("long").alias("tokens_a"),
        F.col("__snb").cast("long").alias("tokens_b"),
        F.round(clamped, 6).alias("jsd"),
        F.round(F.sqrt(clamped), 6).alias("jsd_distance"),
    )


def heaps_fit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 20,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth (Heaps 1978; Herdan 1960):
    ``V(n) = K·n^β`` — how fast NEW word types appear as the corpus
    grows.  Natural text lands at β ≈ 0.4-0.6; β drifting down means
    the corpus is saturating (more-of-the-same scraping), β near 1
    means unbounded novelty (OCR noise, ids, gibberish) — the growth
    twin of the static :func:`zipf_fit` spectrum.

    The growth curve is measured at ``buckets`` deterministic corpus
    prefixes WITHOUT ordering the corpus: docs land in md5 buckets
    (:func:`~plda_spark.operators.sampling.hash_bucket` — a random
    but engine-replayable shuffle order, the standard convention
    since Heaps curves are order-sensitive), each token's FIRST
    bucket is ``min(bucket over docs containing it)``, so prefix k's
    type count is just |tokens with first_bucket ≤ k| and its token
    count the sum of bucket token totals ≤ k — cumulative distinct
    WITHOUT per-prefix rescans.  Log-log least squares over the
    ``buckets`` (n_k, V_k) points gives (K, β).  Returns ONE row
    ``(n_tokens, n_types, k_coef, beta, r2)`` rounded to 6.

    Scale shape: ONE (token → min-bucket, count) aggregation collapses
    the corpus; both cumulative curves are windows over ≤ ``buckets``
    rollup rows, then one closed-form OLS aggregate — the corpus is
    scanned once, the curve never materializes more than
    |vocabulary| + |buckets| rows."""
    if buckets < 3:
        raise ValueError(f"buckets must be >= 3, got {buckets}")
    from plda_spark.operators.sampling import hash_bucket

    toks = docs.select(
        hash_bucket(F.col(id_col), buckets).alias("b"),
        F.explode(tokens_col(text_col)).alias("tok"),
    )
    per_tok = toks.groupBy("tok").agg(F.min("b").alias("fb"))
    new_types = per_tok.groupBy("fb").agg(
        F.count(F.lit(1)).alias("nt")
    )
    # token MASS per bucket never needs the exploded tokens — size()
    # on the array gives the identical count as a map-side-combined
    # 20-row rollup with no shuffle, so the only heavy exchange in
    # this plan is the one vocabulary-keyed min-bucket aggregation
    tok_mass = docs.select(
        hash_bucket(F.col(id_col), buckets).alias("b"),
        F.size(tokens_col(text_col)).alias("__sz"),
    ).groupBy("b").agg(F.sum("__sz").alias("nm"))
    curve = (
        tok_mass.join(new_types, tok_mass["b"] == new_types["fb"], "left")
        .select(
            "b",
            "nm",
            F.coalesce(F.col("nt"), F.lit(0)).alias("nt"),
        )
    )
    # Zero-mass buckets (all docs empty / token-free) are dropped on
    # BOTH sides of the oracle gate: a log(0) point would be NULL yet
    # still count toward the OLS n, skewing beta/r2 and breaking the
    # cross-engine hash.  Drop them BEFORE the cumulative windows so
    # the OLS point count equals the summed points.
    curve = curve.where(F.col("nm").isNotNull() & (F.col("nm") > 0))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pts = curve.select(
        F.log(F.sum("nm").over(wcum).cast("double")).alias("x"),
        F.log(F.sum("nt").over(wcum).cast("double")).alias("y"),
        F.sum("nm").over(wcum).alias("cum_n"),
        F.sum("nt").over(wcum).alias("cum_v"),
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, sxy, syy = (
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("x") * F.col("y")),
        F.sum(F.col("y") * F.col("y")),
    )
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - beta * sx) / n
    r2 = F.pow(n * sxy - sx * sy, 2) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return pts.agg(
        F.max("cum_n").cast("long").alias("n_tokens"),
        F.max("cum_v").cast("long").alias("n_types"),
        F.round(F.exp(intercept), 6).alias("k_coef"),
        # + 0.0 folds IEEE negative zero (a saturating corpus rounds a
        # tiny negative slope to -0.0 in one engine, +0.0 in the other)
        (F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )


_SCRIPT_RANGES = [
    ("latin", "[A-Za-zÀ-ɏ]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("cjk", "[぀-ヿ一-鿿가-힯]"),
    ("arabic", "[؀-ۿ]"),
    ("devanagari", "[ऀ-ॿ]"),
]


def script_mix(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    min_letters: int = 20,
    purity_threshold: float = 0.9,
) -> DataFrame:
    """Per-group Unicode-script composition — the multilingual
    curation signal :func:`lang_id`'s n-gram vote cannot give:
    per-document letter counts in six major script blocks (Latin,
    Cyrillic, Greek, CJK incl. kana/hangul, Arabic, Devanagari — by
    literal codepoint-range character classes, identical semantics in
    Java regex and RE2), rolled up per ``group_col`` into script
    SHARES, the dominant script (largest share; ties break by the
    fixed block order above, engine-replayable), and the share of
    MIXED-SCRIPT documents (≥ ``min_letters`` script letters whose
    top script holds < ``purity_threshold`` of them — the
    mojibake/spam/wrong-language-contamination flag).

    Returns one row per group: ``(group, n_docs, latin_share,
    cyrillic_share, greek_share, cjk_share, arabic_share,
    devanagari_share, dominant_script, mixed_doc_share)`` rounded to
    6 (shares NULL for a group with zero script letters).

    Scale shape: the per-doc counts are six JVM ``regexp_count``
    expressions inside the scan projection (no explode, no shuffle of
    text); ONE group-keyed aggregation of seven longs per doc ends
    the plan."""
    if min_letters < 1:
        raise ValueError(f"min_letters must be >= 1, got {min_letters}")
    if not (0.0 < purity_threshold <= 1.0):
        raise ValueError(
            f"purity_threshold must be in (0, 1], got {purity_threshold}"
        )
    t = F.col(text_col)
    counts = [
        F.when(
            t.isNotNull(), F.regexp_count(t, F.lit(rng))
        ).otherwise(F.lit(0)).cast("long").alias(f"__{name}")
        for name, rng in _SCRIPT_RANGES
    ]
    per_doc = docs.select(F.col(group_col).alias("group"), *counts)
    letters = sum(
        (F.col(f"__{name}") for name, _ in _SCRIPT_RANGES), F.lit(0)
    )
    top = F.greatest(*[F.col(f"__{name}") for name, _ in _SCRIPT_RANGES])
    mixed = (
        (letters >= min_letters)
        & (top.cast("double") < F.lit(float(purity_threshold)) * letters)
    ).cast("long")
    agg = per_doc.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(f"__{name}").alias(f"__t_{name}")
            for name, _ in _SCRIPT_RANGES
        ],
        F.sum(mixed).alias("__mixed"),
    )
    tot = sum(
        (F.col(f"__t_{name}") for name, _ in _SCRIPT_RANGES), F.lit(0)
    ).cast("double")
    shares = [
        F.round(
            F.when(tot > 0, F.col(f"__t_{name}") / tot), 6
        ).alias(f"{name}_share")
        for name, _ in _SCRIPT_RANGES
    ]
    best = F.greatest(*[F.col(f"__t_{name}") for name, _ in _SCRIPT_RANGES])
    dominant = F.when(tot <= 0, F.lit(None))
    for name, _ in _SCRIPT_RANGES:
        dominant = dominant.when(
            F.col(f"__t_{name}") == best, F.lit(name)
        )
    return agg.select(
        "group",
        "n_docs",
        *shares,
        dominant.alias("dominant_script"),
        F.round(
            F.col("__mixed") / F.col("n_docs").cast("double"), 6
        ).alias("mixed_doc_share"),
    )
