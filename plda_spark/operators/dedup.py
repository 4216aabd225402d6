"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Design for 100 TB:

- **Exact** — one hash-groupBy on ``md5(text)``; map-side partial agg
  bounds the shuffle at one row per distinct digest per partition.
- **Jaccard pairs** — shingle-explode → self-join *on shingle* (never a
  cross join): candidate generation cost is Σ_s df(s)², so callers
  should cap shingle document-frequency at scale (``max_shingle_df``).
- **MinHash+LSH** — per-doc signatures via ``groupBy(doc).agg(min(h_i))``
  (map-side combine), banding, join on band-bucket only.  Hash family is
  md5-derived (``conv(substr(md5(shingle || seed),1,15),16,10)``) so the
  DuckDB oracle can reproduce it bit-for-bit.
- **SimHash** — 60-bit signature from md5 bits of tokens; hamming-ball
  candidate search via ``max_hamming + 1``-way band exact-match (any
  pair within distance d must agree on at least one of d + 1 bands).
- **Embedding near-dup** — cosine over an LSH bucket (see similarity.py)
  or brute pairs at small scale.

Every operator keeps ``doc_id`` ordering deterministic (min doc_id is
the retained representative).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._exprs import md5_long
from ..lineage import _Lineage
from .graph import _collect_edges
from .text import tokens_col

__all__ = [
    "exact_duplicates",
    "exact_dedup",
    "shingles",
    "jaccard_pairs",
    "containment_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_pairs",
    "hamming_band_pairs",
    "connected_components",
    "semantic_dedup",
    "contamination",
    "decontaminate",
    "keep_best",
    "dedup_spans",
    "dedup_longest_spans",
    "band_rows",
    "cross_dedup",
    "dedup_sentences",
]


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Digest groups with >1 member: ``(digest, n_dups, keep_doc_id)``."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-doc_id representative of every exact-text group.

    One shuffle of the doc table on the digest (window MIN per digest
    partition; round-11 — the earlier groupBy + semi-join-back paid the
    aggregation exchange and a second sort of the doc rows at scale for
    the same min-id survivors; digest groups are duplicate-count sized,
    so no window partition can be large)."""
    from pyspark.sql import Window

    w_digest = docs.withColumn("__digest", F.md5(F.col(text_col)))
    keep = F.min(id_col).over(Window.partitionBy("__digest"))
    return (
        w_digest.withColumn("__keep", keep)
        .where(F.col(id_col) == F.col("__keep"))
        .drop("__digest", "__keep")
    )


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc: ``(doc_id, shingle)``.

    Built with JVM higher-order functions: slide an index window over the
    token array and ``concat_ws`` each n-token slice.
    """
    t = tokens_col(text_col)
    docs = docs.select(F.col(id_col).alias("doc_id"), t.alias("toks"))
    idx = F.sequence(F.lit(0), F.size("toks") - n)
    sh = F.transform(idx, lambda i: F.array_join(F.slice("toks", i + 1, n), " "))
    return (
        docs.where(F.size("toks") >= n)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard ≥ threshold.

    ``(doc_a, doc_b, jaccard)`` with doc_a < doc_b.  Exact result via
    PPJoin-style prefix filtering (Bayardo et al., WWW'07; Xiao et al.,
    WWW'08): order each doc's shingles globally by ascending document
    frequency, keep only the first ``|S| − ⌈t·|S|⌉ + 1`` (the *prefix*)
    as join keys — any pair with Jaccard ≥ t must collide on at least
    one prefix shingle, so the self-equi-join runs over the RAREST
    shingles only and the quadratic Σ df(s)² cost concentrates where df
    is smallest.  Candidates are then verified exactly with
    ``array_intersect`` over the full shingle sets.

    ``max_shingle_df`` additionally drops ubiquitous shingles outright —
    the guard against boilerplate n-grams at corpus scale — and is the
    DEFAULT plan; pass ``None`` to disable.  The df ranking rides a
    window over ``shingle`` (one shuffle, no second scan, no broadcast
    of any vocabulary-sized relation).
    """
    from pyspark.sql import Window

    sh = shingles(docs, n, text_col, id_col)
    df_w = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    sh = sh.withColumn("__df", df_w)
    if max_shingle_df is not None:
        sh = sh.where(F.col("__df") <= max_shingle_df)
    # ONE doc_id shuffle builds everything per-doc: the df-sorted shingle
    # array (rarest first, shingle string as the deterministic
    # tie-break), the true denominator n_sh (counted BEFORE the df = 1
    # filter below), and the prefix.  A shingle held by a single
    # document cannot contribute an intersection (the a.doc_id <
    # b.doc_id join discards self-matches), so df = 1 rows — typically
    # the vast majority of shingles — are dropped from the arrays
    # without changing any result row.
    #
    # Prefix length p = n_sh − ⌈t·n_sh⌉ + 1.  The −1e-9 nudge inside
    # ceil errs toward a LONGER prefix when t·n_sh lands on a float
    # boundary — spurious candidates are verified away below; a short
    # prefix would silently drop true pairs.  (p is computed from the
    # pre-filter n_sh but applied to the filtered ordering, which only
    # widens coverage.)
    from pyspark import StorageLevel

    by_rarity = F.sort_array(
        # collect_list skips NULLs, so the df = 1 rows (typically the
        # vast majority) never enter the per-doc arrays or their sort —
        # n_sh still counts them via the separate count(*).
        F.collect_list(
            F.when(
                F.col("__df") >= 2,
                F.struct(F.col("__df").alias("df"), F.col("shingle").alias("s")),
            )
        )
    )
    sets = (
        sh.groupBy("doc_id")
        .agg(by_rarity.alias("ss"), F.count(F.lit(1)).alias("n_sh"))
        .select(
            "doc_id",
            F.transform("ss", lambda x: x["s"]).alias("sset"),
            "n_sh",
        )
        .select(
            "doc_id",
            "sset",
            "n_sh",
            F.slice(
                "sset",
                F.lit(1),
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.size("sset"),
                        (
                            F.col("n_sh")
                            - F.ceil(F.lit(threshold) * F.col("n_sh") - 1e-9)
                            + 1
                        ).cast("int"),
                    ),
                ),
            ).alias("pref"),
        )
    )
    # `sets` feeds three consumers (prefix join + both verify lookups)
    # whose exchanges AQE replaces with broadcasts of the tiny candidate
    # side, defeating exchange reuse — so the aggregation would run
    # three times.  Persist it for the duration of this call (disk-
    # spillable; same volume as one shuffle of the shingle table), run
    # the query eagerly, then release the blocks.  The returned frame is
    # the localCheckpoint of the RESULT — near-dup pairs, tiny relative
    # to the corpus — so nothing corpus-sized stays pinned.
    sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    prefix = sets.select("doc_id", F.explode("pref").alias("shingle"))
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Exact verification: the per-doc sets (df≥2 members only, true
    # denominator n_sh riding along) joined onto the deduplicated
    # candidate pairs.  Both verify joins consume the IDENTICAL `sets`
    # subplan (columns renamed only after the join) so its aggregation
    # exchange is planned once and reused at runtime rather than
    # recomputed per side.
    lookup = sets.select("doc_id", F.col("sset").alias("vs"), F.col("n_sh").alias("vn"))
    va = cand.join(lookup, cand["doc_a"] == lookup["doc_id"]).select(
        "doc_a", "doc_b", F.col("vs").alias("set_a"), F.col("vn").alias("n_a")
    )
    vab = va.join(lookup, va["doc_b"] == lookup["doc_id"]).select(
        "doc_a",
        "doc_b",
        "set_a",
        "n_a",
        F.col("vs").alias("set_b"),
        F.col("vn").alias("n_b"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    out = (
        vab.select(
            "doc_a",
            "doc_b",
            F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .localCheckpoint(eager=True)
    )
    sets.unpersist()
    return out


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-superset pairs by exact n-gram CONTAINMENT ≥ threshold:
    ``C(A, B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|`` — the
    asymmetric overlap that catches a document mostly INSIDE another
    (quotes, excerpts, page-plus-boilerplate wrappers), which Jaccard
    misses whenever the container is much larger than the contained.

    ``(doc_a, doc_b, containment)`` where doc_a is the contained side;
    BOTH orientations of a pair are tested (containment is asymmetric).

    Exact via the asymmetric prefix filter (Xiao et al., WWW'08): with
    shingles rarity-ordered, C(A, B) ≥ t forces a shared shingle inside
    A's first ``|A| − ⌈t·|A|⌉ + 1`` (pigeonhole on A's side only), so
    the candidate join runs A-prefix × B-all — still an equi-join on
    shingle, never a cross product; df = 1 shingles can't intersect and
    are dropped from join keys and arrays (never from the |A|
    denominator).  ``max_shingle_df`` (the boilerplate guard) bounds
    Σ df(s)² exactly as in :func:`jaccard_pairs`; containment is then
    measured over the capped shingle space, mirrored by the oracle.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    sh = shingles(docs, n, text_col, id_col)
    sh = sh.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
    if max_shingle_df is not None:
        sh = sh.where(F.col("__df") <= max_shingle_df)
    by_rarity = F.sort_array(
        F.collect_list(
            F.when(
                F.col("__df") >= 2,
                F.struct(F.col("__df").alias("df"), F.col("shingle").alias("s")),
            )
        )
    )
    sets = (
        sh.groupBy("doc_id")
        .agg(by_rarity.alias("ss"), F.count(F.lit(1)).alias("n_sh"))
        .select(
            "doc_id",
            F.transform("ss", lambda x: x["s"]).alias("sset"),
            "n_sh",
            F.slice(
                F.transform("ss", lambda x: x["s"]),
                1,
                F.greatest(
                    F.lit(0),
                    (
                        F.col("n_sh")
                        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
                        + F.lit(1)
                    ).cast("int"),
                ),
            ).alias("pref"),
        )
    )
    # Three consumers again (prefix join + two verify lookups) —
    # persist for the call, compute eagerly, release (jaccard_pairs
    # has the full rationale).
    sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    a = sets.select("doc_id", F.explode("pref").alias("shingle")).alias("a")
    # The container side exposes ALL its (df >= 2) shingles as join
    # keys — containment bounds nothing about B, so B gets no prefix.
    b = sets.select("doc_id", F.explode("sset").alias("shingle")).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    lookup = sets.select("doc_id", F.col("sset").alias("vs"), F.col("n_sh").alias("vn"))
    va = cand.join(lookup, cand["doc_a"] == lookup["doc_id"]).select(
        "doc_a", "doc_b", F.col("vs").alias("set_a"), F.col("vn").alias("n_a")
    )
    vab = va.join(lookup, va["doc_b"] == lookup["doc_id"]).select(
        "doc_a", "doc_b", "set_a", "n_a", F.col("vs").alias("set_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    out = (
        vab.select(
            "doc_a",
            "doc_b",
            F.round(inter / F.col("n_a"), 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .localCheckpoint(eager=True)
    )
    sets.unpersist()
    return out


# Universal-hash family for MinHash: hash_i(s) = (a_i * (md5long(s) % P) + b_i) % P.
# One md5 per shingle (not one per hash function), then integer transforms
# whose products stay under 2^62 — exactly reproducible in ANSI SQL.
MINHASH_P = 2_147_483_647  # Mersenne prime 2^31 - 1


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i != 0, derived from a fixed seed."""
    rng = np.random.Generator(np.random.PCG64(np.random.SeedSequence(20240813)))
    return [
        (int(rng.integers(1, MINHASH_P)), int(rng.integers(0, MINHASH_P)))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """``(doc_id, shingle)`` → ``(doc_id, sig: array<bigint>)``.

    The shingle is md5-hashed once; component i applies the universal
    hash ``(a_i * h + b_i) mod P`` and the signature is the per-doc min —
    a single groupBy with map-side combine, all JVM-side.
    """
    params = minhash_params(num_hashes)
    h = md5_long(F.col("shingle")) % F.lit(MINHASH_P)
    mins = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """``(doc_id, sig)`` → slim LSH band buckets ``(doc_id, band,
    bucket)``: the signature split into ``bands`` rows of
    ``num_hashes/bands`` components, each md5-digested.  THE canonical
    bucket formula — both the batch pair search and the incremental
    crawl ledger derive buckets here, so they can never drift apart."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    r = num_hashes // bands
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[bi * r + j].cast("string")
                                    for j in range(r)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH candidate pairs ``(doc_a, doc_b, est_jaccard)``.

    Banding: signature split into ``bands`` rows of ``num_hashes/bands``;
    docs sharing any identical band become candidates (join on the band
    digest — the classic O(candidates) LSH plan, no quadratic step).
    ``est_jaccard`` = fraction of matching signature components; filter
    with ``threshold`` if given.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    # One row per doc — tiny relative to the shingle explosion feeding
    # it.  The band rows and both re-rank sides are identical subplans
    # over `sig`, so the shingle+min aggregation runs once and AQE
    # reuses its exchange (no persist: measured faster than block-store
    # pinning at sf0.1, and no executor memory held across the query).
    sig = minhash_signatures(shingles(docs, n, text_col, id_col), num_hashes)
    # Band rows are SLIM — (doc_id, band, bucket) only.  Carrying the
    # full signature array through the band self-join ships
    # bands × |sig| bytes per doc through the hottest shuffle; instead
    # the est_jaccard re-rank joins the one-row-per-doc `sig` table back
    # onto the (deduplicated, much smaller) candidate set.  Measured
    # ~10% faster at sf0.1; the gap widens with signature width.
    bb = band_rows(sig, num_hashes, bands)
    a = bb.alias("a")
    b = bb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.size(F.filter(F.arrays_zip("sig_a", "sig_b"), lambda p: p["sig_a"] == p["sig_b"]))
        / F.lit(num_hashes),
        6,
    ).alias("est_jaccard")
    out = cand.join(sig_a, "doc_a").join(sig_b, "doc_b").select("doc_a", "doc_b", est)
    if threshold is not None:
        out = out.where(F.col("est_jaccard") >= threshold)
    return out


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc from md5-derived token hashes.

    For each bit b: sign = Σ_tokens (bit_b(h(token)) ? +w : −w) with
    w = token count; signature bit b = sign > 0.  Because the sum is
    linear in w, per-occurrence ±1 contributions give the identical
    signature without a (doc, token) count aggregation — so the plan is
    ONE shuffle: md5 → bigint token hashing runs JVM-side (codegen,
    identical construction to the SQL oracle), the (doc_id, h) pairs
    repartition on doc_id, and the 60-bit signed accumulation + packing
    runs as one vectorized numpy bit-matrix pass per Arrow batch.
    (The earlier groupBy(doc, tok) → repartition(doc) variant shuffled
    nearly the same volume twice.)
    """
    import pandas as pd
    from collections.abc import Iterator

    bits = min(bits, 60)
    tok_hashes = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_col(text_col)).alias("tok"),
        )
        .select("doc_id", md5_long(F.col("tok")).alias("h"))
        .repartition("doc_id")
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # A doc's rows are co-located in this partition but may be split
        # across Arrow batches — accumulate per-doc bit sums across ALL
        # batches, emit once at the end.
        bit_idx = np.arange(bits, dtype=np.int64)
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["h"].to_numpy(dtype=np.int64)
            signed = (((h[:, None] >> bit_idx) & 1) * 2 - 1).astype(np.int64)
            g = pd.DataFrame(signed, index=pdf["doc_id"].to_numpy()).groupby(level=0).sum()
            acc = g if acc is None else acc.add(g, fill_value=0)
        if acc is not None:
            packed = ((acc.to_numpy() > 0).astype(np.int64) << bit_idx).sum(axis=1)
            yield pd.DataFrame(
                {"doc_id": acc.index.to_numpy().astype(np.int64), "simhash": packed}
            )

    return tok_hashes.mapInPandas(pack, schema="doc_id long, simhash long")


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidates via ``max_hamming + 1``-way band blocking over the 60
    signature bits (pigeonhole: ≤ ``max_hamming`` differing bits cannot
    touch every one of ``max_hamming + 1`` bands, so some band matches
    exactly — hardcoding 4 bands would silently LOSE pairs for any
    ``max_hamming > 3``), then exact popcount filter via
    ``bit_count(a XOR b)``.  More bands = more candidates: keep
    ``max_hamming`` small at scale (the default 3 uses 15-bit bands).
    """
    if not 1 <= max_hamming <= 59:
        raise ValueError("max_hamming must be in [1, 59] (60-bit signatures)")
    # One row per doc; the band self-join reuses the signature stage's
    # exchange at runtime (see minhash_lsh_pairs — persist measured slower).
    sig = simhash(docs, text_col, id_col)
    return hamming_band_pairs(
        sig, bits=60, max_hamming=max_hamming, id_col="doc_id", sig_col="simhash"
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def hamming_band_pairs(
    sig: DataFrame,
    bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """All pairs within hamming distance ``max_hamming`` over ``bits``-bit
    integer signatures — the band-pigeonhole candidate search shared by
    SimHash text near-dup and dHash image near-dup.

    Splits the signature into ``max_hamming + 1`` bit bands: a pair with
    ≤ ``max_hamming`` differing bits cannot differ in every band, so some
    band matches exactly — an equi-join on ``(band, bucket)`` finds EVERY
    qualifying pair (no recall loss), then ``bit_count(a XOR b)`` verifies
    exactly.  Scale: candidate volume is Σ over buckets of |bucket|², so
    keep ``max_hamming`` small (wider bands → sparser buckets); the join
    is a plain shuffled equi-join — no cross product anywhere.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    if not 1 <= max_hamming <= bits - 1:
        raise ValueError(f"max_hamming must be in [1, {bits - 1}]")
    bands = max_hamming + 1
    base, rem = divmod(bits, bands)
    widths = [base + 1 if bi < rem else base for bi in range(bands)]
    offsets = [sum(widths[:bi]) for bi in range(bands)]
    # Normalize names in their own projection — referencing the aliases
    # from the same select list would be a lateral-column-alias read.
    sig = sig.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("simhash")
    )
    band_rows = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright("simhash", offsets[bi])
                        .bitwiseAND(F.lit((1 << widths[bi]) - 1))
                        .alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Near-dup pairs → clusters: ``(doc_id, component)`` where
    ``component`` is the smallest doc_id reachable through the pair
    graph — the canonical-representative assignment every dedup
    pipeline needs after candidate-pair generation (keep ``doc_id ==
    component``, drop the rest).

    Distributed min-label propagation with pointer jumping: each round
    (1) every node takes the min label over itself and its neighbours,
    (2) labels compress one hop (``l(v) ← l(l(v))``), so convergence is
    O(log diameter) rounds, not O(diameter).  State per round is one
    (node, label) row per vertex — never the transitive closure.

    Plan shape: a pair graph whose expanded edge list fits
    ``graph._DRIVER_MAX_EDGES`` rows (``graph._collect_edges``' one
    capped Arrow collect, the job ``dedup.connected_components:collect``)
    is solved driver-side with a min-root union-find — identical integer
    labelling, none of the per-round scheduling overhead.  Larger
    graphs take the distributed rounds: the edge operand is
    hash-partitioned on ``src`` ONCE (and persisted pre-sorted), so
    the per-round neighbour-min join never re-shuffles the edge table
    — only the slim label vector moves; the propagated frame is lazily
    localCheckpointed before the pointer-jump self-join so its two
    branches share one computation instead of re-deriving the
    neighbour-min join per branch; and convergence is detected by
    carrying the previous label through the round (a filter-count on
    the checkpointed result) instead of a separate join of the old and
    new label vectors.
    """
    a = F.col(a_col)
    b = F.col(b_col)
    base = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionAll(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
    )
    cuts = _Lineage()
    base, t = _collect_edges(base, "dedup.connected_components", cuts)
    if t is not None:
        # Near-dup pair graphs are candidate-sized — usually orders of
        # magnitude smaller than the corpus that produced them — while
        # every distributed round below pays 4 exchanges + 2 jobs of
        # almost pure scheduling for such inputs (measured: 3.8 s for
        # a 1,270-pair graph at sf0.1, ~0.9 s per round).  Components
        # of a BOUNDED edge list are exact integer work: a driver-side
        # union-find whose merged root is always the SMALLER root id
        # yields precisely the min-reachable-id labelling the rounds
        # converge to — no floating point anywhere, so the two paths
        # are value-identical by construction (parity-pinned in
        # tests).  Past the cap the distributed rounds below are the
        # path — this cutover never changes how a 100 TB pair graph
        # runs.
        cuts.release()
        spark = pairs.sparkSession
        id_type = pairs.schema[
            pairs.schema.names.index(a_col)
        ].dataType.simpleString()
        parent: dict = {}
        for u, v in zip(t.column("src").to_pylist(), t.column("dst").to_pylist()):
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            if u == v:
                continue
            if v < u:
                u, v = v, u
            parent[v] = u  # smaller root wins: root == min reachable id
        out = []
        for n in parent:
            root = n
            while parent[root] != root:
                root = parent[root]
            out.append((n, root))
        return spark.createDataFrame(
            out, f"doc_id {id_type}, component {id_type}"
        )
    edges = (
        base.repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )
    edges.count()  # materialize from base's cut, then drop the base
    cuts.release()
    # every label generation is a cut; each materialized generation
    # releases the ones before it, so the result reads the last alone
    held = _Lineage()
    labels = held.cut(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        eager=True,
    )
    for _ in range(max_iterations):
        # (1) min over neighbours' labels
        nbr = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        prop = held.cut(
            labels.join(nbr, "node", "left").select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # (2) pointer jumping: l(v) <- l(l(v))
        parents = prop.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        jumped = (
            prop.join(parents, prop["label"] == parents["p_node"], "left")
            .select("node", "old", F.coalesce("p_label", "label").alias("label"))
        )
        new_labels = held.cut(jumped, eager=True)
        held.release_superseded()
        changed = new_labels.where(F.col("label") != F.col("old")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-overlap report: ``(doc_id, n_contaminated_ngrams)`` for
    every training doc sharing at least one word n-gram with the
    benchmark corpus (test-set decontamination, the standard n-gram
    membership check run before LLM training).

    Scale shape: the benchmark's distinct shingle set is eval-suite
    sized — bounded by the benchmark, not the corpus — so it is safe to
    broadcast and the 100 TB side streams through a broadcast-hash
    semi-join with NO shuffle of the corpus.  Pass
    ``broadcast_benchmark=False`` for unusually large benchmark sets and
    the plan degrades to a shuffle equi-join on shingle.

    ``n_contaminated_ngrams`` counts the doc's distinct overlapping
    n-grams (shingles are per-doc distinct).
    """
    doc_sh = shingles(docs, n, text_col, id_col)
    bench_sh = shingles(benchmark, n, text_col, id_col).select("shingle").distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    return (
        doc_sh.join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Drop training docs that overlap the benchmark in ``min_hits`` or
    more n-grams; returns the clean subset of ``docs`` unchanged in
    schema.  Anti-join on the :func:`contamination` hit list — the hit
    list is at most |contaminated docs| rows, far below the corpus."""
    hits = contamination(
        docs, benchmark, n, text_col, id_col, broadcast_benchmark
    ).where(F.col("n_contaminated_ngrams") >= min_hits)
    return docs.join(
        hits.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


def cross_dedup(
    new_docs: DataFrame,
    reference: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus near-dup dedup: drop every ``new_docs`` row whose
    MinHash-LSH band bucket collides with ANY ``reference`` doc — the
    batch form of "dedupe this crawl increment against the existing
    corpus" (the streaming ledger in
    ``streaming.incremental_minhash_dedup`` is the continuous twin and
    shares the same bucket formula via :func:`band_rows`).

    Bucket collision ⇒ assumed near-dup, no verification pass: false
    positives at the LSH collision rate are the accepted trade at crawl
    scale; for an audited drop-list run ``minhash_lsh_pairs`` over the
    union instead.  Returns the surviving ``new_docs`` rows unchanged in
    schema.

    Scale shape: both corpora are shingled+signed once (map-side
    combined groupBys); the collision test is ONE left-anti equi-join on
    the slim ``(band, bucket)`` rows — never a doc-pair join, never a
    broadcast of either corpus.  Docs too short to shingle have no
    buckets and survive (nothing to collide on).
    """
    sig_new = minhash_signatures(shingles(new_docs, n, text_col, id_col), num_hashes)
    sig_ref = minhash_signatures(shingles(reference, n, text_col, id_col), num_hashes)
    hit_ids = (
        band_rows(sig_new, num_hashes, bands)
        .join(
            band_rows(sig_ref, num_hashes, bands).select("band", "bucket"),
            ["band", "bucket"],
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    return new_docs.join(
        hit_ids.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def semantic_dedup(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_cells: int = 64,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level near-duplicate removal, end-to-end: blocked
    cosine near-dup pairs → distributed connected components → keep the
    min-id representative of every duplicate cluster (transitive: A≈B,
    B≈C drops both B and C even when A·C is below threshold — the
    semantics SemDeDup-style pipelines use).

    Returns the surviving rows of ``embeddings``.

    Scale shape: composes three already-scale-safe stages — IVF-cell
    blocking (never the O(n²) cross join), min-label propagation with
    pointer jumping (O(log diameter) rounds over (node, label) rows),
    and a left-anti join on the loser set, which is bounded by the
    number of near-dup members, not the corpus.
    """
    from plda_spark.operators import similarity

    pairs = similarity.embedding_near_dup_pairs_blocked(
        embeddings, dim=dim, threshold=threshold, n_cells=n_cells,
        n_probe=n_probe, id_col=id_col, vec_col=vec_col,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    comp = connected_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return embeddings.join(losers, id_col, "left_anti")


def keep_best(
    docs: DataFrame,
    order_cols: list,
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup that keeps the BEST copy of each duplicate group —
    the cross-source resolution step ("prefer the wiki copy over the
    crawl copy") run after exact hashing.  ``order_cols`` are ascending
    sort keys (columns or expressions); the kept row is the struct-
    lexicographic minimum over ``(order_cols..., all columns)``, so ties
    resolve deterministically on the full row.  NULL order values sort
    LAST (a null-keyed copy never beats a real key — matching the SQL
    ``row_number ... NULLS LAST`` default): each key is packed as
    ``(is_null, value)`` so the boolean decides before the engine's
    native null ordering can.

    Scale shape: groupBy on the md5 digest with a ``min`` over a packed
    struct — map-side combined (each partition reduces to one candidate
    per digest before the shuffle), so hot duplicate groups cost one row
    per partition, not a per-group sort of every copy the way a
    row_number window would.
    """
    cols = list(docs.columns)
    keyed = []
    for i, c in enumerate(order_cols):
        key = F.col(c) if isinstance(c, str) else c
        keyed.append(key.isNull().alias(f"__n{i}"))  # false < true: non-null wins
        keyed.append(key.alias(f"__k{i}"))
    ordered = F.struct(
        *keyed,
        F.struct(*[F.col(c) for c in cols]).alias("__row"),
    )
    return (
        docs.select(F.md5(F.col(text_col)).alias("__digest"), ordered.alias("__o"))
        .groupBy("__digest")
        .agg(F.min("__o").alias("__b"))
        .select("__b.__row.*")
    )


def dedup_spans(
    docs: DataFrame,
    span_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    return_text: bool = False,
) -> DataFrame:
    """Exact span-level (sub-document) deduplication: split every
    document into consecutive ``span_tokens``-token spans, keep only the
    FIRST occurrence of each distinct span corpus-wide (minimum
    ``(doc_id, span_idx)``), and rebuild each document from its
    surviving spans.

    This is the fixed-granularity form of exact substring dedup from
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022, public paper): boilerplate, licence blocks, and
    templated passages repeat *inside* otherwise-distinct documents, so
    whole-document dedup (``exact_dedup``) misses them.  The reference
    repo has no counterpart (it is an LDA trainer).

    Returns ``(doc_id, n_spans, n_kept, dedup_digest)`` where
    ``dedup_digest`` is the md5 of the space-joined surviving text
    (digest, not text, so the result stays narrow at any scale; callers
    wanting the text itself can re-derive it with ``return_text=True``).

    Scale shape: span construction is a per-row JVM array projection
    (no explode until the spans are one row each); first-occurrence
    selection is ONE shuffle on the span digest (high-cardinality,
    skew-free key) — a window MIN over the digest partition (round-11:
    the earlier groupBy + join-back paid the aggregation exchange AND a
    sort-merge self-join of the span table at scale for the same
    min-(doc_id, span_idx) rows; digest groups are duplicate-count
    sized, so no window partition can be large); the rebuild is one
    more shuffle back on ``doc_id``.
    """
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    k = int(span_tokens)
    toks = tokens_col(text_col)
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks")).where(
        F.size("__toks") >= 1
    )
    n_spans = F.ceil(F.size("__toks") / F.lit(k)).cast("int")
    spans = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(F.slice("__toks", i * k + 1, k), " "),
            )
        ).alias("span_idx", "span"),
    ).select("doc_id", "span_idx", "span", F.md5("span").alias("__digest"))
    from pyspark.sql import Window

    first = F.min(F.struct("doc_id", "span_idx")).over(
        Window.partitionBy("__digest")
    )
    # ONE pass over the windowed spans: flag each span as kept/lost and
    # aggregate counts + the kept-text digest per doc together (no
    # second span scan, no left join, no null-patch columns — a doc
    # whose every span is owned elsewhere yields an empty kept list,
    # which array_join/md5 turn into md5('') naturally).
    is_kept = (F.col("doc_id") == F.col("__first.doc_id")) & (
        F.col("span_idx") == F.col("__first.span_idx")
    )
    joined_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__kept"), F.struct("span_idx", "span"))
                )
            ),
            lambda s: s["span"],
        ),
        " ",
    )
    out_cols = [
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__kept").cast("long")).alias("n_kept"),
        F.md5(joined_text).alias("dedup_digest"),
    ]
    if return_text:
        out_cols.append(joined_text.alias("dedup_text"))
    return (
        spans.withColumn("__first", first)
        .select("doc_id", "span_idx", "span", is_kept.alias("__kept"))
        .groupBy("doc_id")
        .agg(*out_cols)
    )


def dedup_longest_spans(
    docs: DataFrame,
    span_tokens: int = 20,
    max_doublings: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Longest-match exact substring dedup via a DOUBLING DIGEST
    LADDER: :func:`dedup_spans` decides duplication chunk by chunk
    (fixed ``span_tokens`` granularity — Lee et al. 2022's unit), so a
    near-verbatim 2k-token quote shows up as k/``span_tokens``
    independent chunk decisions.  This pass additionally detects the
    LARGEST aligned duplicated block: level ``j`` covers aligned spans
    of ``span_tokens·2^j`` tokens whose digest is the md5 of its two
    children's level-``j−1`` digests (equal texts ⟹ equal ladder
    digests; the standard md5-collision-free assumption of every
    dedup digest here) — so no level ever re-shuffles document text,
    only (doc_id, idx, digest) rows that HALVE per level.

    A span is a LOSER when an earlier occurrence (minimum
    ``(doc_id, idx)``) of its digest exists corpus-wide; a loser is
    MAXIMAL when its parent span is not itself a loser.  Every chunk
    of a higher-level loser is provably a level-0 loser too (the
    earlier block's aligned chunks occur earlier), so the KEPT chunk
    set is identical to :func:`dedup_spans` — what the ladder adds is
    the DECISION granularity: a duplicated 2k-token block reports as
    ONE maximal region, not k-token shingles.  Aligned-model caveat
    (documented, not hidden): duplicated blocks at non-aligned
    offsets are caught at chunk granularity only, and adjacent
    maximal losers at the same level are reported separately — the
    full any-offset longest match is the suffix-array construction
    Lee et al. use, deliberately out of scope.

    Returns ``(doc_id, n_spans, n_kept, n_removed_regions,
    max_region_tokens, dedup_digest)`` — level-0 chunk counts as in
    :func:`dedup_spans`; ``dedup_digest`` here is the md5 of the KEPT
    CHUNK DIGESTS joined by space (digest-of-digests, so the rebuild
    never carries text); regions are the maximal losers.

    Scale shape: one corpus scan into (doc_id, idx, digest) chunk
    rows; each ladder level is one groupBy on a frame that halves;
    loser detection is one hash aggregation per level on the digest
    (high-cardinality, skew-free); the maximal filter is a narrow
    anti-join per level.  Nothing after the first projection carries
    text."""
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    if max_doublings < 1 or max_doublings > 10:
        raise ValueError(
            f"max_doublings must be in [1, 10], got {max_doublings}"
        )
    k = int(span_tokens)
    toks = tokens_col(text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    ).where(F.size("__toks") >= 1)
    n_spans = F.ceil(F.size("__toks") / F.lit(k)).cast("int")
    chunks = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.slice("__toks", i * k + 1, k),
            )
        ).alias("idx", "__ctoks"),
    ).select(
        "doc_id",
        "idx",
        F.md5(F.array_join("__ctoks", " ")).alias("dg"),
        F.size("__ctoks").alias("nt"),
    )
    chunks = chunks.localCheckpoint(eager=False)

    def losers(frame):
        # first occurrence per digest via a window MIN — ONE shuffle of
        # the level frame instead of the groupBy + join-back pair
        # (round-11; same min-(doc_id,idx) rows, digest groups are
        # duplicate-count sized so no window partition can be large)
        from pyspark.sql import Window

        f = F.min(F.struct("doc_id", "idx")).over(Window.partitionBy("dg"))
        return (
            frame.withColumn("__f", f)
            .where(
                (F.col("doc_id") != F.col("__f.doc_id"))
                | (F.col("idx") != F.col("__f.idx"))
            )
            .select("doc_id", "idx", "nt")
        )

    level_frames = [chunks]
    cur = chunks
    for j in range(1, max_doublings + 1):
        full = k * (2 ** j)
        cur = (
            cur.groupBy("doc_id", F.floor(F.col("idx") / 2).alias("idx"))
            .agg(
                F.count(F.lit(1)).alias("__c"),
                F.min(F.struct("idx", "dg")).alias("__l"),
                F.max(F.struct("idx", "dg")).alias("__r"),
                F.sum("nt").alias("nt"),
            )
            .where((F.col("__c") == 2) & (F.col("nt") == full))
            .select(
                "doc_id",
                F.col("idx").cast("int").alias("idx"),
                F.md5(
                    F.concat(F.col("__l.dg"), F.lit(" "), F.col("__r.dg"))
                ).alias("dg"),
                "nt",
            )
        )
        cur = cur.localCheckpoint(eager=False)
        level_frames.append(cur)

    level_losers = [losers(f) for f in level_frames]
    regions = None
    for j in range(max_doublings, -1, -1):
        lj = level_losers[j]
        if j < max_doublings:
            parents = level_losers[j + 1].select(
                "doc_id", F.col("idx").alias("__pidx")
            )
            lj = lj.join(
                parents,
                (lj["doc_id"] == parents["doc_id"])
                & (F.floor(lj["idx"] / 2) == parents["__pidx"]),
                "left_anti",
            )
        lj = lj.select("doc_id", F.lit(j).alias("level"), "idx", "nt")
        regions = lj if regions is None else regions.unionByName(lj)
    region_stats = regions.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed_regions"),
        F.max("nt").alias("max_region_tokens"),
    )

    l0 = level_losers[0].select(
        "doc_id", "idx", F.lit(True).alias("__lost")
    )
    kept = (
        chunks.join(l0, ["doc_id", "idx"], "left")
        .select(
            "doc_id",
            "idx",
            "dg",
            F.coalesce(F.col("__lost"), F.lit(False)).alias("__lost"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((~F.col("__lost")).cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("__lost"),
                                    F.struct("idx", "dg"),
                                )
                            )
                        ),
                        lambda s: s["dg"],
                    ),
                    " ",
                )
            ).alias("dedup_digest"),
        )
    )
    return (
        kept.join(region_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            "n_kept",
            F.coalesce("n_removed_regions", F.lit(0))
            .cast("long")
            .alias("n_removed_regions"),
            F.coalesce("max_region_tokens", F.lit(0))
            .cast("long")
            .alias("max_region_tokens"),
            "dedup_digest",
        )
    )


def dedup_sentences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style cross-corpus SENTENCE dedup (Wenzek et al. 2020 run
    paragraph-hash dedup across shards; the sentence-granular variant is
    the standard boilerplate killer — cookie banners, legal footers, and
    share-bar text repeat verbatim across millions of pages and survive
    document-level dedup because the surrounding pages differ):

    every sentence keeps its FIRST global occurrence (the minimum
    ``(doc_id, sent_idx)`` — deterministic, partition-invariant) and
    later copies are dropped, including within-document repeats; the
    survivors reassemble per document in original sentence order.
    Returns ``(doc_id, text)``, one row per document that kept at least
    one sentence.

    Scale shape: sentence split is per-row JVM work
    (:func:`plda_spark.operators.text.split_sentences`); the dedup is
    ONE shuffle of the sentence rows keyed on the md5 digest with a
    window MIN per digest partition (round-11: the earlier groupBy +
    join-back shuffled the sentence rows by digest for the join ANYWAY,
    plus a separate aggregation exchange and join sort, for the same
    min-(doc_id, sent_idx) survivors; digest groups are duplicate-count
    sized, so no window partition can be large); reassembly is the same
    sort_array aggregation every span/boilerplate operator here uses.
    No global sort.
    """
    from pyspark.sql import Window

    from plda_spark.operators.text import split_sentences

    sents = split_sentences(docs, text_col=text_col, id_col=id_col)
    first = F.min(F.struct("doc_id", "sent_idx")).over(
        Window.partitionBy("__digest")
    )
    kept = (
        sents.withColumn("__digest", F.md5(F.col("sentence")))
        .withColumn("__first", first)
        .where(
            (F.col("doc_id") == F.col("__first.doc_id"))
            & (F.col("sent_idx") == F.col("__first.sent_idx"))
        )
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("sent_idx", "sentence"))),
                    lambda s: s["sentence"],
                ),
                "\n",
            ).alias(text_col)
        )
    )
