"""Deterministic sampling, splitting, and sequence packing for
training-data pipelines.

All three primitives are hash- or prefix-sum-based rather than
RNG-based, so they are exactly reproducible across engines, runs, and
cluster sizes — the property a 100 TB pipeline needs for resumable /
auditable dataset construction:

- ``hash_mod_sample`` — keep a row iff ``md5(key) mod N < k``: a stable
  pseudo-random sample that never changes when the data is repartitioned
  or re-read (vs ``df.sample``, whose output depends on partitioning).
- ``train_val_test_split`` — the same hash routed into named buckets.
- ``pack_sequences`` — assign documents to ~``max_tokens`` bins by
  cumulative token count in a deterministic order (the distributed
  analog of sequence packing for LLM pretraining batches; a running-sum
  window, no driver loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from plda_spark._exprs import md5_long
from plda_spark.lineage import _Lineage

__all__ = [
    "hash_bucket",
    "hash_mod_sample",
    "train_val_test_split",
    "stratified_hash_sample",
    "reservoir_per_group",
    "pack_sequences",
    "chunk_documents",
    "weighted_sample_per_group",
    "leakage_safe_split",
    "contrastive_negatives",
    "neyman_allocation",
    "neyman_sample",
    "kcenter_select",
    "curriculum_order",
    "balanced_sample",
    "interleave_by_weight",
    "max_coverage_select",
]


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from the md5 of the key's string form."""
    return md5_long(key.cast("string")) % buckets


def hash_mod_sample(
    df: DataFrame, keep_pct: int, key_col: str = "doc_id", buckets: int = 100
) -> DataFrame:
    """Keep rows whose hash bucket < ``keep_pct`` (of ``buckets``)."""
    return df.where(hash_bucket(F.col(key_col), buckets) < keep_pct)


def train_val_test_split(
    df: DataFrame,
    key_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """Adds a ``split`` column: 'test' | 'val' | 'train' by hash bucket."""
    b = hash_bucket(F.col(key_col), buckets)
    return df.withColumn(
        "split",
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, int],
    key_col: str = "doc_id",
    buckets: int = 100,
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sample: keep a row iff its hash bucket
    is below the stratum's percentage (``fractions`` maps stratum value →
    kept buckets out of ``buckets``; unlisted strata get ``default_pct``).

    The up/down-sampling primitive for domain mixing in training-data
    pipelines ("keep 100% of wiki, 10% of crawl").  Unlike
    ``df.sampleBy`` the decision is a pure function of the row key, so
    the sample is identical across runs, partitionings, and engines, and
    a row's fate never changes when other strata's rates do.  Pure
    per-row expressions — no shuffle, fully pushdown-friendly.
    """
    b = hash_bucket(F.col(key_col), buckets)
    thresh = F.lit(default_pct)
    for value, pct in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(thresh)
    return df.where(b < thresh)


def pack_sequences(
    docs_with_len: DataFrame,
    max_tokens: int,
    len_col: str = "n_tokens",
    id_col: str = "doc_id",
    shards: int = 64,
) -> DataFrame:
    """``(doc_id, n_tokens, …)`` → ``(doc_id, n_tokens, bin_id)``.

    Documents are hash-sharded, laid out in ``id_col`` order within each
    shard, and cut into bins by START OFFSET in the running token
    count: ``local_bin = floor((cumsum - n) / max_tokens)``; the global
    ``bin_id = local_bin * shards + shard`` is collision-free without
    any cross-shard coordination.  A bin holds every doc that STARTS in
    its ``max_tokens`` window, so a bin can total up to ``max_tokens +
    (largest member) - 1`` tokens (the greedy-cut bound the tests pin) —
    size the training window with that slack, or pre-chunk oversized
    docs with :func:`chunk_documents` first.

    Scale design: bins never needed to be globally contiguous, so each
    shard packs independently — the running-sum window has a
    ``partitionBy`` and the whole corpus never funnels through one task.
    ``shards`` is a fixed parameter (not cluster-derived), so the
    assignment is exactly reproducible across cluster sizes and in ANSI
    SQL (the shard is the same md5 bucket ``hash_bucket`` uses).
    ``shards=1`` recovers the single-sequence layout.
    """
    shard = hash_bucket(F.col(id_col), shards).alias("__shard")
    w = (
        Window.partitionBy("__shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col(len_col)).over(w)
    return (
        docs_with_len.withColumn("__shard", shard)
        .select(
            id_col,
            len_col,
            (
                F.floor((cum - F.col(len_col)) / max_tokens) * shards
                + F.col("__shard")
            ).cast("long").alias("bin_id"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into overlapping token chunks — the
    context-window preparation step for embedding / RAG pipelines (the
    complement of ``pack_sequences``, which packs SHORT docs together).

    Chunk c covers tokens ``[c·stride, c·stride + max_tokens)`` with
    ``stride = max_tokens − overlap``; chunks = ``1 + ⌈max(n −
    max_tokens, 0)/stride⌉`` so every token is covered, consecutive
    chunks share ``overlap`` tokens, and the final chunk always carries
    at least one NEW token (a naive ⌈n/stride⌉ emits a fully redundant
    tail chunk whenever ``n mod stride`` lands in ``[1, overlap]``).
    Output: ``(doc_id, chunk_idx, chunk_tokens, chunk_digest)`` — the
    digest (md5 of the space-joined chunk) stands in for the chunk text
    so downstream exact-dedup of chunks needs no second tokenize pass.
    Pure per-row JVM expressions + one explode; no shuffle.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("require 0 <= overlap < max_tokens")
    from plda_spark.operators.text import tokens_col

    stride = max_tokens - overlap
    toks = tokens_col(text_col)
    staged = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    t = F.col("__toks")
    n = F.size(t)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        (1 + F.ceil(F.greatest(n - max_tokens, F.lit(0)) / F.lit(stride))).cast("int")
    )
    chunks = F.transform(
        F.when(n_chunks >= 1, F.sequence(F.lit(1), n_chunks)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda c: F.slice(t, (c - 1) * stride + 1, max_tokens),
    )
    return staged.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "__chunk")
    ).select(
        "doc_id",
        "chunk_idx",
        F.size("__chunk").alias("chunk_tokens"),
        F.md5(F.array_join("__chunk", " ")).alias("chunk_digest"),
    )


def reservoir_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Exact-``k`` uniform-style sample PER GROUP, deterministic: rank
    rows within each group by the md5 of (seed, key) and keep the first
    ``k`` — the inspection/eval-set primitive ("exactly 100 docs from
    every source") that rate-based sampling cannot give (rates
    over/undershoot small groups).

    Like :func:`stratified_hash_sample` the decision is a pure function
    of the row key and seed — identical across runs, partitionings, and
    engines (hash-rankable in any SQL dialect), and adding rows to a
    group can only displace the rank-``k`` boundary, never reshuffle
    the kept set wholesale.

    Appends ``sample_rank`` (1..k).  Scale shape: one shuffle on the
    group key and a per-group TOP-K window — rank + filter, which Spark
    executes with a per-partition top-k sort (WindowGroupLimit), not a
    full group sort; groups of any size stream through.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    h = md5_long(
        F.concat(F.lit(str(seed)), F.lit(":"), F.col(key_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exact-``k`` per group,
    deterministic — the quality-weighted subsampling primitive ("keep
    2k docs per source, preferring high quality-score/long documents"):
    inclusion probability tracks ``weight_col`` per Efraimidis-Spirakis
    A-ES (2006): each row gets the key ``ln(u) / w`` for a uniform
    ``u`` derived from ``md5(seed, key_col)`` (u = (h+1)/2^60 over the
    first 60 md5 bits), and the k LARGEST keys win — one pass, no
    acceptance loops, provably the weighted-without-replacement
    distribution.

    Same determinism contract as :func:`reservoir_per_group`: the key
    is a pure function of (seed, row key, weight) — identical across
    runs, partitionings, and engines (the arithmetic is plain md5 +
    ln + divide, replayable in any SQL dialect; the sort key rounds to
    12 decimals so engine last-ulp ln differences can never flip a rank
    boundary, with ties broken by ``key_col``).  Rows with NULL or
    non-positive weight are excluded (zero weight = zero inclusion
    probability; A-ES is undefined for them).

    Appends ``sample_rank`` (1..k).  Scale shape: one shuffle on the
    group key + a per-group TOP-K window (WindowGroupLimit — no full
    group sort)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    h = md5_long(
        F.concat(F.lit(str(seed)), F.lit(":"), F.col(key_col).cast("string"))
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    es_key = F.round(F.ln(u) / w, 12)
    win = Window.partitionBy(group_col).orderBy(
        es_key.desc(), F.col(key_col).asc()
    )
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("sample_rank", F.row_number().over(win))
        .where(F.col("sample_rank") <= k)
    )


def leakage_safe_split(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    val_pct: int = 10,
    test_pct: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """:func:`train_val_test_split` with EVAL HYGIENE enforced: after
    the hash split, any TRAIN row whose exact text also appears in val
    or test is moved OUT of train (``split='train_leaked'``) — the
    member-level decontamination every honest benchmark run needs,
    because a random split of a corpus that still contains duplicates
    puts the same document on both sides and inflates eval scores
    (Lee et al. 2022's core finding).  Near-duplicate hygiene composes
    downstream: run ``dedup`` first, or cross-check with
    ``dedup.cross_dedup`` against the held-out split.

    Quarantining (not deleting) keeps corpus accounting exact:
    ``train = split='train'``, and the leaked mass is visible instead
    of silently vanishing.  Deterministic: the split is the same hash
    bucket as ``train_val_test_split``; leak detection is one join on
    the md5 digest.  The held-out side is corpus-PROPORTIONAL
    (val_pct + test_pct of all distinct digests), so it is NOT
    force-broadcast — the digest join shuffles slim hash rows and AQE
    broadcasts only when the held-out slice genuinely fits.
    """
    split = train_val_test_split(df, key_col, val_pct, test_pct, buckets)
    digest = F.md5(F.col(text_col))
    held = (
        split.where(F.col("split") != "train")
        .select(digest.alias("__held_digest"))
        .distinct()
    )
    return (
        split.withColumn("__digest", digest)
        .join(held, F.col("__digest") == F.col("__held_digest"), "left")
        .withColumn(
            "split",
            F.when(
                (F.col("split") == "train")
                & F.col("__held_digest").isNotNull(),
                F.lit("train_leaked"),
            ).otherwise(F.col("split")),
        )
        .drop("__digest", "__held_digest")
    )


def contrastive_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    buckets: int = 64,
    seed: int = 7,
) -> DataFrame:
    """``k`` deterministic pseudo-random negative partners per row for
    contrastive training pairs: ``(anchor_id, slot, neg_id)``,
    ``slot`` in 1..k, ``neg_id != anchor_id`` always.

    The classic implementations either cross-join (O(n²) — dead at
    scale) or sample with an RNG (irreproducible across partitionings).
    This is the distributed analog of IN-BATCH negatives: rows are
    hashed into ``buckets`` pseudo-random groups, ranked inside each
    group by a second hash, and each anchor's negatives are the rows at
    deterministic offset positions within its own group (offset in
    [1, size-1], so never itself; offsets may collide for tiny groups —
    duplicates among one anchor's k slots are allowed, exactly as
    repeated in-batch negatives are).  Rows in singleton buckets get no
    negatives (emit nothing) — size ``buckets`` for expected group
    sizes ≫ k.

    Scale shape: NO global sort and NO cross join — one window
    partitioned by bucket (parallel across buckets; pick ``buckets`` ≳
    cluster parallelism so each group fits a task) and one equi-join on
    (bucket, rank).  Every decision derives from
    ``md5(seed : id [: slot])``, so output is invariant to partitioning
    and re-reads and exactly replicable in ANSI SQL.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if buckets < 1:
        raise ValueError("buckets must be >= 1")

    def _h(*parts: Column) -> Column:
        return md5_long(F.concat_ws(":", F.lit(str(seed)), *parts))

    sid = F.col(id_col).cast("string")
    ranked = df.select(
        F.col(id_col).alias("anchor_id"),
        _h(sid).alias("__h"),
        (_h(sid) % buckets).alias("__b"),
    )
    w = Window.partitionBy("__b").orderBy("__h", "anchor_id")
    ranked = ranked.select(
        "anchor_id",
        "__b",
        (F.row_number().over(w) - 1).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy("__b")).alias("__sz"),
    )
    probes = (
        ranked.where(F.col("__sz") > 1)
        .select(
            "anchor_id", "__b", "__r", "__sz",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("slot"),
        )
        .withColumn(
            "__neg_r",
            (
                F.col("__r")
                + 1
                + _h(F.col("anchor_id").cast("string"), F.col("slot").cast("string"))
                % (F.col("__sz") - 1)
            )
            % F.col("__sz"),
        )
    )
    partners = ranked.select(
        F.col("__b").alias("__pb"),
        F.col("__r").alias("__pr"),
        F.col("anchor_id").alias("neg_id"),
    )
    return probes.join(
        partners,
        (F.col("__b") == F.col("__pb")) & (F.col("__neg_r") == F.col("__pr")),
    ).select("anchor_id", "slot", "neg_id")


def neyman_allocation(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """NEYMAN-OPTIMAL stratified sample allocation (Neyman 1934 — the
    classical minimum-variance design): a fixed budget of ``total_n``
    rows is split across strata proportionally to ``N_h · σ_h`` (size ×
    within-stratum population std of ``value_col``), so volatile strata
    get proportionally more of the budget than uniform ones — the
    principled version of "sample more of the noisy sources" when
    estimating corpus-level means under a row budget.

    Returns one row per stratum:
    ``(stratum, n_rows, sigma, weight, rate, n_target)`` where
    ``rate = min(1, total_n · w_h / N_h)`` (allocation saturates at the
    stratum size, like the token-budget water-filling planner) and
    ``n_target = round(N_h · rate)``.  Zero-variance strata draw no
    budget unless EVERY stratum is zero-variance, in which case the
    allocation degrades to proportional-to-size (the Neyman weights are
    undefined at Σ N_h σ_h = 0).

    Scale shape: ONE aggregation collapses the corpus to |strata| rows
    (count + stddev_pop are map-side-combined partials); the weight
    normalization is a window over that tiny table.  Feed the result to
    :func:`neyman_sample` to materialize the rows.
    """
    if total_n < 1:
        raise ValueError("total_n must be >= 1")
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.coalesce(F.stddev_pop(value_col), F.lit(0.0)), 6
        ).alias("sigma"),
    )
    tot = Window.partitionBy()
    mass = F.col("n_rows") * F.col("sigma")
    all_flat = F.sum(mass).over(tot) == 0
    w = F.when(all_flat, F.col("n_rows") / F.sum("n_rows").over(tot)).otherwise(
        mass / F.sum(mass).over(tot)
    )
    return (
        per.withColumn("weight", F.round(w, 6))
        .withColumn(
            "rate",
            F.round(
                F.least(
                    F.lit(1.0), F.lit(total_n) * F.col("weight") / F.col("n_rows")
                ),
                6,
            ),
        )
        .withColumn("n_target", F.round(F.col("n_rows") * F.col("rate")).cast("long"))
    )


def neyman_sample(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    total_n: int,
    key_col: str = "doc_id",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Materialize a :func:`neyman_allocation` plan: keep a row iff its
    md5 hash bucket (of ``buckets``) falls below ``rate · buckets`` for
    its stratum — the same pure-function-of-the-key decision as
    ``stratified_hash_sample``, so the draw is identical across runs,
    partitionings, and engines, and achieves each stratum's target rate
    to 1/buckets resolution.  The |strata|-row plan broadcasts; the
    corpus is scanned once with a per-row compare."""
    plan = neyman_allocation(df, strata_col, value_col, total_n).select(
        "stratum", (F.col("rate") * buckets).alias("__thresh")
    )
    return (
        df.join(
            F.broadcast(plan),
            df[strata_col] == plan["stratum"],
            "inner",
        )
        .where(hash_bucket(F.col(key_col), buckets) < F.col("__thresh"))
        .drop("stratum", "__thresh")
    )


# Hard ceiling on k*dim: the center coordinates one greedy run plans as
# literals (k passes, dim each) and holds on the driver.
_KCENTER_MAX_LITERALS = 20_000


def kcenter_select(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — the
    diversity selector of D4-style data curation (Tirumala et al.
    2023) and the classic 2-approximation to the k-center objective
    (Gonzalez 1985): seed with the smallest-id vector, then repeatedly
    pick the point FARTHEST (squared L2) from everything selected so
    far.  The selected set maximally spreads over the embedding space
    — the opposite failure mode of random sampling, which oversamples
    dense modes.

    Returns ``(sel_order, id, dist_sq)`` — ``dist_sq`` is the squared
    distance to the nearest prior center AT SELECTION TIME (the
    coverage radius curve: reading it down tells you how well-covered
    the space already was); NULL for the seed.  Fully deterministic:
    ties break on the smaller id, and all arithmetic is double-
    precision left-fold so an external replayer lands on identical
    bits.

    Scale shape: k-1 passes, each ONE distributed map + ONE top-1
    TakeOrdered — no shuffle.  A pass folds the distance to the ONE
    newest center into a running per-row minimum (``least(running,
    d_new)``): O(n·dim) work and dim literal coordinates per pass, so
    Catalyst analysis stays flat across passes.  The centers ride the
    plan as LITERALS (that is what buys bit-exact SQL replay).  The
    running ``(id, vec, dist)`` rows are one LAZY localCheckpoint per
    pass, written by that pass's own TakeOrdered job; once the job has
    run, the previous pass's checkpoint is released.  So at most two
    copies of the input sit in executor storage at a time, and none
    once this returns: the result is built on the driver from the
    selected rows.  Driver state is k·dim floats.

    ``k·dim`` is capped at 20,000, deliberately: it bounds the literal
    coordinates planned over the whole run and the driver-held centers,
    and at a given dim it bounds k, the number of full passes over the
    input.  k passes
    over 100 TB is the honest cost of exact greedy k-center; for k
    beyond ~100, seed this with a cheaper stage (IVF cells, hash sample)
    and run it on the survivors."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seed = (
        embeddings.select(id_col, vec_col).orderBy(F.col(id_col).asc()).first()
    )
    if seed is None:
        raise ValueError("kcenter_select on an empty frame")
    dim = len(seed[1])
    if k * dim > _KCENTER_MAX_LITERALS:
        raise ValueError(
            f"kcenter_select: k*dim = {k}*{dim} = {k * dim} literal "
            f"center coordinates > {_KCENTER_MAX_LITERALS}; the run "
            "makes k full passes over the input and plans dim literals "
            "in each, so k*dim bounds its planning and scan budget. "
            "Seed with a cheaper diversity stage (IVF cells via "
            "similarity.ivf_assign, or sample_hash) and run exact "
            "greedy k-center on the survivors."
        )
    selected: list[tuple] = [(0, seed[0], None)]
    centers: list[list[float]] = [[float(v) for v in seed[1]]]
    # ``min`` over doubles is exact (no rounding) and each per-center
    # fold is one fixed IEEE sequence, so the running min equals the min
    # over all centers bit for bit (parity pinned in tests).
    cur = embeddings.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    held = _Lineage()
    for step in range(1, k):
        c_lit = F.array(*[F.lit(v) for v in centers[-1]])
        # left-fold sum of squared per-dim deltas to the NEW center
        # (cast to double BEFORE arithmetic; (x-y)*(x-y) not pow, so an
        # oracle can reproduce the exact IEEE sequence)
        d_new = F.aggregate(
            F.zip_with(
                F.col("__vec"),
                c_lit,
                lambda x, y: (x.cast("double") - y)
                * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dsq = d_new if step == 1 else F.least(F.col("__dsq"), d_new)
        cur = held.cut(cur.select("__id", "__vec", dsq.alias("__dsq")))
        far = cur.orderBy(F.col("__dsq").desc(), F.col("__id").asc()).first()
        held.release_superseded()
        if far["__dsq"] <= 0.0:
            # every remaining point coincides with a center (k exceeds
            # the number of DISTINCT vectors): the space is fully
            # covered — stop instead of re-selecting centers with
            # radius 0 (duplicate ids would silently shrink a
            # deduplicated coreset)
            break
        selected.append((step, far["__id"], float(far["__dsq"])))
        centers.append([float(v) for v in far["__vec"]])
    held.release()
    spark = embeddings.sparkSession
    # derive the id field's type from the INPUT schema — embeddings are
    # commonly keyed by string doc/url ids, not just longs
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out = spark.createDataFrame(
        [(o, i, d) for o, i, d in selected],
        f"sel_order int, {id_col} {id_type}, dist_sq double",
    )
    return out.select("sel_order", id_col, F.round("dist_sq", 6).alias("dist_sq"))


def curriculum_order(
    docs: DataFrame,
    score_col: str,
    n_phases: int = 4,
    id_col: str = "doc_id",
    ascending: bool = True,
) -> DataFrame:
    """Curriculum ordering for LLM training (Bengio et al. 2009 made
    operational): bucket documents into ``n_phases`` difficulty phases
    by exact score quantiles (phase 1 = easiest when ``ascending``),
    then order WITHIN each phase by a deterministic md5 shuffle — the
    standard curriculum shape: stage-wise easy→hard progression with
    in-stage randomness so batches stay i.i.d.-ish inside a phase.

    Returns ``(phase, position, id, score)`` — feed phases in order,
    positions within.  Fully deterministic: same corpus ⇒ same
    curriculum, and both engines replay the md5 order.

    Scale shape: ONE exact-percentile aggregation for the p−1 cut
    points (broadcast as a 1-row frame — matching ANSI
    ``percentile_cont`` so the oracle reproduces the cuts), a per-row
    phase comparison, and a TWO-LEVEL in-phase rank: the row_number
    window is partitioned by ``(phase, salt)`` where the salt is the
    first two hex chars of the md5 shuffle key (256 buckets), plus a
    broadcast per-(phase, salt) offset (one tiny count aggregation +
    running sum over ≤ p·256 rows).  ``position = offset + in-bucket
    rank`` reproduces the identical phase-wide md5 total order —
    because the salt is a PREFIX of the sort key, bucket-ascending +
    in-bucket (h, id) order IS the phase-wide (h, id) order — at
    p·256-way parallelism instead of p single-task sorts of ~N/p rows
    each (the latter is a corpus-scale spill sort in disguise when
    p is small).  Ties at a cut boundary go to the lower phase
    (strict > comparison), identically in both engines."""
    if n_phases < 2:
        raise ValueError(f"n_phases must be >= 2, got {n_phases}")
    s = F.col(score_col).cast("double")
    sig = s if ascending else -s
    qs = [i / n_phases for i in range(1, n_phases)]
    cuts = docs.agg(
        *[
            F.percentile(sig, F.lit(q)).alias(f"__c{i}")
            for i, q in enumerate(qs)
        ]
    )
    phase = F.lit(1)
    for i in range(len(qs)):
        phase = phase + (sig > F.col(f"__c{i}")).cast("int")
    staged = docs.crossJoin(F.broadcast(cuts)).select(
        phase.alias("phase"),
        F.col(id_col).alias("__id"),
        s.alias("__score"),
        F.md5(F.col(id_col).cast("string")).alias("__h"),
    )
    return _salted_md5_positions(staged, "phase").select(
        "phase",
        F.col("__pos").alias("position"),
        F.col("__id").alias(id_col),
        F.round("__score", 6).alias("score"),
    )


def _salted_md5_positions(staged: DataFrame, part_col: str) -> DataFrame:
    """Two-level deterministic shuffle rank shared by
    :func:`curriculum_order` and :func:`balanced_sample`: given a frame
    carrying ``__h`` (the md5 hex shuffle key) and ``__id`` (the
    tie-break), add ``__pos`` — the 1-based position of the row within
    its ``part_col`` group under the (``__h``, ``__id``) total order.

    The row_number window is partitioned by ``(part_col, salt)`` where
    the salt is the first two hex chars of ``__h`` (256 buckets per
    group), plus a broadcast per-(group, salt) offset from one tiny
    count aggregation + a running sum over ≤ |groups|·256 rows.
    Because the salt is a PREFIX of the sort key, bucket-ascending +
    in-bucket order IS the group-wide order — identical positions at
    |groups|·256-way parallelism instead of |groups| single-task spill
    sorts of ~N/|groups| rows each (the round-7 curriculum finding).
    Drops the internal salt/offset columns; everything else passes
    through."""
    from pyspark.sql import Window

    staged = staged.withColumn("__salt", F.substring("__h", 1, 2))
    counts = staged.groupBy(part_col, "__salt").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_off = Window.partitionBy(part_col).orderBy(F.col("__salt").asc())
    offsets = counts.select(
        part_col,
        "__salt",
        (F.sum("__n").over(w_off) - F.col("__n")).alias("__off"),
    )
    w = Window.partitionBy(part_col, "__salt").orderBy(
        F.col("__h").asc(), F.col("__id").asc()
    )
    return (
        staged.join(F.broadcast(offsets), [part_col, "__salt"])
        .withColumn("__pos", F.col("__off") + F.row_number().over(w))
        .drop("__salt", "__off")
    )


def balanced_sample(
    df: DataFrame,
    class_col: str,
    id_col: str = "doc_id",
    per_class: int | None = None,
) -> DataFrame:
    """Deterministic balanced class downsampling — the standard
    class-imbalance remediation for training mixtures: keep the first
    ``per_class`` rows of each class under the md5 shuffle order
    (``per_class=None`` uses the MINORITY class size, the fully
    balanced cut).  Same corpus ⇒ same sample, and both engines replay
    the md5 order — unlike ``df.sampleBy``, whose fractions are
    approximate and seed-dependent across partitionings.

    Returns the surviving rows with their original columns plus
    ``position`` (the row's 1-based in-class shuffle rank, ≤ the cap).

    Scale shape: the in-class rank is the salted two-level
    :func:`_salted_md5_positions` rank (|classes|·256-way parallel,
    never |classes| single-task sorts); the minority-class cap is one
    map-side-combined count aggregation broadcast as a 1-row frame.
    Nothing collects, nothing sorts the corpus globally."""
    if per_class is not None and per_class < 1:
        raise ValueError(f"per_class must be >= 1, got {per_class}")
    staged = df.withColumn(
        "__h", F.md5(F.col(id_col).cast("string"))
    ).withColumn("__id", F.col(id_col))
    pos = _salted_md5_positions(staged, class_col)
    if per_class is None:
        cap = df.groupBy(class_col).agg(
            F.count(F.lit(1)).alias("__cn")
        ).agg(F.min("__cn").alias("__cap"))
        kept = pos.crossJoin(F.broadcast(cap)).where(
            F.col("__pos") <= F.col("__cap")
        )
    else:
        kept = pos.where(F.col("__pos") <= F.lit(int(per_class)))
    return kept.select(*df.columns, F.col("__pos").alias("position"))


def interleave_by_weight(
    df: DataFrame,
    group_col: str,
    weights: dict,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted interleave — stride scheduling
    (Waldspurger & Weihl 1995) applied to training-data mixing: the
    row with md5-shuffled 1-based in-group rank ``r`` gets the
    virtual-time key ``r / w_g``, so streaming rows in ascending key
    order emits groups in proportion to their weights with in-group
    md5 randomness — the step that MATERIALIZES a mixture plan
    (curation.mixture / temperature / token-budget rates) into an
    actual training order.  Scaling all weights by a constant rescales
    every key identically (the order is invariant), so weights need
    not be normalized.

    Returns the original columns plus ``(position, interleave_key)``.
    The key IS the deliverable: range-partition or sort-within-shards
    downstream — this operator performs NO global sort.

    Scale shape: the in-group rank is the salted two-level
    :func:`_salted_md5_positions` rank (|groups|·256-way parallel);
    weights arrive as a broadcast |groups|-row table, and a group
    missing from ``weights`` raises IN-PLAN at first contact (no
    silent drop of a mis-specified source)."""
    if not weights:
        raise ValueError("weights must be a non-empty {group: weight} dict")
    for g, w in weights.items():
        if not (float(w) > 0.0):
            raise ValueError(f"weight for group {g!r} must be > 0, got {w}")
    spark = df.sparkSession
    g_type = df.schema[group_col].dataType.simpleString()
    wtab = spark.createDataFrame(
        [(g, float(w)) for g, w in sorted(weights.items())],
        f"{group_col} {g_type}, __w double",
    )
    staged = df.withColumn(
        "__h", F.md5(F.col(id_col).cast("string"))
    ).withColumn("__id", F.col(id_col))
    pos = _salted_md5_positions(staged, group_col)
    joined = pos.join(F.broadcast(wtab), group_col, "left")
    w_checked = F.when(
        F.col("__w").isNull(),
        F.raise_error(
            F.concat(
                F.lit("interleave_by_weight: no weight for group "),
                F.col(group_col).cast("string"),
            )
        ),
    ).otherwise(F.col("__w"))
    return joined.select(
        *df.columns,
        F.col("__pos").alias("position"),
        F.round(F.col("__pos") / w_checked, 6).alias("interleave_key"),
    )


def max_coverage_select(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 2000,
    max_k: int = 50,
    ngram: int = 1,
) -> DataFrame:
    """Greedy maximum-coverage document selection (the submodular
    facility-location selector of data-efficient training, Wei et al.
    2015 / the D4 family's coverage half): pick ``k`` documents that
    together cover as much of the reference vocabulary as possible —
    each round selects the doc adding the most NOT-yet-covered
    vocabulary tokens.  The classic greedy (1−1/e)-approximation
    (Nemhauser 1978) to the NP-hard optimum, and the "diverse span of
    topics" complement to :func:`kcenter_select`'s geometric spread.

    The universe is the top-``vocab_size`` tokens by document
    frequency (ties: token asc) — the :func:`text.vocab_coverage`
    bounded-vocabulary contract.  Ties on gain break on the smaller
    doc id; docs adding zero new coverage stop the selection early
    (every remaining doc is redundant).  Returns ``(sel_order, id,
    gain, covered_total, coverage_frac)``.

    Scale shape: the :func:`kcenter_select` discipline — the
    (id, vocab-restricted distinct-token array) projection is built
    ONCE (one explode + df aggregation + bounded top-vocab argmax,
    then an eager localCheckpoint), and each of the k rounds is ONE
    distributed map (``array_except`` against the ≤ vocab_size
    covered-set LITERAL — pure JVM array math) + one TakeOrdered(1);
    no per-round shuffle.  Driver state is the covered token set,
    ≤ vocab_size strings.  The literal budget is self-enforcing:
    ``k ≤ max_k`` and ``vocab_size ≤ 4000`` (k·|covered| expression
    growth is the same contract MMR caps)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > max_k:
        raise ValueError(
            f"max_coverage_select: k={k} > max_k={max_k}; each round "
            "carries the covered set as plan literals — for larger k, "
            "pre-shard (hash buckets) and select per shard."
        )
    if not 1 <= vocab_size <= 4000:
        raise ValueError(
            f"vocab_size must be in [1, 4000], got {vocab_size} (the "
            "covered-set literal budget)."
        )
    if not 1 <= ngram <= 5:
        raise ValueError(f"ngram must be in [1, 5], got {ngram}")
    from plda_spark.operators.text import tokens_col

    # the n-gram fold is the CPU-heavy per-row step; an input narrower
    # than the cluster (the single-file small-corpus artifact — a real
    # corpus scan is already many-way) would run it single-task twice
    # (df aggregation + dt projection), so re-spread ONCE up front
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    t = tokens_col(text_col)
    if ngram == 1:
        units = F.array_distinct(t)
    else:
        # coverage units = word n-grams: a unigram universe saturates
        # on small shared vocabularies; n-grams keep coverage
        # informative (the shingles convention of operators/dedup.py).
        # Built from ngram SHIFTED slices folded with zip_with — O(n)
        # per document; the per-index slice(t, i+1, n) form is O(n²)
        # and benched 5x slower on long documents.
        n_t = F.size(t)
        width = n_t - (ngram - 1)
        parts = [F.slice(t, j + 1, width) for j in range(ngram)]
        acc = parts[0]
        for p in parts[1:]:
            acc = F.zip_with(acc, p, lambda a, b: F.concat_ws(" ", a, b))
        units = F.when(n_t >= ngram, F.array_distinct(acc)).otherwise(
            F.array().cast("array<string>")
        )
    # materialize the (id, units) projection ONCE: the tokenize +
    # n-gram fold is the expensive per-row step and would otherwise
    # run twice (df aggregation + candidate projection)
    units_df = docs.select(
        F.col(id_col).alias("__id"), units.alias("__u")
    ).localCheckpoint(eager=True)
    vocab_rows = (
        units_df.select(F.explode("__u").alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__df"))
        .orderBy(F.col("__df").desc(), F.col("__w").asc())
        .limit(vocab_size)
        .collect()
    )
    universe = [r["__w"] for r in vocab_rows]
    if not universe:
        raise ValueError("max_coverage_select: empty vocabulary")
    uni_lit = F.array(*[F.lit(w) for w in universe])
    dt = units_df.select(
        "__id", F.array_intersect("__u", uni_lit).alias("__dt")
    )
    covered: list = []
    out = []
    spark = docs.sparkSession
    for step in range(1, k + 1):
        cov_lit = F.array(*[F.lit(w) for w in covered]) if covered else None
        gain_col = (
            F.size(F.array_except("__dt", cov_lit))
            if cov_lit is not None
            else F.size("__dt")
        )
        best = (
            dt.select("__id", "__dt", gain_col.alias("__gain"))
            .orderBy(F.col("__gain").desc(), F.col("__id").asc())
            .first()
        )
        if best is None or best["__gain"] <= 0:
            break  # everything left is redundant — stop early
        new_words = [w for w in best["__dt"] if w not in set(covered)]
        covered.extend(new_words)
        out.append(
            (
                step,
                best["__id"],
                int(best["__gain"]),
                len(covered),
                len(covered) / float(len(universe)),
            )
        )
    id_type = docs.schema[id_col].dataType.simpleString()
    res = spark.createDataFrame(
        out,
        f"sel_order int, {id_col} {id_type}, gain int, "
        "covered_total int, coverage_frac double",
    )
    return res.select(
        "sel_order",
        id_col,
        "gain",
        "covered_total",
        F.round("coverage_frac", 6).alias("coverage_frac"),
    )
