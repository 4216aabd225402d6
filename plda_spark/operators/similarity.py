"""Similarity search over embedding columns (``array<float>``).

Every search operator is a candidate generator over one shared core
(the three steps of distributed top-k search):

1. **Generate candidates** — the only step that differs: every pair
   (brute force, the exactness baseline), sign-bit LSH bucket
   collisions, IVF cell collisions, or a shortlist from compressed
   codes (PQ / IVF-PQ ADC scans, SQ8 codes, a Matryoshka prefix).
   Candidate generation is an equi-join or a broadcast of the query
   batch — never a corpus-sized cross join.
2. **Refine exactly** — each side is staged once (id, vector, norm
   under fixed internal aliases) and a candidate pair costs one
   dot-product fold: the rounded staged cosine.  Shortlists from
   compressed codes are re-ranked against the full-precision vectors.
3. **Per-query top-k** — one window, ``sim`` descending (or ``adist``
   ascending), ties by ``vec_id``.

The numpy side shares one driver-side training sample (the first ``n``
vectors by id), one per-batch vector decode and one squared-L2 matrix.
Cosine values are rounded (1e-6) so the DuckDB oracle
(``list_cosine_similarity``) hashes identically.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from plda_spark.lineage import _Lineage

__all__ = [
    "cosine",
    "brute_force_topk",
    "matryoshka_topk",
    "hyperplane_signatures",
    "lsh_topk",
    "ivf_assign",
    "ivf_topk",
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_blocked",
    "normalize_embeddings",
    "pca_project",
    "kmeans_fit",
    "kmeans_assign",
    "silhouette_simplified",
    "cluster_embeddings",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "pq_topk_refined",
    "ivf_pq_topk",
    "ivf_pq_build",
    "ivf_pq_append",
    "ivf_pq_delete",
    "ivf_pq_search",
    "sq8_encode",
    "sq8_topk",
    "mmr_rerank",
    "knn_classify",
    "kmeans_fit_exact",
]

_TOPK_SCHEMA = "query_id long, vec_id long, sim double, rank int"


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    return dot / (na * nb)


# ---------------------------------------------------------------------------
# The shared core: side staging, the rounded staged cosine, candidate
# scoring, per-query top-k and the exact re-rank (Spark side); the training
# sample, vector decode, squared-L2 matrix and ADC scan (numpy side).
# ---------------------------------------------------------------------------


def _norm(v: Column) -> Column:
    """``sqrt(Σ vᵢ²)`` — the exact norm subexpression :func:`cosine`
    folds, exposed so pair joins can stage it ONCE per vector (a
    projection on each join input) instead of re-folding it once per
    PAIR.  Same ops in the same order, so the staged quotient is
    bit-identical to the inline one."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, v: s + v * v))


def _cosine_staged(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the two norms already staged as columns:
    the per-pair work is the dot-product fold only — the other two
    O(dim) folds ride the join inputs, computed once per vector.  The
    division is ``dot / (na · nb)`` exactly as in :func:`cosine`, so
    results are bit-identical."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    return dot / (na * nb)


def _side(df: DataFrame, id_col: str, id_as: str, tag: str, vec, *extra) -> DataFrame:
    """One side of a scored pair: the id as ``id_as``, the vector
    (a column name or expression) as ``__{tag}v`` and its norm as
    ``__{tag}n``, plus ``extra`` columns.  The norm is a projection of
    the side itself, so it is folded once per row, not once per pair."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return df.select(F.col(id_col).alias(id_as), vec.alias(f"__{tag}v"), *extra).withColumn(
        f"__{tag}n", _norm(F.col(f"__{tag}v"))
    )


def _sim(a: str = "q", b: str = "c") -> Column:
    """The rounded staged cosine ``sim`` of the sides tagged ``a`` and
    ``b`` — the one ranking score of this module."""
    return F.round(
        _cosine_staged(
            F.col(f"__{a}v"), F.col(f"__{b}v"), F.col(f"__{a}n"), F.col(f"__{b}n")
        ),
        6,
    ).alias("sim")


def _score(q: DataFrame, corpus: DataFrame, on=None, tags=("q", "c")) -> DataFrame:
    """``(query_id, vec_id, sim)`` of the candidate pairs: every pair of
    the broadcast query batch ``q`` with ``corpus`` when ``on`` is None,
    else the de-duplicated pairs sharing an ``on`` key.  Self-matches
    (same id) are excluded."""
    pairs = corpus.crossJoin(q) if on is None else q.join(corpus, on)
    pairs = pairs.where(F.col("vec_id") != F.col("query_id"))
    if on is not None:
        pairs = pairs.dropDuplicates(["query_id", "vec_id"])
    return pairs.select("query_id", "vec_id", _sim(*tags))


def _topk(scored: DataFrame, k: int, by: str = "sim") -> DataFrame:
    """Each query's top ``k`` rows: ``(query_id, vec_id, <by>, rank)``,
    ``sim`` descending or ``adist`` ascending, ties by ``vec_id``."""
    order = F.desc(by) if by == "sim" else F.asc(by)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", by, "rank")
    )


def _rerank(shortlist: DataFrame, corpus: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of a ``(query_id, vec_id)`` shortlist: each pair
    joins its staged corpus side (tag ``c``, by id) and query side (tag
    ``q``), and only shortlisted pairs are scored.  Nothing corpus-sized
    shuffles when the shortlist is broadcast."""
    scored = shortlist.join(corpus, "vec_id").join(q, "query_id")
    return _topk(scored.select("query_id", "vec_id", _sim()), k)


def _empty(df: DataFrame, schema: str) -> DataFrame:
    return df.sparkSession.createDataFrame([], schema)


def _doubles(col: str) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _stack(vectors) -> np.ndarray:
    """Array-column values (Arrow batch cells or collected rows) as the
    rows of a float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vectors])


def _sq_l2(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``(n, k)`` squared L2 distances of the rows of ``X`` to the rows of
    ``C`` by the matmul expansion ``|x|² − 2x·c + |c|²``."""
    return (X**2).sum(axis=1)[:, None] - 2 * (X @ C.T) + (C**2).sum(axis=1)[None, :]


def _map_vectors(df: DataFrame, id_col: str, vec_col: str, fn, schema: str) -> DataFrame:
    """One ``mapInPandas`` over ``(vid, emb)`` rows: ``fn(pdf, X)`` maps
    each non-empty Arrow batch, ``X`` its vectors as float64 rows, to the
    output columns.  Matrices the function reads ride its closure."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(fn(pdf, _stack(pdf["emb"])))

    src = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("emb"))
    return src.mapInPandas(run, schema=schema)


def _sample(
    embeddings: DataFrame, n: int, id_col: str, vec_col: str, trainer: str | None = None
) -> np.ndarray | None:
    """The deterministic driver-side training sample: the first ``n``
    vectors by id.  Every quantizer, basis and k-means init trains on it.
    An empty corpus gives None — a search then returns an empty frame —
    or, when ``trainer`` names the caller, ``ValueError("<trainer>:
    empty corpus")``."""
    rows = (
        embeddings.select(F.col(vec_col).alias("emb"))
        .orderBy(F.col(id_col))
        .limit(n)
        .collect()
    )
    if rows:
        return _stack(r["emb"] for r in rows)
    if trainer:
        raise ValueError(f"{trainer}: empty corpus")
    return None


def _collect_queries(queries: DataFrame, query_id_col: str, vec_col: str):
    """A query batch on the driver (small by construction):
    ``(qids, Q)``, or None when the batch is empty."""
    rows = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    if not rows:
        return None
    return np.array([r["qid"] for r in rows], dtype=np.int64), _stack(r["qv"] for r in rows)


def _codes(pdf) -> np.ndarray:
    return np.stack([np.asarray(c, dtype=np.int64) for c in pdf["code"]])


def _adc(tables: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Asymmetric distances of code rows ``C`` (n, m) through distance
    tables ``(..., m, k_codes)``: the sum over subspaces j of
    ``tables[..., j, C[:, j]]`` — no vector is ever decompressed."""
    ad = np.zeros(tables.shape[:-2] + (C.shape[0],), dtype=np.float64)
    for j in range(C.shape[1]):
        ad += tables[..., j, C[:, j]]
    return ad


def _smallest(ad: np.ndarray, k: int):
    """Indices and values of the ``k + 1`` smallest distances along the
    last axis.  One slot more than asked: a query drawn from the corpus
    occupies one with its own ~0-distance code row, and the self-filter
    runs AFTER this cut — keeping only k would silently drop the true
    k-th neighbor."""
    keep = min(k + 1, ad.shape[-1])
    part = np.argpartition(ad, keep - 1, axis=-1)[..., :keep]
    return part, np.take_along_axis(ad, part, axis=-1)


def _rng(seed: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(seed)))


def _nearest(sample: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Nearest centroid per sample row, by the broadcast difference."""
    return ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _init_centroids(sample: np.ndarray, k: int, seed: int) -> np.ndarray:
    """``k`` seeded rows of the sample (with replacement only when the
    sample has fewer than ``k``)."""
    return sample[_rng(seed).choice(sample.shape[0], k, replace=sample.shape[0] < k)]


def _kmeans(sample: np.ndarray, n_cells: int, seed: int, iters: int = 10) -> np.ndarray:
    """Plain seeded Lloyd's k-means on a driver-side sample (the standard
    way an IVF coarse quantizer is trained: sample → centroids)."""
    cents = _init_centroids(sample, n_cells, seed)
    for _ in range(iters):
        assign = _nearest(sample, cents)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


# ---------------------------------------------------------------------------
# The operators.  Each search operator is a candidate generator over the core.
# ---------------------------------------------------------------------------


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors for each query: ``(query_id, vec_id, sim, rank)``.

    ``queries`` is broadcast (a query batch is small by construction);
    the corpus is scanned once.  Self-matches (same id) are excluded.
    """
    q = F.broadcast(_side(queries, query_id_col, "query_id", "q", vec_col))
    return _topk(_score(q, _side(embeddings, id_col, "vec_id", "c", vec_col)), k)


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit LSH signature per vector: ``(vec_id, embedding, sig: array<int>)``.

    Hyperplanes are drawn from the seed on the driver and ride the task
    closure (a few KB of numpy, cheaper than a broadcast); signatures
    come from one Arrow-batched matmul ``X @ planes.T`` per batch — the
    vectorized form of num_planes dot products per row, ~an order of
    magnitude faster than per-row fold expressions at scale.
    """
    planes = _rng(seed).standard_normal((num_planes, dim))

    def sig(pdf, X):
        bits = (X @ planes.T > 0).astype(np.int32)
        return {"vec_id": pdf["vid"], "embedding": pdf["emb"], "sig": list(bits)}

    return _map_vectors(
        embeddings, id_col, vec_col, sig, "vec_id long, embedding array<float>, sig array<int>"
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidates, exact cosine re-rank.

    Recall rises with bands (OR-amplification).  Per band the bucket key
    is the band's bit-slice; candidates join on (band, bucket) so the
    plan is scan + two shuffles regardless of corpus size.
    """
    if num_planes % bands != 0:
        raise ValueError(f"num_planes={num_planes} not divisible by bands={bands}")
    r = num_planes // bands
    c_sig = hyperplane_signatures(embeddings, dim, num_planes, seed, id_col, vec_col)
    q_sig = hyperplane_signatures(queries, dim, num_planes, seed, query_id_col, vec_col)

    def band_rows(sig_df: DataFrame, who: str, tag: str) -> DataFrame:
        # the vector norm is staged here, ahead of the bucket join, so the
        # re-rank's cosine is the dot product only (8 bytes/row extra
        # through the shuffle vs an O(dim) fold per candidate pair).  The
        # side's projection sits below the band explode, so the norm is
        # folded once per vector, not once per (vector, band) row.
        bb = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "", *[F.col("sig")[bi * r + j].cast("string") for j in range(r)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb")
        return _side(sig_df, "vec_id", who, tag, "embedding", "sig").select(
            who, f"__{tag}v", f"__{tag}n", bb
        ).select(who, f"__{tag}v", f"__{tag}n", "bb.band", "bb.bucket")

    q, c = band_rows(q_sig, "query_id", "q"), band_rows(c_sig, "vec_id", "c")
    return _topk(_score(q, c, on=["band", "bucket"]), k)


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest IVF cells:
    ``(vec_id, embedding, cell)``, one row per probed cell.  One Arrow
    matmul per batch; centroids travel in the closure (n_cells×dim
    floats — a few hundred KB at most).  ``n_probe`` is clamped to the
    cell count (asking for more probes than cells would otherwise
    surface as an opaque executor-side length-mismatch)."""
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    n_probe = min(int(n_probe), int(centroids.shape[0]))

    def cells(pdf, X):
        near = np.argsort(_sq_l2(X, centroids), axis=1)[:, :n_probe]
        return {
            "vec_id": np.repeat(pdf["vid"].to_numpy(), n_probe),
            "embedding": [e for e in pdf["emb"] for _ in range(n_probe)],
            "cell": near.reshape(-1).astype(np.int32),
        }

    return _map_vectors(
        embeddings, id_col, vec_col, cells, "vec_id long, embedding array<float>, cell int"
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_train_sample: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer → cell-equi-join
    candidates → exact cosine re-rank.

    The corpus is indexed with 1 cell per vector; each query probes its
    ``n_probe`` nearest cells, so the scanned fraction is ~n_probe /
    n_cells of the corpus (vs the LSH path's band-collision candidates).
    ``n_probe == n_cells`` degenerates to exact brute force.  Centroids
    are trained on a deterministic driver-side sample; an empty corpus
    gives an empty result.
    """
    sample = _sample(embeddings, max_train_sample, id_col, vec_col)
    if sample is None:
        return _empty(embeddings, _TOPK_SCHEMA)
    cents = _kmeans(sample, n_cells, seed)
    corpus = ivf_assign(embeddings, cents, 1, id_col, vec_col)
    q = ivf_assign(queries, cents, n_probe, query_id_col, vec_col)
    return _topk(
        _score(
            _side(q, "vec_id", "query_id", "q", "embedding", "cell"),
            _side(corpus, "vec_id", "vec_id", "c", "embedding", "cell"),
            on="cell",
        ),
        k,
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold: ``(id_a, id_b, sim)``, a < b.

    Brute implementation (the sf-scale oracle); at scale route through
    ``lsh_topk`` candidates instead.
    """
    a = _side(embeddings, id_col, "id_a", "a", vec_col)
    b = _side(embeddings, id_col, "id_b", "b", vec_col)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _sim("a", "b"))
        .where(F.col("sim") >= threshold)
    )


def embedding_near_dup_pairs_blocked(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_cells: int = 64,
    n_probe: int = 2,
    seed: int = 42,
    max_train_sample: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs at scale: IVF-cell blocking instead of the O(n²)
    cross pair join.  Each vector lands in its ``n_probe`` nearest cells;
    candidate pairs are same-cell collisions (an equi-join on ``cell``),
    then the exact cosine filter runs on candidates only.  Near-dup
    vectors are near-identical points, so multi-probe assignment makes a
    shared cell overwhelmingly likely; recall rises with ``n_probe``.
    An empty corpus gives an empty result.

    The result reads a local checkpoint of the cell assignment, so it is
    not recomputable after the loss of an executor holding its blocks.
    """
    sample = _sample(embeddings, max_train_sample, id_col, vec_col)
    if sample is None:
        return _empty(embeddings, "id_a long, id_b long, sim double")
    # lazy checkpoint: the self-join consumes `cells` on BOTH sides, and
    # without the cut each side re-runs the whole Arrow assignment stage
    # (the corpus crosses the Python boundary twice); with it
    # the assignment computes once and both branches read the blocks.
    # The norm is staged INSIDE the checkpointed frame, so it is computed
    # once per (vector, probe) row and the per-candidate cosine fold is
    # the dot product only.
    cells = _side(
        ivf_assign(embeddings, _kmeans(sample, n_cells, seed), n_probe, id_col, vec_col),
        "vec_id", "vec_id", "", "embedding", "cell",
    ).localCheckpoint(eager=False)
    a, b = (
        cells.select(
            F.col("vec_id").alias(f"id_{t}"),
            F.col("__v").alias(f"__{t}v"),
            F.col("__n").alias(f"__{t}n"),
            "cell",
        )
        for t in "ab"
    )
    return (
        a.join(b, ["cell"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", _sim("a", "b"))
        .where(F.col("sim") >= threshold)
    )


def normalize_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """L2-normalize the embedding column (pure JVM higher-order
    functions — no UDF, no shuffle).  Unit-norm vectors turn cosine
    into a plain dot product, the precondition most ANN index math
    assumes; zero vectors pass through unchanged.

    The norm is staged behind its own projection: inlining the O(dim)
    aggregate inside the per-element transform lambda re-evaluates it
    per element — O(dim²) per row (the Generate-inlining pathology
    measured elsewhere in this codebase as 70 s vs <2 s)."""
    v = F.col(vec_col)
    staged = embeddings.withColumn("__norm", _norm(v))
    unit = F.transform(v, lambda x: (x / F.col("__norm")).cast("float"))
    return staged.withColumn(
        vec_col, F.when(F.col("__norm") > 0, unit).otherwise(v)
    ).drop("__norm")


def pca_project(
    embeddings: DataFrame,
    dim: int,
    out_dim: int,
    seed: int = 42,
    max_train_sample: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto their top ``out_dim`` principal
    components — the standard dimensionality-reduction step before ANN
    indexing (shorter vectors: cheaper distance math, smaller index).

    Same scale shape as the IVF quantizer: the component basis is
    learned driver-side from a bounded deterministic sample (top-k
    eigenvectors of the sample covariance via SVD), then applied
    distributed as one Arrow-batch matmul per partition — the corpus
    itself never concentrates anywhere.  Output: ``(id_col, <vec_col>:
    array<float>[out_dim])`` with the mean removed (centering plus
    rotation preserve relative geometry; cosine consumers should
    re-normalize after projection).  An empty corpus raises.
    """
    if not 0 < out_dim <= dim:
        raise ValueError("need 0 < out_dim <= dim")
    sample = _sample(embeddings, max_train_sample, id_col, vec_col, "pca_project")
    mean = sample.mean(axis=0)
    # SVD of the centered sample: rows of Vt are principal directions.
    _, _, vt = np.linalg.svd(sample - mean, full_matrices=False)
    basis = vt[:out_dim].T.copy()  # (dim, out_dim)

    sc = embeddings.sparkSession.sparkContext
    bc_mean = sc.broadcast(mean)
    bc_basis = sc.broadcast(basis)

    def project(pdf, X):
        proj = (X - bc_mean.value) @ bc_basis.value
        return {"vec_id": pdf["vid"], "emb": [row.astype(np.float32) for row in proj]}

    return _map_vectors(
        embeddings, id_col, vec_col, project, "vec_id long, emb array<float>"
    ).select(F.col("vec_id").alias(id_col), F.col("emb").alias(vec_col))


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    max_iterations: int = 20,
    tol: float = 1e-6,
    seed: int = 13,
    init_sample: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Distributed Lloyd's k-means over the FULL corpus (unlike the
    driver-sampled ``_kmeans`` quantizer used by IVF) — corpus clustering
    for data curation: domain bucketing, diversity-balanced sampling,
    per-cluster quality audits.

    Scale shape (the classic MLlib plan): centroids (k×dim floats) ride
    the task closure; each iteration is ONE job that computes per-
    partition partial sums — an Arrow matmul per batch, one
    ``(cluster, count, vec_sum)`` row per nonempty cluster per partition
    — and the driver reduces ≤ P·k tiny rows and recenters.  No shuffle
    of the corpus, ever; traffic is P·k·dim floats per iteration, the
    same volume an MPI AllReduce would move.

    Initial centroids come from a deterministic driver-side sample; an
    empty corpus raises.  Empty clusters keep their previous centroid.
    Partials are summed in (cluster, partition) order so the result is
    bit-deterministic for a fixed partitioning.  Returns the (k, dim)
    centroid matrix.
    """
    import pandas as pd
    from collections.abc import Iterator

    from pyspark import TaskContext

    sample = _sample(embeddings, init_sample, id_col, vec_col, "kmeans_fit")
    cents = _init_centroids(sample, k, seed)
    dim = cents.shape[1]
    src = embeddings.select(F.col(vec_col).alias("emb"))

    for _ in range(max_iterations):
        c = cents  # rebind for closure capture of THIS iteration's value

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pid = TaskContext.get().partitionId()
            cnt = np.zeros(k, dtype=np.int64)
            acc = np.zeros((k, dim), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _stack(pdf["emb"])
                assign = _sq_l2(X, c).argmin(axis=1)
                np.add.at(cnt, assign, 1)
                np.add.at(acc, assign, X)
            nz = np.nonzero(cnt)[0]
            if len(nz):
                yield pd.DataFrame(
                    {
                        "pid": pid,
                        "cluster": nz.astype(np.int32),
                        "cnt": cnt[nz],
                        "vec_sum": [acc[i] for i in nz],
                    }
                )

        pdf = (
            src.mapInPandas(
                partials, schema="pid int, cluster int, cnt long, vec_sum array<double>"
            )
            .toPandas()
            .sort_values(["cluster", "pid"])
        )
        new_cents = cents.copy()
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim), dtype=np.float64)
        for cl, cn, vs in zip(pdf["cluster"], pdf["cnt"], pdf["vec_sum"]):
            counts[cl] += cn
            sums[cl] += np.asarray(vs, dtype=np.float64)
        nz = counts > 0
        new_cents[nz] = sums[nz] / counts[nz, None]
        shift = float(np.abs(new_cents - cents).max())
        cents = new_cents
        if shift <= tol:
            break
    return cents


def kmeans_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: ``(vec_id, cluster, dist)`` with
    ``dist`` the Euclidean distance (rounded 1e-6).  One Arrow matmul
    per batch, centroids in the closure — no shuffle, no join."""
    c = np.asarray(centroids, dtype=np.float64)

    def assign(pdf, X):
        d2 = _sq_l2(X, c)
        a = d2.argmin(axis=1)
        return {
            "vec_id": pdf["vid"],
            "cluster": a.astype(np.int32),
            "dist": np.sqrt(np.maximum(d2[np.arange(len(a)), a], 0.0)).round(6),
        }

    return _map_vectors(
        embeddings, id_col, vec_col, assign, "vec_id long, cluster int, dist double"
    )


def cluster_embeddings(
    embeddings: DataFrame,
    k: int = 8,
    max_iterations: int = 20,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit + assign in one call: ``(vec_id, cluster, dist)`` for every
    vector, trained by :func:`kmeans_fit` on the full corpus."""
    cents = kmeans_fit(
        embeddings, k, max_iterations, seed=seed, id_col=id_col, vec_col=vec_col
    )
    return kmeans_assign(embeddings, cents, id_col, vec_col)


def pq_train(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    seed: int = 29,
    train_sample: int = 20000,
    iters: int = 15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    ``dim`` dimensions into ``m`` contiguous subspaces and run k-means
    with ``k`` centroids in each.

    Returns the ``(m, k, dim//m)`` codebook tensor — ``m·k·dsub`` floats,
    kilobytes; it travels in task closures from then on.  Training runs
    on a bounded deterministic driver-side sample (the standard PQ
    recipe — codebooks need distribution shape, not the full corpus;
    same bound as the IVF coarse quantizer and `pca_project`); an empty
    corpus raises.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sample = _sample(embeddings, train_sample, id_col, vec_col, "pq_train")
    return _fit_codebooks(sample, m, k, [seed + j for j in range(m)], iters)


def _fit_codebooks(
    sample: np.ndarray, m: int, k: int, seeds: list[int], iters: int = 15
) -> np.ndarray:
    """Per-subspace k-means over a driver-side sample matrix — shared by
    ``pq_train`` (raw vectors) and ``ivf_pq_topk`` (residuals).  Trains
    on UNIQUE subvectors: duplicate-heavy samples otherwise seed
    identical initial centroids and Lloyd's can never split them (it
    also makes k >= #distinct points exactly lossless)."""
    dsub = sample.shape[1] // m
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        sub = np.unique(sample[:, j * dsub : (j + 1) * dsub], axis=0)
        books[j] = _kmeans(sub, k, seeds[j], iters)
    return books


def _nearest_codes(R: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Row-wise nearest-codebook-entry indices per subspace:
    ``(n, m)`` int32 — the encode step both PQ variants share."""
    m, _, dsub = books.shape
    code = np.empty((R.shape[0], m), dtype=np.int32)
    for j in range(m):
        code[:, j] = np.argmin(_sq_l2(R[:, j * dsub : (j + 1) * dsub], books[j]), axis=1)
    return code


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector to ``m`` codebook indices:
    ``(vec_id, code array<int>)`` — dim·4 bytes shrink to m bytes-ish,
    the compression that lets a 100 TB embedding store fit a scan
    budget.  One Arrow matmul per subspace per batch; codebooks ride
    the closure."""

    def encode(pdf, X):
        return {"vec_id": pdf["vid"], "code": list(_nearest_codes(X, codebooks))}

    return _map_vectors(embeddings, id_col, vec_col, encode, "vec_id long, code array<int>")


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): each
    query precomputes its (m, k_codes) distance table; a code's
    approximate squared L2 distance is ``m`` table lookups summed —
    no vector is ever decompressed.

    ``(query_id, vec_id, adist, rank)``, ascending ``adist``; an empty
    query batch gives an empty result.

    Scale shape: queries are collected once (a query batch is small by
    construction — same contract as ``brute_force_topk``); the code
    table is scanned ONCE for all queries with per-batch numpy table
    lookups, each task emitting only its per-query top-k partials, and
    a final window ranks P·|Q|·k candidate rows — never |corpus|·|Q|.
    """
    import pandas as pd

    got = _collect_queries(queries, query_id_col, vec_col)
    if got is None:
        return _empty(codes, "query_id long, vec_id long, adist double, rank int")
    qids, Q = got
    m, kc, dsub = codebooks.shape
    # distance tables: (|Q|, m, kc)
    tables = np.empty((len(qids), m, kc), dtype=np.float64)
    for j in range(m):
        tables[:, j, :] = _sq_l2(Q[:, j * dsub : (j + 1) * dsub], codebooks[j])

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            part, dist = _smallest(_adc(tables, _codes(pdf)), k)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, part.shape[1]),
                    "vec_id": pdf["vec_id"].to_numpy()[part.reshape(-1)],
                    "adist": dist.reshape(-1),
                }
            )

    cands = codes.mapInPandas(scan, schema="query_id long, vec_id long, adist double")
    return _topk(
        cands.where(F.col("vec_id") != F.col("query_id")).withColumn(
            "adist", F.round("adist", 6)
        ),
        k,
        "adist",
    )


def pq_topk_refined(
    embeddings: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    oversample: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The standard two-stage PQ pipeline: ADC shortlist of
    ``k·oversample`` candidates from the compressed codes, then EXACT
    cosine re-rank of just those — compression pays for the scan, exact
    math pays only for |Q|·k·oversample rows.

    ``(query_id, vec_id, sim, rank)`` — same shape as the other top-k
    operators, so it swaps in wherever ``ivf_topk``/``lsh_topk`` do.

    The re-rank join hits the full-precision table on its ID (pushdown-
    friendly point lookups via the broadcast shortlist); nothing
    corpus-sized shuffles.
    """
    shortlist = pq_topk(
        codes, queries, codebooks, k=k * oversample,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    ).select("query_id", "vec_id")
    return _rerank(
        F.broadcast(shortlist),
        _side(embeddings, id_col, "vec_id", "c", vec_col),
        F.broadcast(_side(queries, query_id_col, "query_id", "q", vec_col)),
        k,
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    oversample: int = 5,
    seed: int = 42,
    max_train_sample: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ — the faiss-standard billion-scale ANN composition (Jégou
    et al. 2011 §V): a k-means coarse quantizer partitions the corpus
    into ``n_cells`` inverted lists, PQ codebooks trained on RESIDUALS
    (x − centroid, the part the coarse quantizer can't explain)
    compress each vector to ``m`` code indices, and a query probes its
    ``n_probe`` nearest cells, ADC-scans ONLY those cells' codes with a
    per-(query, cell) residual distance table, shortlists
    ``k·oversample`` candidates, then exact-cosine re-ranks just the
    shortlist.

    ``(query_id, vec_id, sim, rank)`` — swaps in wherever the other
    top-k operators do.  With ``n_probe == n_cells`` and
    ``k·oversample ≥ |corpus|`` the shortlist is the whole corpus and
    the output EQUALS brute-force cosine top-k (the registry gate's
    exactness config); recall at real approximate configs is measured
    in tests.  An empty corpus or query batch gives an empty result.

    Scale shape: one scan encodes (cell + code per vector, Arrow
    batches); the search scans ~``n_probe/n_cells`` of the code table —
    each task emits per-query top-shortlist partials, never
    |corpus|·|Q| rows; the re-rank joins the full-precision table only
    on the broadcast shortlist ids.  Codebooks and centroids travel in
    closures (kilobytes).
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    trained = _train_ivfpq_quantizers(
        embeddings, n_cells, m, k_codes, seed, max_train_sample, id_col, vec_col
    )
    if trained is None:
        return _empty(embeddings, _TOPK_SCHEMA)
    cents, books = trained
    codes = _encode_ivfpq(embeddings, cents, books, id_col, vec_col)
    prep = _query_probe_tables(queries, cents, books, n_probe, query_id_col, vec_col)
    if prep is None:
        return _empty(embeddings, _TOPK_SCHEMA)
    return _ivf_pq_search(
        codes, queries, embeddings, prep, k, oversample, id_col, vec_col, query_id_col
    )


def _train_ivfpq_quantizers(
    embeddings, n_cells, m, k_codes, seed, max_train_sample, id_col, vec_col, trainer=None
):
    """Coarse quantizer + residual codebooks from one driver-side sample
    (the standard recipe: quantizers need distribution shape only) —
    shared by ``ivf_pq_topk`` (inline) and ``ivf_pq_build`` (persisted),
    so the two can never drift in sampling rule or seed derivation.
    Returns ``(centroids, codebooks)``, or None for an empty corpus
    (which raises instead when ``trainer`` names the caller)."""
    sample = _sample(embeddings, max_train_sample, id_col, vec_col, trainer)
    if sample is None:
        return None
    cents = _kmeans(sample, n_cells, seed)
    resid = sample - cents[_nearest(sample, cents)]
    books = _fit_codebooks(resid, m, k_codes, [seed + 7 * j + 1 for j in range(m)])
    return cents, books


def _encode_ivfpq(embeddings, cents, books, id_col, vec_col) -> DataFrame:
    """Nearest cell + residual PQ code per corpus vector (one Arrow
    matmul pass; quantizers ride the closure)."""

    def encode(pdf, X):
        cell = np.argmin(_sq_l2(X, cents), axis=1)
        code = _nearest_codes(X - cents[cell], books)
        return {"vec_id": pdf["vid"], "cell": cell.astype(np.int32), "code": list(code)}

    return _map_vectors(
        embeddings, id_col, vec_col, encode, "vec_id long, cell int, code array<int>"
    )


def _query_probe_tables(queries, cents, books, n_probe, query_id_col, vec_col):
    """Driver-side query prep (query batches are small by construction,
    same contract as brute_force_topk/pq_topk): nearest probed cells per
    query + per-(query, probed cell) residual ADC tables.  Returns
    ``(qids, probes, tables)`` or None for an empty query batch."""
    got = _collect_queries(queries, query_id_col, vec_col)
    if got is None:
        return None
    qids, Q = got
    m, k_codes, dsub = books.shape
    n_probe_eff = min(int(n_probe), cents.shape[0])
    probes = np.argsort(_sq_l2(Q, cents), axis=1)[:, :n_probe_eff]  # (|Q|, n_probe)
    # tables[qi, pi, j, :] = distances of (q - cell_centroid) subvector j
    # to codebook j's entries
    tables = np.empty((len(qids), n_probe_eff, m, k_codes), dtype=np.float64)
    for qi in range(len(qids)):
        for pi in range(n_probe_eff):
            qr = Q[qi] - cents[probes[qi, pi]]
            for j in range(m):
                qj = qr[j * dsub : (j + 1) * dsub]
                b = books[j]
                tables[qi, pi, j, :] = ((b - qj[None, :]) ** 2).sum(axis=1)
    return qids, probes, tables


def _ivf_pq_search(
    codes: DataFrame,
    queries: DataFrame,
    embeddings: DataFrame,
    prep: tuple,
    k: int,
    oversample: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """ADC scan over (vec_id, cell, code) rows + shortlist + exact
    re-rank — the search half shared by ``ivf_pq_topk`` (codes built
    inline) and ``ivf_pq_search`` (codes read from a persisted,
    cell-pruned index)."""
    import pandas as pd

    qids, probes, tables = prep
    shortlist_k = k * oversample

    def scan(batches):
        # probe lookup: cell -> list of (query_index, probe_index)
        probe_of: dict[int, list[tuple[int, int]]] = {}
        for qi in range(len(qids)):
            for pi in range(probes.shape[1]):
                probe_of.setdefault(int(probes[qi, pi]), []).append((qi, pi))
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["cell"].to_numpy()
            C = _codes(pdf)
            vids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_d = [], [], []
            for cell in np.unique(cells):
                hits = probe_of.get(int(cell))
                if not hits:
                    continue
                rows = np.flatnonzero(cells == cell)
                Cc = C[rows]
                for qi, pi in hits:
                    part, dist = _smallest(_adc(tables[qi, pi], Cc), shortlist_k)
                    out_q.append(np.full(part.shape[0], qids[qi]))
                    out_v.append(vids[rows[part]])
                    out_d.append(dist)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_v),
                        "adist": np.concatenate(out_d),
                    }
                )

    cands = codes.mapInPandas(scan, schema="query_id long, vec_id long, adist double")
    shortlist = _topk(
        cands.where(F.col("vec_id") != F.col("query_id")), shortlist_k, "adist"
    ).select("query_id", "vec_id")
    return _rerank(
        F.broadcast(shortlist),
        _side(embeddings, id_col, "vec_id", "c", vec_col),
        F.broadcast(_side(queries, query_id_col, "query_id", "q", vec_col)),
        k,
    )


def ivf_pq_build(
    embeddings: DataFrame,
    dim: int,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    max_train_sample: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and PERSIST an IVF-PQ index: quantizers trained once, the
    corpus encoded once, and every later query batch pays only a
    pruned ADC scan (``ivf_pq_search``) instead of re-training and
    re-encoding per call (what ``ivf_pq_topk`` does inline).

    Layout: ``{path}/codes/`` is the ``(vec_id, code)`` table written
    ``partitionBy("cell")`` — searching with ``n_probe`` of ``n_cells``
    then reads ONLY the probed cells' files via parquet partition
    pruning, which is the inverted-list file-skipping story at 100 TB
    (cost ∝ probed fraction, not corpus size).  ``{path}/quantizer.npz``
    holds the coarse centroids + residual codebooks (kilobytes, driver-
    side).  Determinism: same (corpus, seed) → identical index.  An
    empty corpus raises."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    cents, books = _train_ivfpq_quantizers(
        embeddings, n_cells, m, k_codes, seed, max_train_sample, id_col, vec_col,
        "ivf_pq_build",
    )
    (
        _encode_ivfpq(embeddings, cents, books, id_col, vec_col)
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{path}/codes")
    )
    np.savez(f"{path}/quantizer.npz", centroids=cents, codebooks=books)


def ivf_pq_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a persisted ``ivf_pq_build`` index WITHOUT
    rebuilding — the crawl-refresh shape (each new dump adds vectors;
    re-training + re-encoding the whole corpus per increment would cost
    the full build every time).  The FROZEN quantizer from
    ``{path}/quantizer.npz`` encodes the increment (same coarse cells,
    same residual codebooks — an appended vector is searched through
    the identical ADC tables as a built one), and the codes land as an
    APPEND into the existing cell partitions, preserving the partition-
    pruned read.  Same policy as faiss ``IndexIVF.add``: quantizers do
    not drift with the data; rebuild deliberately (``ivf_pq_build``)
    when the distribution has — recall degrades gracefully, never
    correctness (the exact re-rank stage scores true vectors).

    Callers own ``id_col`` uniqueness across increments (also the faiss
    contract): an id appended twice appears twice in search output.
    The exactly-once streaming ledgers (`streaming.windows`) are the
    repo's dedup gate for that."""
    qz = np.load(f"{path}/quantizer.npz")
    cents, books = qz["centroids"], qz["codebooks"]
    (
        _encode_ivfpq(new_vectors, cents, books, id_col, vec_col)
        .write.partitionBy("cell")
        .mode("append")
        .parquet(f"{path}/codes")
    )


def ivf_pq_search(
    queries: DataFrame,
    path: str,
    embeddings: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    oversample: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Search a persisted ``ivf_pq_build`` index: load the kB quantizer,
    pick each query's ``n_probe`` nearest cells, and read ONLY those
    cells' code files (``cell IN (…)`` on the partition column →
    parquet partition pruning skips every unprobed inverted list), then
    the shared ADC scan + shortlist + exact re-rank against
    ``embeddings``.  Same output contract as ``ivf_pq_topk``; with
    ``n_probe >= n_cells`` and ``k·oversample ≥ |corpus|`` it equals
    brute-force cosine top-k."""
    qz = np.load(f"{path}/quantizer.npz")
    prep = _query_probe_tables(
        queries, qz["centroids"], qz["codebooks"], n_probe, query_id_col, vec_col
    )
    if prep is None:
        return _empty(queries, _TOPK_SCHEMA)
    probed = sorted({int(c) for c in prep[1].ravel()})
    codes = queries.sparkSession.read.parquet(f"{path}/codes").where(
        F.col("cell").isin(probed)
    )
    return _ivf_pq_search(
        codes, queries, embeddings, prep, k, oversample, id_col, vec_col, query_id_col
    )


def sq8_encode(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the faiss SQ8
    storage layout): ``(vec_id, scale, q8 array<int>)`` with
    ``scale = max|v| / 127`` and ``q8 = clamp(round(v / scale))`` —
    4x smaller vectors for brute-force shortlist scans, pure JVM array
    expressions, no shuffle.  Zero vectors (scale 0) are dropped: they
    carry no direction to search.  The raw scale is staged under an
    internal name so no downstream display alias can lateral-capture
    the arithmetic."""
    v = _doubles(vec_col)
    scale = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    ) / F.lit(127.0)
    staged = embeddings.select(
        F.col(id_col).alias("vec_id"), v.alias("__v"), scale.alias("__sc")
    ).where(F.col("__sc") > 0)
    q8 = F.transform(
        "__v",
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x / F.col("__sc")).cast("int")),
        ),
    )
    return staged.select("vec_id", F.col("__sc").alias("scale"), q8.alias("q8"))


def sq8_topk(
    codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine_with: DataFrame | None = None,
    shortlist: int | None = None,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k cosine neighbors over SQ8 codes: ``(query_id, vec_id, sim,
    rank)``.  The per-vector scale CANCELS in cosine (both the dot
    product and the norm carry one factor of it), so scoring is plain
    ``cosine(q8, query)`` over the int codes — the scan reads 4x fewer
    bytes than the float corpus, which is the whole point at 100 TB.

    With ``refine_with`` (the float table), a two-stage search: SQ8
    shortlist of ``shortlist`` (default ``4k``) candidates per query,
    then EXACT cosine re-rank of the shortlist only — the standard
    quantize-then-refine recall fix, same shape as
    :func:`pq_topk_refined`."""
    if k < 1:
        raise ValueError("k must be >= 1")
    q = F.broadcast(_side(queries, query_id_col, "query_id", "q", _doubles(vec_col)))
    pre_k = k if refine_with is None else max(shortlist or 4 * k, k)
    short = _topk(_score(q, _side(codes, "vec_id", "vec_id", "c", _doubles("q8"))), pre_k)
    if refine_with is None:
        return short
    exact = _side(refine_with, id_col, "vec_id", "c", _doubles(vec_col))
    return _rerank(short.select("query_id", "vec_id"), exact, q, k)


def ivf_pq_delete(
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> int:
    """Delete vectors from a persisted ``ivf_pq_build`` index by id —
    the takedown half of index maintenance (build / append / DELETE) —
    rewriting ONLY the cell partitions that contain a deleted id:

    1. one column-pruned scan of the code table joined to the
       (broadcast, takedown-sized) id list finds the affected cells —
       a list bounded by ``n_cells``, collected to the driver;
    2. those cells' files are re-read via partition pruning, the ids
       anti-joined away, and written back with DYNAMIC partition
       overwrite (untouched cells' files are never opened);
    3. a cell left EMPTY is removed via the filesystem (dynamic
       overwrite can't replace a partition with zero rows).

    Returns the number of code rows removed.  The quantizer is
    untouched — deletes never change how surviving vectors encode.  The
    survivors' checkpoint is released before the call returns."""
    spark = ids.sparkSession
    codes_path = f"{path}/codes"
    codes = spark.read.parquet(codes_path)
    key = F.broadcast(ids.select(F.col(id_col).alias("vec_id")).distinct())
    affected = [
        r["cell"]
        for r in codes.join(key, "vec_id").select("cell").distinct().collect()
    ]
    if not affected:
        return 0
    touched = codes.where(F.col("cell").isin(affected))
    n_before = touched.count()
    lineage = _Lineage()
    try:
        # eager: sever lineage from the files the overwrite replaces
        survivors = lineage.cut(touched.join(key, "vec_id", "left_anti"), eager=True)
        keep_cells = {
            r["cell"] for r in survivors.select("cell").distinct().collect()
        }
        old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            if keep_cells:
                (
                    survivors.where(F.col("cell").isin(list(keep_cells)))
                    .write.partitionBy("cell")
                    .mode("overwrite")
                    .parquet(codes_path)
                )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
        emptied = [c for c in affected if c not in keep_cells]
        if emptied:
            from plda_spark.sources.snapshot import _FS

            fs = _FS(spark, codes_path)
            for c in emptied:
                fs.delete(f"{codes_path}/cell={c}", recursive=True)
        return n_before - survivors.count()
    finally:
        lineage.release()


def matryoshka_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    k: int = 5,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage cosine top-k over MATRYOSHKA-style embeddings
    (Kusupati et al. 2022, "Matryoshka Representation Learning" —
    public work): MRL-trained models pack a usable low-dim embedding
    into the FIRST ``prefix_dim`` coordinates, so stage 1 scores
    cosine over just the prefix (``prefix_dim/dim`` of the scan bytes
    and arithmetic) to build a ``shortlist`` (default ``4k``) per
    query, and stage 2 re-ranks the shortlist with exact full-dim
    cosine.  Returns ``(query_id, vec_id, sim, rank)`` — ``sim`` is
    the FULL-dimension similarity.

    The dimension-slice analog of :func:`sq8_topk`'s precision cut:
    SQ8 shrinks bytes-per-coordinate, the matryoshka prefix shrinks
    coordinates-per-vector; both keep the exact re-rank.  ``slice`` is
    a JVM array expression, the shortlist is a per-query window over
    prefix scores (rounded like every ranking sim, so its order and its
    DuckDB twin are engine-stable), and only |queries|·shortlist rows
    reach the full-dim join — the corpus is scanned once at prefix
    width.
    """
    if prefix_dim < 1:
        raise ValueError("prefix_dim must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    pre_k = max(shortlist or 4 * k, k)
    pfx = F.slice(F.col(vec_col), 1, prefix_dim)
    q = F.broadcast(
        _side(queries, query_id_col, "query_id", "q", vec_col, pfx.alias("__qpv"))
        .withColumn("__qpn", _norm(F.col("__qpv")))
    )
    prefix = _side(embeddings, id_col, "vec_id", "cp", pfx)
    short = _topk(_score(q, prefix, tags=("qp", "cp")), pre_k).select("query_id", "vec_id")
    return _rerank(short, _side(embeddings, id_col, "vec_id", "c", vec_col), q, k)


_MAX_LITERALS = 20_000


def _literal_budget(op: str, k: int, dim: int, advice: str) -> None:
    """Refuse a plan that would embed more than ``_MAX_LITERALS`` vector
    coordinates (``k`` vectors of ``dim``) as literals: a larger budget
    compiles a megabyte-scale expression tree."""
    if k * dim > _MAX_LITERALS:
        raise ValueError(
            f"{op}: k*dim = {k}*{dim} = {k * dim} literal vector "
            f"coordinates > {_MAX_LITERALS}; {advice}"
        )


def _centroid_d2s(vec: Column, centroids) -> Column:
    """Squared L2 distances of ``vec`` to each literal centroid, as an
    array column: double left-folds, so an SQL replayer lands on the
    same bits."""
    cents_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    return F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
    max_candidates: int = 100_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware top-k every RAG context builder wants:
    greedily pick the candidate maximizing ``λ·relevance − (1−λ)·max
    cosine-similarity to anything already picked``, so the k results
    cover the query's facets instead of repeating its nearest
    neighbor k times.

    Operates on a CANDIDATE LIST (the top-N of a retrieval stage —
    hundreds, not the corpus); the seed is the highest-relevance
    candidate (id tie-break).  Returns ``(sel_order, id, score,
    mmr)`` — ``mmr`` is the winning objective value at selection time,
    NULL for the seed.  All arithmetic is double left-folds over the
    vectors (dot products and norms), so an external SQL replayer
    lands on identical bits and the greedy choices — which compare at
    full precision — cannot diverge between engines.

    Scale shape: the greedy is INHERENTLY sequential in k, and the
    candidate list is re-ranker sized by contract, so the whole loop
    runs driver-side over ONE bounded collect (round-11 optimization:
    the previous shape paid k−1 single-task Spark jobs of pure
    scheduling overhead against a 1-partition checkpoint — measured
    ~0.3 s per pass at any SF).  The contract is SELF-ENFORCING twice
    over: ``max_candidates`` (the knn_classify ``max_test_rows``
    pattern) refuses an unbounded frame BEFORE the collect, and the
    k·dim literal budget bounds the selected-set state.  Every fold,
    division, and comparison replicates the engine's IEEE-double
    semantics (left-fold accumulation order, ±inf/NaN division via
    numpy, NaN-greatest ordering), so the output is bit-identical to
    the distributed form — the DuckDB oracle and the engine cross-pin
    it."""
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if max_candidates < 1:
        raise ValueError(f"max_candidates must be >= 1, got {max_candidates}")
    n_cand = candidates.count()
    if n_cand == 0:
        raise ValueError("mmr_rerank on an empty candidate frame")
    if n_cand > max_candidates:
        raise ValueError(
            f"mmr_rerank: candidate frame has {n_cand} rows > "
            f"max_candidates={max_candidates}; MMR is a RERANKER — the "
            "greedy collects the candidate list driver-side, which does "
            "not survive a corpus-sized frame. Re-rank a retrieval "
            "stage's top-N, or raise max_candidates if the list is "
            "genuinely bounded."
        )
    rows = candidates.select(
        F.col(id_col).alias("__id"),
        _doubles(vec_col).alias("__vec"),
        F.col(score_col).cast("double").alias("__score"),
    ).collect()

    def _gt(a: float, b: float) -> bool:
        # engine ORDER BY semantics for doubles: NaN sorts GREATEST
        an, bn = a != a, b != b
        if an:
            return not bn
        if bn:
            return False
        return a > b

    def _eq(a: float, b: float) -> bool:
        return (a == b) or (a != a and b != b)

    def _pick(pool, key):  # max by (key(c) desc, id asc), engine order
        best = None
        for c in pool:
            if best is None:
                best = c
                continue
            kc, kb = key(c), key(best)
            if _gt(kc, kb) or (_eq(kc, kb) and c[0] < best[0]):
                best = c
        return best

    cand = [(r["__id"], list(r["__vec"]), float(r["__score"])) for r in rows]
    seed = _pick(cand, key=lambda c: c[2])
    dim = len(seed[1])
    _literal_budget(
        "mmr_rerank", k, dim,
        "MMR is a RERANKER — run it on a retrieval stage's top-N "
        "candidates, not a corpus, or shrink k",
    )

    def _dot(a: list, b: list) -> float:  # left fold, engine order
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def _norm2(a: list) -> float:
        s = 0.0
        for x in a:
            s += x * x
        return s

    def _fdiv(n: float, d: float) -> float:  # IEEE ±inf / NaN division
        with np.errstate(divide="ignore", invalid="ignore"):
            return float(np.float64(n) / np.float64(d))

    lam = float(lam)
    selected = [(0, seed[0], seed[2], None)]
    sel_vecs: list[tuple[list, float]] = [(seed[1], math.sqrt(_norm2(seed[1])))]
    chosen = {seed[0]}
    for step in range(1, k):
        pool = [c for c in cand if c[0] not in chosen]
        if not pool:
            break  # fewer candidates than k

        def _mmr(c):
            nv = math.sqrt(_norm2(c[1]))
            sims = [_fdiv(_dot(c[1], sv), nv * sn) for sv, sn in sel_vecs]
            # array_max: NaN is greatest, matching the sort order above
            mx = sims[0]
            for s in sims[1:]:
                if _gt(s, mx):
                    mx = s
            return lam * c[2] - (1.0 - lam) * mx

        scored = [(c, _mmr(c)) for c in pool]
        nxt, nxt_mmr = scored[0]
        for c, m in scored[1:]:
            if _gt(m, nxt_mmr) or (_eq(m, nxt_mmr) and c[0] < nxt[0]):
                nxt, nxt_mmr = c, m
        selected.append((step, nxt[0], nxt[2], nxt_mmr))
        sel_vecs.append((nxt[1], math.sqrt(_norm2(nxt[1]))))
        chosen.add(nxt[0])
    spark = candidates.sparkSession
    id_type = candidates.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        selected,
        f"sel_order int, id {id_type}, score double, mmr double",
    ).select(
        "sel_order",
        F.col("id").alias(id_col),
        F.round("score", 6).alias("score"),
        F.round("mmr", 6).alias("mmr"),
    )


def silhouette_simplified(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette — the O(n·k) clustering
    quality score (Hruschka et al. 2004; the classic Rousseeuw 1987
    silhouette needs all-pairs distances, O(n²) — a non-starter at
    corpus scale): per point, ``a`` = distance to its OWN centroid,
    ``b`` = distance to the nearest OTHER centroid,
    ``s = (b − a) / max(a, b)`` (0 when both distances are 0).

    Returns one row per cluster: ``(cluster, n, mean_silhouette)``
    rounded to 6 — near 1 = tight and well separated, near 0 =
    boundary-riding, negative = likely mis-assigned.

    Scale shape: the k·dim centroid coordinates ride the plan as
    literals — SELF-ENFORCED at k·dim ≤ 20,000 (the same literal
    budget mmr_rerank enforces), raising before a megabyte-scale plan
    is ever compiled; distances are bit-replayable double left-folds,
    so the DuckDB oracle reproduces the exact IEEE sequence; one
    |clusters|-group aggregation ends the plan.  No shuffle beyond
    that aggregation, no join, nothing collects."""
    k = len(centroids)
    if k < 2:
        raise ValueError(f"need >= 2 centroids, got {k}")
    _literal_budget(
        "silhouette_simplified", int(k), int(len(centroids[0])),
        "reduce k, project to fewer dimensions, or score against a "
        "centroid TABLE via a bucketed join instead.",
    )
    staged = embeddings.select(
        F.col(id_col).alias("__id"), _centroid_d2s(F.col(vec_col), centroids).alias("__d2s")
    )
    a2 = F.array_min("__d2s")
    # first index of the min = lowest cluster id on ties (matches the
    # assignment's (d2, cl) tie-break); array_position is 1-based
    own = F.array_position(F.col("__d2s"), a2)
    b2 = F.array_min(
        F.filter(F.col("__d2s"), lambda x, i: (i + 1) != own)
    )
    a, b = F.sqrt(a2), F.sqrt(b2)
    s_i = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    return (
        staged.select((own - 1).cast("int").alias("cluster"), s_i.alias("__s"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("__s"), 6).alias("mean_silhouette"),
        )
    )


def knn_classify(
    train: DataFrame,
    test: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_test_rows: int = 10_000,
) -> DataFrame:
    """k-nearest-neighbor classification by exact cosine top-k +
    majority vote (Fix & Hodges 1951; Cover & Hart 1967) — the
    zero-training baseline every embedding-quality audit starts with:
    if k-NN over your embeddings can't separate the labels, no
    downstream head will.

    Neighbors come from :func:`brute_force_topk` (train corpus scanned
    once, test batch broadcast); the vote is per-query majority with a
    deterministic ``(count DESC, label ASC)`` tie-break.  Returns one
    row per test vector: ``(query_id, actual, predicted, n_votes,
    correct)``.

    Scale shape: ``brute_force_topk`` broadcasts the test batch and
    crossJoins it against the train corpus, so the batch being small
    is a hard precondition, not a hope — a SELF-ENFORCING
    ``max_test_rows`` pre-check (the ks_test/kcenter pattern) counts
    the test frame and refuses an unbounded eval set BEFORE the
    crossJoin plan ever executes.  Past the budget, route neighbors
    through :func:`ivf_topk` / :func:`lsh_topk` (bucketed equi-joins)
    and feed their output to a vote of your own.  After the scan,
    everything is one (query, label) count + one per-query top-1
    window over ≤ k rows per query."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_test_rows < 1:
        raise ValueError(f"max_test_rows must be >= 1, got {max_test_rows}")
    n_test = test.count()
    if n_test > max_test_rows:
        raise ValueError(
            f"knn_classify: test batch has {n_test} rows > "
            f"max_test_rows={max_test_rows}; the exact path broadcasts "
            "the batch and scores |test|x|train| pairs, which does not "
            "survive an unbounded eval set at corpus scale. Sample a "
            "bounded eval set upstream, raise max_test_rows if the "
            "batch is genuinely bounded, or use ivf_topk / lsh_topk "
            "(bucketed candidate generation) for corpus-scale scoring."
        )
    nbrs = brute_force_topk(
        train, test, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=id_col,
    )
    lab = train.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        nbrs.join(lab, "vec_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__c").desc(), F.col("__nl").asc()
    )
    top = (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("__nl").alias("predicted"),
            F.col("__c").alias("n_votes"),
        )
    )
    truth = test.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("actual")
    )
    return top.join(truth, "query_id").select(
        "query_id",
        "actual",
        "predicted",
        "n_votes",
        (F.col("actual") == F.col("predicted")).alias("correct"),
    )


def kmeans_fit_exact(
    embeddings: DataFrame,
    k: int = 4,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means (Lloyd 1957/1982) with a fully
    ENGINE-REPLAYABLE contract — the hash-checkable sibling of
    :func:`kmeans_fit` (the production Arrow-partials fit, whose
    numpy-seeded init no SQL oracle can replay): initial centroids are the ``k``
    lowest-id vectors (engine-replayable, no random restarts — swap
    in k-center seeds upstream for quality), each of the fixed
    ``rounds`` iterations assigns every vector to its nearest
    centroid (squared-L2 left-fold, first-index tie-break — the
    :func:`silhouette_simplified` convention) and recomputes
    per-cluster per-dimension means; an emptied cluster keeps its
    previous centroid.  Returns one row per cluster after a final
    assignment pass: ``(cluster, n, wcss)`` rounded to 6 — feed the
    same centroids to :func:`silhouette_simplified` for quality.

    Scale shape: the k·dim centroid literals are budget-enforced
    (≤ 20k, the MMR contract); per round, ONE corpus pass assigns
    (JVM fold expressions) and ONE posexplode aggregation reduces to
    k·dim partial means (map-side combined — the exchange carries
    k·dim partials per partition, not n·dim rows), collected driver-
    side as a bounded k·dim frame and ROUNDED to 6 decimals so both
    engines replay identical next-round literals.  Rounds are a
    driver loop with bounded collects (the max-coverage precedent),
    never an unbounded iteration."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    init_rows = (
        embeddings.select(
            F.col(id_col).alias("__id"),
            # HALF_UP rounding JVM-side (F.round), matching the SQL
            # oracle's round() — python round() is banker's
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double"), 6)
            ).alias("__v"),
        )
        .orderBy("__id")
        .limit(k)
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"kmeans_fit_exact: corpus has only {len(init_rows)} vectors < k={k}"
        )
    first = init_rows[0]["__v"]
    if first is None or len(first) == 0:
        raise ValueError(
            "kmeans_fit_exact: first seed vector is NULL/empty — the "
            "corpus has ragged or NULL-valued embedding arrays; filter "
            "or pad them upstream."
        )
    dim = len(first)
    # up-front dim contract (one bounded LIMIT-1 guard job): a vector
    # of a different length, a NULL array, or a NULL element would
    # otherwise surface rounds later as a bare KeyError/TypeError from
    # the driver centroid rebuild
    bad = (
        embeddings.where(
            F.col(vec_col).isNull()
            | (F.size(vec_col) != dim)
            | F.exists(vec_col, lambda x: x.isNull())
        )
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"kmeans_fit_exact: corpus contains vectors that are not "
            f"exactly dim={dim} non-NULL doubles (first seed's shape) — "
            "the corpus has ragged or NULL-valued embedding arrays; "
            "filter or pad them upstream."
        )
    cents = [[float(x) for x in r["__v"]] for r in init_rows]
    _literal_budget(
        "kmeans_fit_exact", k, dim, "reduce k or project to fewer dimensions first."
    )

    def _assign(cent_rows):
        staged = embeddings.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
        ).withColumn("__d2s", _centroid_d2s(F.col("__v"), cent_rows))
        own = F.array_position(F.col("__d2s"), F.array_min("__d2s"))
        return staged.select(
            "__id",
            "__v",
            (own - 1).cast("int").alias("cluster"),
            F.array_min("__d2s").alias("__d2"),
        )

    for _ in range(rounds):
        assigned = _assign(cents)
        means = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]  # emptied cluster keeps old
        per_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            per_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        for cl, dims in per_cluster.items():
            rebuilt = []
            for i in range(dim):
                m_i = dims.get(i)
                if m_i is None:
                    # a ragged corpus (vector shorter than the seed dim)
                    # or an all-NULL dimension would otherwise surface
                    # as a bare KeyError/TypeError from the driver loop
                    raise ValueError(
                        "kmeans_fit_exact: cluster "
                        f"{cl} has no mean for dimension {i} (expected "
                        f"dim={dim} from the first seed) — the corpus "
                        "has ragged or NULL-valued embedding arrays; "
                        "filter or pad them upstream."
                    )
                rebuilt.append(float(m_i))
            new_cents[cl] = rebuilt
        cents = new_cents

    final = _assign(cents)
    # wcss hash stability: a raw double sum is order-of-accumulation
    # dependent (partitioning changes which last-bit the 6-decimal
    # rounding sees), so round each row's d2 to 9 decimals — the
    # per-row fold order is identical in both engines, so the rounded
    # operands agree exactly — and accumulate as DECIMAL (associative,
    # partition-order invariant); both engines then sum identical
    # exact operands and the gate cannot flake across SFs/partitionings
    d2_exact = F.round(F.col("__d2"), 9).cast("decimal(38,9)")
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum(d2_exact), 6).cast("double").alias("wcss"),
        )
    )
