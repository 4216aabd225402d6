"""Graph analytics over edge DataFrames: PageRank power iteration.

Dedup clustering already walks graphs (operators.dedup.connected_components
— min-label propagation); this module adds rank-style analytics for link
graphs a crawl-curation pipeline carries (host linkage, citation graphs,
doc-reference graphs).  Public formulation per Page et al., "The PageRank
Citation Ranking" (1999), in the classic simplified form the Spark
examples use: no dangling-mass redistribution, so total rank can be < 1
when sinks exist (rank ORDER is unaffected).

The operators share private edge builders (``_canonical_edges``,
``_symmetric_edges``, ``_degrees``, ``_oriented_pairs``) and one round
loop (``_rounds``) whose superseded cuts are released through
:class:`plda_spark.lineage._Lineage`.  The PageRank pair and
``dedup.connected_components`` share one driver cutover: an edge list of
at most ``_DRIVER_MAX_EDGES`` rows is collected once
(``_collect_edges``) and solved in the driver process.
docs/SCALING.md "Graph operators" lists who uses which.

No reference parity (the reference is an LDA trainer, plda); this is an
engine extension (SURVEY.md §2.3).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..lineage import _Lineage
from ..session import job_phase

__all__ = [
    "pagerank",
    "personalized_pagerank",
    "triangles",
    "label_propagation",
    "link_prediction",
    "hits",
    "kcore",
    "degree_powerlaw",
    "modularity",
    "assortativity",
    "clustering_coefficients",
    "reciprocity",
    "bfs_distances",
    "degree_centralization",
]

# An edge list of at most this many rows is solved on the driver by
# every operator with a driver path (pagerank, personalized_pagerank,
# dedup.connected_components); the path never changes the result
# (tests set it to 0 to force the distributed loops).
_DRIVER_MAX_EDGES = 4_000_000


def _collect_edges(
    edges: DataFrame,
    operator: str,
    held: _Lineage,
    cols: Sequence[Column | str] = ("src", "dst"),
) -> tuple[DataFrame, pa.Table | None]:
    """The driver cutover's one bounded collect.  Cuts ``edges`` lazily in
    ``held`` (the caller releases it) and collects ``cols`` of at most
    ``_DRIVER_MAX_EDGES`` + 1 of the cut's rows through Arrow, in jobs
    labelled ``<operator>:collect``.  Returns the cut and the rows when
    they fit the cap, else the cut and None: past the cap the caller's
    distributed path reads the edges this scan saved instead of
    scanning them again."""
    with job_phase(edges.sparkSession, operator, "collect"):
        # A lazy cut runs only the plan's shuffle-map stages now; the
        # collect's one task then computes and saves the cut's
        # partitions in turn and stops at the cap, where a limit over
        # several partitions would shuffle each one's first cap + 1
        # rows.  (A persist would cost AQE a third job, to build the
        # cache.)
        edges = held.cut(edges)
        t = edges.select(*cols).coalesce(1).limit(_DRIVER_MAX_EDGES + 1).toArrow()
    return edges, (t if t.num_rows <= _DRIVER_MAX_EDGES else None)


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    ``r_{t+1}(v) = (1-d)/N + d * Σ_{u→v} r_t(u)/outdeg(u)``, starting
    from the uniform vector.  Returns ``(node, rank)``.

    An edge list of at most ``_DRIVER_MAX_EDGES`` rows is collected once
    (``_collect_edges``) and iterated in numpy on the driver: the result
    is a local relation, recomputable, with no localCheckpoint behind it.
    Past the cap the loop is distributed (Pregel-style, holds at any
    |E|): per iteration exactly ONE shuffle join of edges with the
    |V|-row rank vector on ``src`` plus one ``groupBy(dst)``
    partial-aggregated sum — the edge set (with outdegrees) is the only
    big operand: it is persisted for the run and released before
    returning, so no iteration re-executes the edge scan or the outdeg
    aggregation.  Only the scalar |V| touches the driver.  That loop
    runs eagerly (the result is a materialized localCheckpoint) with
    lineage cut every 5 iterations.  Both paths count duplicate edges
    and self-loops in ``outdeg``, drop an edge with a NULL source, lose
    the mass sent to a NULL destination, and give a NULL node (one
    node, counted in N) only the teleport term.
    """
    return _pagerank(
        edges, n_iter, damping, src_col, dst_col,
        "pagerank: empty edge set (no nodes)",
    )


def _pagerank(
    edges: DataFrame,
    n_iter: int,
    damping: float,
    src_col: str,
    dst_col: str,
    empty_msg: str,
    restart: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """The power iteration behind both PageRank operators.  ``restart``
    maps a node column to its restart probability p(v) (None: uniform
    1/|V|); it sets the initial ranks and the teleport term of every
    step."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    node = _nodes(e).schema["node"]
    cols = [F.col("src").cast(node.dataType), F.col("dst").cast(node.dataType)]
    if restart is not None:
        cols += [restart(F.col("src")).alias("p_src"), restart(F.col("dst")).alias("p_dst")]
    held = _Lineage()
    try:
        e, t = _collect_edges(e, "graph.pagerank", held, cols)
        if t is not None:
            return _pagerank_local(e.sparkSession, t, node, n_iter, damping,
                                   empty_msg, restart is not None)
        return _pagerank_rounds(e, n_iter, damping, empty_msg, restart)
    finally:
        held.release()


def _nodes(e: DataFrame) -> DataFrame:
    """``(node)``: every distinct endpoint of the ``(src, dst)`` edges."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _pagerank_local(
    spark: SparkSession,
    t: pa.Table,
    node: StructField,
    n_iter: int,
    damping: float,
    empty_msg: str,
    personalized: bool,
) -> DataFrame:
    """The power iteration in numpy over collected ``(src, dst[, p_src,
    p_dst])`` rows into a ``(node, rank)`` frame whose ``node`` field is
    ``node``; the same arithmetic as :func:`_pagerank_step`, so ranks
    agree with the distributed loop up to the summation order."""
    m = t.num_rows
    if m == 0:
        raise ValueError(empty_msg)
    enc = pa.concat_arrays(
        [t.column("src").combine_chunks(), t.column("dst").combine_chunks()]
    ).dictionary_encode()
    # node ids: the distinct non-NULL values, then NULL (one node) if any
    nodes, null = enc.dictionary, len(enc.dictionary)
    if enc.indices.null_count:
        nodes = pa.concat_arrays([nodes, pa.nulls(1, nodes.type)])
    n = len(nodes)
    idx = pc.fill_null(enc.indices, null).to_numpy().astype(np.int64)
    s_all, d_all = idx[:m], idx[m:]
    has_src = s_all != null
    outdeg = np.bincount(s_all[has_src], minlength=n).astype(np.float64)
    keep = has_src & (d_all != null)
    s, d = s_all[keep], d_all[keep]
    if personalized:
        p = np.zeros(n)
        p[s_all] = t.column("p_src").to_numpy()
        p[d_all] = t.column("p_dst").to_numpy()
        teleport, rank = (1.0 - damping) * p, p
    else:
        teleport, rank = (1.0 - damping) / n, np.full(n, 1.0 / n)
    for _ in range(n_iter):
        rank = teleport + damping * np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
    schema = StructType([node, StructField("rank", DoubleType(), False)])
    return spark.createDataFrame(pa.table({"node": nodes, "rank": rank}), schema)


def _pagerank_rounds(
    e: DataFrame,
    n_iter: int,
    damping: float,
    empty_msg: str,
    restart: Callable[[Column], Column] | None,
) -> DataFrame:
    """The distributed power iteration over the ``(src, dst)`` edges
    ``e``, a cut."""
    nodes = _nodes(e)
    if restart is not None:
        nodes = nodes.select("node", restart(F.col("node")).alias("__p"))
    setup = _Lineage()
    nodes = setup.cut(nodes, eager=True)
    # (src, dst, outdeg) — the per-iteration join operand, persisted for
    # the run and released before returning (connected_components
    # discipline: cached once, no per-iteration re-aggregation).
    ew = e.join(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src"
    ).persist()
    try:
        n = nodes.count()  # scalar |V| only — never the rows
        if n == 0:
            raise ValueError(empty_msg)
        if restart is None:
            teleport, init = F.lit((1.0 - damping) / n), F.lit(1.0 / n)
        else:
            teleport, init = F.lit(1.0 - damping) * F.col("__p"), F.col("__p")
        return _rounds(
            nodes.select("node", init.alias("rank")),
            n_iter,
            5,
            lambda ranks: _pagerank_step(nodes, ew, ranks, teleport, damping),
        )
    finally:
        ew.unpersist()
        setup.release()


def _pagerank_step(
    nodes: DataFrame,
    ew: DataFrame,
    ranks: DataFrame,
    teleport: Column | float,
    damping: float,
) -> DataFrame:
    """One power-iteration update (separate so plan-shape tests can pin
    the per-iteration plan: equi-join + partial-aggregated sum, never a
    nested loop)."""
    contribs = (
        ew.join(ranks, ew["src"] == ranks["node"])
        .select("dst", (F.col("rank") / F.col("outdeg")).alias("__c"))
        .groupBy("dst")
        .agg(F.sum("__c").alias("__s"))
    )
    return nodes.join(contribs, nodes["node"] == contribs["dst"], "left").select(
        "node",
        (teleport + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0))).alias(
            "rank"
        ),
    )


def _rounds(
    state: DataFrame,
    n_rounds: int,
    every: int,
    step: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Apply ``step`` ``n_rounds`` times, cutting lineage eagerly every
    ``every`` rounds and after the last one; each cut releases the cut
    it supersedes.  Returns the last cut, which the caller's result
    reads."""
    held = _Lineage()
    for i in range(n_rounds):
        state = step(state)
        if (i + 1) % every == 0 or i + 1 == n_rounds:
            state = held.cut(state, eager=True)
            held.release_superseded()
    return state


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """``(a, b)`` with ``a < b``: each undirected edge once, self-loops
    and rows with a NULL end dropped."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _symmetric_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """``(a, b)``: each undirected edge in both directions, self-loops
    dropped, deduplicated."""
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    return (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """``(n, d)``: the degree of every node of a canonical edge list."""
    return (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _oriented_pairs(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """The degree-ordered adjacency core of :func:`triangles` and
    :func:`clustering_coefficients`: ``(deg, pairs)`` where ``deg`` is
    the ``(n, d)`` degree table and ``pairs`` holds, per oriented edge
    u→v, both out-neighbor lists ``(u, v, nu, nv)``.

    The canonical edges, the degree table, the oriented edges and the
    adjacency are LAZILY localCheckpointed: SQL plans are trees, so each
    self-reference would otherwise duplicate its whole upstream once per
    branch (deg feeds both orientation sides, adj both intersection
    sides).  All four are O(m) rows of ids, and laziness keeps operator
    construction job-free."""
    e = _canonical_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    deg = _degrees(e).localCheckpoint(eager=False)
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ka = F.struct(F.col("da"), F.col("a"))   # (degree, id): a total order
    kb = F.struct(F.col("db"), F.col("b"))
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    adj = o.groupBy("u").agg(F.collect_list("v").alias("nbrs")).localCheckpoint(
        eager=False
    )
    au = adj.select("u", F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    # Inner joins are exact: u always has an out-list (the edge itself
    # is in it); an edge whose v has NO out-list closes zero triangles.
    return deg, o.join(au, "u").join(av, "v")


def triangles(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle count of the undirected simple graph given by
    ``edges`` (direction, self-loops, and duplicate edges are
    normalized away) — the clustering/cohesion metric for co-occurrence
    and link graphs.

    Returns one row: ``(n_triangles)``.

    The naive closure join counts each triangle six ways and explodes
    on hubs.  This is the DEGREE-ORDERED adjacency-intersection
    formulation: totally order nodes by (degree, id) — compared
    directly as a struct, NO global rank sort — orient every edge
    low→high, build each node's oriented out-neighbor list, and count
    per oriented edge (u,v) the intersection |N⁺(u) ∩ N⁺(v)| (JVM
    ``array_intersect``, hash-based).  Each triangle is counted exactly
    once at its lowest-ordered vertex pair.  Orientation bounds every
    out-neighbor list at O(√m) REGARDLESS of hub degree (the killer at
    100 TB link graphs), so adjacency rows stay small and no task can
    be dominated by one node.  Total intersection work is the same
    Σ d⁺² the classic wedge enumeration does, but entirely inside
    whole-stage codegen with NO wedge materialization: the earlier
    wedge/closure-join version shuffled+sorted the full wedge set (41 M
    rows at the benchmark's 1.2 M-edge co-purchase graph) and benched
    2× slower for identical counts.

    The normalized edge list, the degree table, the oriented edge list
    and the adjacency are LAZILY localCheckpointed (see
    ``_oriented_pairs``); their blocks go with the returned frame's
    lineage, and laziness keeps operator construction job-free.
    """
    _, pairs = _oriented_pairs(edges, src_col, dst_col)
    per_edge = pairs.select(F.size(F.array_intersect("nu", "nv")).alias("c"))
    return per_edge.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: Sequence,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PERSONALIZED PageRank (Page et al. 1999 §6; the random surfer
    restarts at the ``seeds`` instead of uniformly):

        ``r_{t+1}(v) = (1-d)·p(v) + d · Σ_{u→v} r_t(u)/outdeg(u)``

    with ``p(v) = 1/|seeds|`` on the seed set, else 0, starting from
    ``p`` — the topic-sensitive relevance / similar-node primitive
    (what ranks "nodes related to THESE" rather than globally central
    ones).  Returns ``(node, rank)``.

    Scale shape: identical to :func:`pagerank` — within
    ``_DRIVER_MAX_EDGES`` edges a numpy power iteration on the driver
    (a local relation, recomputable, no localCheckpoint); past it, per
    iteration ONE equi-join of the persisted (src, dst, outdeg) edge
    operand with the |V|-row rank vector plus one partial-aggregated
    sum, the result a materialized localCheckpoint.  ``p(v)`` is
    Spark's ``isin(seeds)`` on both paths (the driver path collects it
    beside each edge): duplicate seeds count in ``|seeds|``, seeds
    absent from the graph take their share of the restart mass with
    them, and a NULL node restarts with 0.  The seed set is
    takedown-sized and rides the plan as an ``isin`` literal.  Like the
    uniform variant (and its DuckDB twin), dangling-node mass is
    dropped, not redistributed.
    """
    seeds = list(seeds)
    if not seeds:
        raise ValueError("seeds must be non-empty")

    def p(node: Column) -> Column:
        return F.when(node.isin(seeds), F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))

    return _pagerank(
        edges, n_iter, damping, src_col, dst_col,
        "personalized_pagerank: empty edge set", restart=p,
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the LPA GraphX ships): every node starts as its own
    label; each round, a node adopts the most frequent label among its
    neighbors (tie → smallest label, making the algorithm
    deterministic and engine-replayable — the usual random tie-break
    is what makes vanilla LPA irreproducible).  Communities emerge as
    label plateaus; synchronous LPA can oscillate on bipartite
    structures, which a fixed ``n_iter`` bounds by construction.

    Input edges are treated as UNDIRECTED (symmetrized, self-loops
    dropped).  Returns ``(node, label)`` after ``n_iter`` rounds.

    Scale shape (Pregel-style, same family as :func:`pagerank`): per
    round exactly ONE shuffle join of the symmetrized edge list with
    the |V|-row label vector + one (node, label) count + one per-node
    top-1 window (WindowGroupLimit — never a global sort).  The edge
    list is persisted across rounds; hub skew shows up in the count
    aggregation, which map-side combines.  Lineage is cut every 5
    rounds (pagerank discipline); the result is a materialized
    localCheckpoint, made before the edge cache is released."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    und = _symmetric_edges(edges, src_col, dst_col).persist()
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr = und.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        return (
            cnt.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )

    try:
        return _rounds(labels, n_iter, 5, step)
    finally:
        und.unpersist()


def link_prediction(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int = 1000,
    top_k: int = 100,
) -> DataFrame:
    """Neighborhood link prediction over the undirected simple graph:
    for node pairs at distance 2 (sharing at least one neighbor but not
    yet adjacent), the three classic scores — common-neighbor count,
    Jaccard ``cn/(deg_u + deg_v − cn)``, and Adamic-Adar
    ``Σ_{w∈CN} 1/ln(deg_w)`` (Liben-Nowell & Kleinberg 2003; Adamic &
    Adar 2003) — the "users/pages that SHOULD be connected" miner
    behind recommendation backfills and knowledge-graph completion.

    Returns the ``top_k`` candidate pairs by ``(cn desc, u, v)`` (a
    total order, so runs are engine-replayable): ``(u, v, cn, jaccard,
    adamic_adar)``.

    Scale shape: wedge enumeration through CENTER nodes — per center
    one self-equi-join row per neighbor pair — is quadratic in center
    degree, the classic hub explosion.  ``max_degree`` drops centers
    above the cap BEFORE the join (standard practice: a 10M-degree hub
    asserts almost nothing about any specific pair, and Adamic-Adar's
    1/ln(deg) says exactly that), bounding per-center work at
    max_degree².  One wedge join + one (u,v) aggregation + one
    anti-join against the edge set + two degree joins; the final top-k
    is a distributed TakeOrdered, never a global sort.  Wedge centers
    always have degree ≥ 2, so ln(deg_w) never divides by zero."""
    if max_degree < 2:
        raise ValueError(f"max_degree must be >= 2, got {max_degree}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    e = _canonical_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    nbrs = e.select(F.col("a").alias("n"), F.col("b").alias("m")).unionAll(
        e.select(F.col("b").alias("n"), F.col("a").alias("m"))
    )
    # deg feeds the center filter and both final support lookups (3
    # consumers), centered feeds both wedge-join sides — lazy cuts so
    # each aggregates once instead of per consumer
    deg = nbrs.groupBy("n").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(
        eager=False
    )
    centered = (
        nbrs.join(deg, "n")
        .where(F.col("d") <= max_degree)
        .localCheckpoint(eager=False)
    )
    # The wedge join GENERATES ~Σ d(d−1)/2 rows from a far smaller
    # input, so AQE — which sizes post-shuffle partitions by the
    # join's INPUT bytes — funnels the explosion through a handful of
    # tasks (measured 3.9 s → 1.4 s at sf0.1 just from fixing this).
    # The exact wedge count is one tiny aggregate over the
    # checkpointed degree table; the explicit keyed repartition sized
    # from it (~250k wedges per task, floored at the default
    # parallelism) is scale-adaptive, not a local[32] constant.
    wedge_rows = (
        deg.where(F.col("d") <= max_degree)
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("wr"))
        .first()["wr"]
        or 0
    )
    sc = edges.sparkSession.sparkContext
    n_parts = int(
        min(max(int(wedge_rows) // 250_000 + 1, sc.defaultParallelism), 4096)
    )
    # 1/ln(deg_w) is a function of the CENTER alone: staged on the
    # wedge join's left input (|centered| rows) instead of re-derived
    # per generated wedge row (Σ d² rows).  Degree-1 centers can never
    # produce a u < v pair, so dropping them up front keeps ln(1) = 0
    # out of the staged divisor (the old per-wedge form never touched
    # those rows) AND shrinks both join inputs — output-identical.
    wedgeable = centered.where(F.col("d") >= 2)
    left = wedgeable.select(
        F.col("n").alias("w"),
        F.col("m").alias("u"),
        (F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("__ilog"),
    ).repartition(n_parts, "w")
    right = wedgeable.select(F.col("n").alias("w"), F.col("m").alias("v")).repartition(
        n_parts, "w"
    )
    cand = (
        left.join(right, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.col("__ilog")).alias("__aa"),
        )
        # barrier: without it the optimizer pushes the LeftAnti edge
        # join BELOW the aggregation (legal — the anti key is the
        # grouping key), making every GENERATED wedge row probe the
        # edge broadcast instead of the ~|pairs| aggregated rows
        # (measured ~2 s of pure probe time at sf0.1); the aggregated
        # pair table is candidate-sized, so the cut is cheap at any SF
        .localCheckpoint(eager=False)
        .join(
            e.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "left_anti",
        )
        .join(deg.select(F.col("n").alias("u"), F.col("d").alias("__du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("__dv")), "v")
    )
    jac = F.col("cn") / (
        F.col("__du") + F.col("__dv") - F.col("cn")
    ).cast("double")
    return (
        cand.select(
            "u",
            "v",
            "cn",
            F.round(jac, 6).alias("jaccard"),
            F.round("__aa", 6).alias("adamic_adar"),
        )
        .orderBy(F.col("cn").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(top_k)
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999): authority(v) =
    Σ_{u→v} hub(u), hub(u) = Σ_{u→v} authority(v), alternating and
    SUM-normalized each half-step (the L1 choice keeps the update
    pure join+aggregate arithmetic both engines replay exactly;
    eigenvector direction is unaffected by the norm used).  The
    link-graph complement of PageRank: good hubs POINT AT good
    content — crawl seed-list curation wants both.

    Returns ``(node, hub, authority)`` rounded to 6 for every node of
    the (deduplicated, self-loop-free) directed graph; nodes with no
    out-edges have hub 0, no in-edges authority 0.

    Scale shape: per iteration TWO edge⋈score joins + aggregations
    (the Pregel shape shared with pagerank) + one 1-row sum broadcast
    each — no collect, no global sort; the edge list is lazily
    localCheckpointed once so iterations don't duplicate upstream
    lineage.  Scores stay SPARSE through the iterations (only nodes
    with in-/out-edges carry rows — a missing row contributes exactly
    the 0.0 the dense zero-fill row did, and the normalizing sums are
    unchanged because zero rows add nothing), so the per-half-step
    |V|-row zero-fill joins of the earlier form are gone; the dense
    zero-filled vector is reconstructed ONCE at the end."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    # LAZY cuts (measured: eager was ~1.4 s slower here — hits runs as
    # ONE action whose cost is its sequential shuffle stages, so
    # splitting materialization into extra jobs only adds latency;
    # the lazy checkpoint still stops the 12+ plan branches from
    # duplicating the upstream edge derivation).
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = None  # sparse (node, h); None = the all-ones initial vector
    auth = None
    for _ in range(n_iter):
        if hub is None:
            # first half-step with hub ≡ 1.0: the join degenerates to
            # an in-degree count (sum of 1.0 per in-edge)
            ain = (
                e.groupBy(F.col("d").alias("node"))
                .agg(F.count(F.lit(1)).cast("double").alias("a_raw"))
            )
        else:
            ain = (
                e.join(hub.select(F.col("node").alias("s"), "h"), "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum("h").alias("a_raw"))
            )
        # Per-half-step lazy lineage cut: ain/hout each feed BOTH the
        # normalizing 1-row sum and the attach projection, and the next
        # half-step embeds the result again — without the cut the plan
        # tree QUADRUPLES per iteration (566 Exchange nodes at n_iter=3
        # before; linear ~30 after), leaving correctness to runtime
        # exchange reuse and paying the planner cost of the 4^n tree.
        ain = ain.localCheckpoint(eager=False)
        asum = ain.agg(F.sum("a_raw").alias("__t"))
        auth = (
            ain.crossJoin(F.broadcast(asum))
            .select("node", (F.col("a_raw") / F.col("__t")).alias("a"))
        )
        hout = (
            e.join(auth.select(F.col("node").alias("d"), "a"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("a").alias("h_raw"))
        )
        hout = hout.localCheckpoint(eager=False)
        hsum = hout.agg(F.sum("h_raw").alias("__t"))
        hub = (
            hout.crossJoin(F.broadcast(hsum))
            .select("node", (F.col("h_raw") / F.col("__t")).alias("h"))
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("h", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("a", F.lit(0.0)), 6).alias("authority"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    n_rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core decomposition membership (Seidman 1983 "Network
    structure and minimum degree"): iteratively peel nodes of degree
    < ``k`` from the UNDIRECTED graph until none remain — the maximal
    subgraph where every node keeps ≥ k surviving neighbors, the
    standard dense-community / spam-farm screen next to
    :func:`triangles`.

    Peeling runs EXACTLY ``n_rounds`` rounds (a converged round is a
    no-op, so the result equals the fixpoint whenever convergence
    happens within the budget — rounds-to-converge is bounded by the
    longest peel cascade, typically ≪ 10 on social-shaped graphs;
    raise ``n_rounds`` for pathological chains).  The fixed count is
    what makes the output engine-replayable: the DuckDB oracle unrolls
    the identical rounds as chained CTEs.  Returns surviving ``(node,
    degree)`` — the within-core degree after the final round.

    Scale shape (the Pregel discipline of :func:`pagerank`): the edge
    list is symmetrized + deduped ONCE and persisted; each round is
    one |surviving-nodes|-row degree aggregation + two semi-joins
    trimming the edge frame — all equi-joins on the node key, nothing
    driver-side, lineage cut with an eager localCheckpoint every 3
    rounds and after the last (the iterative-trim frames shrink
    monotonically, so late rounds are cheap)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    setup = _Lineage()
    und = setup.cut(_symmetric_edges(edges, src_col, dst_col), eager=True)

    def peel(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("a")
        return cur.join(keep, "a").join(
            keep.select(F.col("a").alias("b")), "b"
        ).select("a", "b")

    try:
        cur = _rounds(und, n_rounds, 3, peel)
    finally:
        setup.release()
    return (
        cur.groupBy("a")
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= k)
        .select(F.col("a").alias("node"), "degree")
    )


def degree_powerlaw(
    edges: DataFrame,
    dmin: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Power-law exponent of the degree distribution — the
    scale-free-ness diagnostic (Clauset, Shalizi & Newman 2009, SIAM
    Rev. §3.1): the discrete MLE with the −½ continuity correction,
    ``α̂ = 1 + n_tail / Σ_{d≥dmin} ln(d/(dmin − ½))``, standard error
    ``σ = (α̂−1)/√n_tail``.  Run it before trusting hub-sensitive
    operators (:func:`pagerank` skew, :func:`link_prediction`'s wedge
    caps): α near 2 means extreme hubs, α > 3 means the tail is tame.

    ``dmin`` is a PARAMETER (the paper fits it by KS minimization;
    that outer loop is a driver-side sweep over this operator —
    deliberately not fused in, so each evaluation stays one
    aggregation).  Undirected degrees: edges are symmetrized + deduped
    like :func:`kcore`.  Returns ONE row ``(n_nodes, n_tail, dmin,
    alpha, sigma)`` rounded to 6.

    Scale shape: one edge symmetrize + distinct, one (node) degree
    aggregation, one filtered scalar aggregation — nothing survives
    past the degree groupBy."""
    if dmin < 1:
        raise ValueError(f"dmin must be >= 1, got {dmin}")
    und = _symmetric_edges(edges, src_col, dst_col)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("d") >= dmin).cast("long")).alias("n_tail"),
        F.sum(
            F.when(
                F.col("d") >= dmin,
                F.log(F.col("d").cast("double") / F.lit(dmin - 0.5)),
            ).otherwise(F.lit(0.0))
        ).alias("__ls"),
    )
    alpha = F.when(
        (F.col("n_tail") > 0) & (F.col("__ls") > 0),
        F.lit(1.0) + F.col("n_tail").cast("double") / F.col("__ls"),
    )
    staged = agg.withColumn("__alpha", alpha)
    sigma = F.when(
        F.col("__alpha").isNotNull(),
        (F.col("__alpha") - 1) / F.sqrt(F.col("n_tail").cast("double")),
    )
    return staged.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_tail").cast("long").alias("n_tail"),
        F.lit(dmin).cast("long").alias("dmin"),
        F.round("__alpha", 6).alias("alpha"),
        F.round(sigma, 6).alias("sigma"),
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity ``Q = Σ_c [e_c/m − (deg_c/2m)²]`` of a given
    partition (Newman & Girvan 2004) — the quality score that turns
    :func:`label_propagation`'s output into a number you can compare
    across rounds, resolutions, or algorithms (Q ≈ 0: no better than
    random wiring; ≳ 0.3: real community structure).

    ``communities`` is any ``(node, label)`` frame covering the
    graph's nodes (LPA output, a planted assignment, an external
    clustering).  Edges are canonicalized undirected (``a < b``,
    self-loops dropped, deduped) so each edge counts once in both
    ``m`` and ``e_c``.  Returns ONE row ``(n_communities, m_edges,
    modularity)`` rounded to 6.

    Scale shape: one canonical-edge distinct, two node-keyed label
    joins (shuffle on the node key; broadcast the label frame when
    |V| is small), one per-label aggregation each for intra-edge
    counts and degree mass, then scalar arithmetic over the
    |labels|-row frame crossed with the 1-row total."""
    e = _canonical_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    lab = communities.select(
        F.col(node_col).alias("n"), F.col(label_col).alias("l")
    )
    la = lab.select(F.col("n").alias("a"), F.col("l").alias("la"))
    lb = lab.select(F.col("n").alias("b"), F.col("l").alias("lb"))
    ej = e.join(la, "a").join(lb, "b")
    intra = (
        ej.where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("l"))
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    degc = (
        _degrees(e).join(lab, "n").groupBy("l").agg(F.sum("d").alias("degc"))
    )
    tot = e.agg(F.count(F.lit(1)).alias("m"))
    per = degc.join(intra, "l", "left").select(
        "l",
        F.coalesce(F.col("ec"), F.lit(0)).alias("ec"),
        "degc",
    )
    m = F.col("m").cast("double")
    term = F.col("ec") / m - (
        F.col("degc") / (F.lit(2.0) * m)
    ) * (F.col("degc") / (F.lit(2.0) * m))
    return (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.max("m").alias("m_edges"),
            F.sum(term).alias("__q"),
        )
        .select(
            F.col("n_communities").cast("long").alias("n_communities"),
            F.col("m_edges").cast("long").alias("m_edges"),
            F.round("__q", 6).alias("modularity"),
        )
    )


def assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks"): the Pearson correlation of the degrees at
    either end of an edge, over the UNDIRECTED simple graph — positive
    means hubs link to hubs (social shape), negative means hubs link
    to leaves (web/biology shape).  It is the one-number answer to
    "will hub-sensitive operators (:func:`pagerank` skew,
    :func:`link_prediction` wedge caps) see hub-hub chains or
    hub-leaf stars?".

    Each undirected edge contributes BOTH ordered degree pairs
    (d_u, d_v) and (d_v, d_u) — the standard symmetrization that
    makes the correlation well-defined without choosing an edge
    direction.  Returns ONE row ``(m_edges, assortativity)`` rounded
    to 6; the coefficient is NULL when every degree is equal (zero
    variance — e.g. a perfect cycle), which both engines agree on.

    Scale shape: one canonical-edge distinct, one degree aggregation,
    two node-keyed degree joins (shuffle on the node key), one scalar
    ``corr`` aggregation.  Nothing survives past the final 1-row
    frame; correlation is scale-invariant so the sample-vs-population
    estimator choice cancels in the ratio.
    """
    e = _canonical_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    deg = _degrees(e)
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ends = e.join(da, "a").join(db, "b")
    pairs = ends.select(
        F.col("da").cast("double").alias("dx"),
        F.col("db").cast("double").alias("dy"),
    ).unionAll(
        ends.select(
            F.col("db").cast("double").alias("dx"),
            F.col("da").cast("double").alias("dy"),
        )
    )
    # corr spelled as covar/(sx*sy) with a zero-variance guard: ANSI
    # Spark raises DIVIDE_BY_ZERO inside corr() on a regular graph
    # (every degree equal), where the convention — and DuckDB — is NULL.
    denom = F.stddev_pop("dx") * F.stddev_pop("dy")
    return pairs.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("m_edges"),
        F.round(
            F.covar_pop("dx", "dy") / F.when(denom > 0, denom), 6
        ).alias("assortativity"),
    )


def clustering_coefficients(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global transitivity AND average local clustering coefficient
    of the undirected simple graph (Watts & Strogatz 1998 for the
    local average; Newman 2003 §III.B for the 3·triangles/wedges
    global form) — the two standard "how clique-ish is this graph"
    numbers, which deliberately disagree on hub-heavy graphs (the
    global form is wedge-weighted toward hubs, the local average is
    node-weighted toward leaves).

    Returns ONE row ``(n_nodes, n_wedges, n_triangles, transitivity,
    avg_local)`` rounded to 6: ``transitivity = 3T/W`` with
    ``W = Σ_v d_v(d_v−1)/2``; ``avg_local`` averages
    ``t_v / (d_v(d_v−1)/2)`` over nodes with degree ≥ 2 (the usual
    convention — degree-0/1 nodes have no defined coefficient and are
    excluded, not zero-counted).  Both are NULL on a wedge-free graph.

    Scale shape: the :func:`triangles` degree-ordered oriented
    adjacency-intersection core (out-lists O(√m)-bounded regardless
    of hub degree), with the intersection EXPLODED into one row per
    triangle so corner attribution is exact — intermediate volume is
    O(#triangles), the same asymptotic work the counting form already
    does, never the 6× wedge materialization.  Then one union of the
    three corner projections, one per-node count, one node-keyed join
    back to degrees, one scalar aggregation."""
    deg, pairs = _oriented_pairs(edges, src_col, dst_col)
    # lazy cut: tri feeds the three corner projections — without it each
    # consumer re-derives the full triangle enumeration
    tri = pairs.select(
        "u", "v", F.explode(F.array_intersect("nu", "nv")).alias("w")
    ).localCheckpoint(eager=False)
    corners = (
        tri.select(F.col("u").alias("n"))
        .unionAll(tri.select(F.col("v").alias("n")))
        .unionAll(tri.select(F.col("w").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    dd = F.col("d").cast("double")
    wedges_v = dd * (dd - 1) / 2.0
    tv = F.coalesce(F.col("t"), F.lit(0)).cast("double")
    per = deg.join(corners, "n", "left")
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(wedges_v).cast("long").alias("__w"),
        (F.sum(tv) / 3).cast("long").alias("n_triangles"),
        F.round(
            F.sum(tv)
            / F.when(F.sum(wedges_v) > 0, F.sum(wedges_v)),
            6,
        ).alias("transitivity"),
        F.round(
            F.avg(F.when(F.col("d") >= 2, tv / wedges_v)), 6
        ).alias("avg_local"),
    ).select(
        "n_nodes",
        F.col("__w").alias("n_wedges"),
        "n_triangles",
        "transitivity",
        "avg_local",
    )


def reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Reciprocity of a DIRECTED graph (Newman 2003 §III.C): the
    fraction of directed edges whose reverse edge also exists —
    mutual-follow rate in follow graphs, backlink rate in link
    graphs, the quick "is this graph effectively undirected?" probe
    that decides whether the undirected operators
    (:func:`triangles`, :func:`kcore`) even apply.

    Self-loops are dropped and duplicate directed edges deduped
    before counting.  Returns ONE row ``(m_directed, m_reciprocated,
    reciprocity)`` rounded to 6 — ``m_reciprocated`` counts directed
    edges (a reciprocal PAIR contributes 2).

    Scale shape: one distinct + ONE self-equi-join on the reversed
    key pair (a left join carrying a marker — never a cartesian
    product) + one scalar aggregation."""
    d = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rev = d.select(
        F.col("t").alias("s"), F.col("s").alias("t"), F.lit(1).alias("__r")
    )
    return (
        d.join(rev, ["s", "t"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m_directed"),
            F.sum(F.coalesce(F.col("__r"), F.lit(0)))
            .cast("long")
            .alias("m_reciprocated"),
            F.round(
                F.sum(F.coalesce(F.col("__r"), F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("reciprocity"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: Sequence,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Breadth-first hop distances from a seed set over the UNDIRECTED
    simple graph, bounded at ``max_hops`` — the neighborhood-expansion
    primitive behind takedown blast-radius audits ("everything within
    3 links of these domains"), crawl frontier scoping, and
    contamination spread checks.  Returns ``(node, dist)`` for every
    node REACHED within the budget (unreached nodes are absent, not
    ∞); seeds themselves are distance 0 even when isolated.

    Scale shape (the Pregel discipline of :func:`pagerank`): the
    symmetrized edge list is eagerly localCheckpointed once; each
    round is ONE equi-join of the current frontier with the edge
    list + one anti-join against the reached set — the frontier
    SHRINKS to new nodes only, so round r costs O(edges touching the
    r-th shell), never O(|V|·r).  Each frontier is an eager cut; the
    reached set is cut every 3 rounds and after the last, and each
    reached cut releases the frontiers it absorbed (the next frontier
    is read back from it).  The result is a materialized
    localCheckpoint.  The seed set is takedown-sized and rides the
    plan as literals (the personalized_pagerank contract).  The fixed
    ``max_hops`` is what makes the output engine-replayable: the
    DuckDB oracle unrolls the identical shells as chained CTEs."""
    seeds = list(seeds)
    if not seeds:
        raise ValueError("seeds must be non-empty")
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    setup, held = _Lineage(), _Lineage()
    und = setup.cut(_symmetric_edges(edges, src_col, dst_col), eager=True)
    spark = edges.sparkSession
    id_type = edges.schema[src_col].dataType.simpleString()
    frontier = spark.createDataFrame(
        [(s,) for s in seeds], f"node {id_type}"
    ).distinct()
    reached = frontier.select("node", F.lit(0).alias("dist"))
    try:
        for r in range(1, max_hops + 1):
            nbrs = (
                und.join(frontier.withColumnRenamed("node", "a"), "a")
                .select(F.col("b").alias("node"))
                .distinct()
            )
            frontier = held.cut(
                nbrs.join(reached.select("node"), "node", "left_anti"), eager=True
            )
            reached = reached.unionAll(
                frontier.select("node", F.lit(r).alias("dist"))
            )
            if r % 3 == 0 or r == max_hops:
                reached = held.cut(reached, eager=True)
                held.release_superseded()
                frontier = reached.where(F.col("dist") == r).select("node")
    finally:
        setup.release()
    return reached if max_hops else held.cut(reached, eager=True)


def degree_centralization(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Freeman degree centralization of the undirected graph (Freeman
    1978/79, Social Networks): ``C = Σ_i (d_max − d_i) /
    ((n−1)(n−2))`` — 0 for a regular graph (everyone equal), 1 for a
    perfect star (one hub owns every edge).  The single number that
    separates "a few hub domains dominate the link graph" from "links
    spread evenly", complementing the degree Gini with the classic
    sociometric normalization.

    Edges are canonicalized undirected (self-loops dropped,
    duplicates collapsed).  Returns ONE row ``(n_nodes, n_edges,
    max_degree, centralization)`` rounded to 6 — NULL centralization
    when n < 3 (the normalizer vanishes).

    Scale shape: one distinct-edge canonicalization, ONE stub explode
    + degree aggregation (each edge contributes both endpoints in the
    same pass — a unionAll of two selects would lazily re-run the
    distinct per branch), one |nodes|-row rollup; the edge count
    falls out of the handshake identity Σd = 2m, so nothing is
    scanned twice."""
    e = _canonical_edges(edges, src_col, dst_col)
    stubs = e.select(
        F.explode(F.array(F.col("a"), F.col("b"))).alias("node")
    )
    deg = stubs.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    agg = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("d").alias("dmax"),
        F.sum("d").alias("__sd"),
    )
    n = F.col("n").cast("double")
    c = F.when(
        F.col("n") > 2,
        (n * F.col("dmax") - F.col("__sd")) / ((n - 1) * (n - 2)),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_nodes"),
        (F.col("__sd") / 2).cast("long").alias("n_edges"),
        F.col("dmax").cast("long").alias("max_degree"),
        F.round(c, 6).alias("centralization"),
    )
