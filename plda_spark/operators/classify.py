"""Linear quality classifier for corpus curation.

The CCNet/LLaMA-style curation step: train a tiny classifier to separate
a trusted corpus (wiki/books) from raw crawl using cheap per-doc
features (the ``text.quality_score`` signals), then score EVERY document
and keep the high-scoring tail.  At 100 TB the scoring pass dominates,
so it must be a pure JVM expression — and it is: the fitted model folds
back onto raw features, making ``logreg_score`` a sigmoid of a codegen'd
linear combination (SQL-expressible, broadcast-free, shuffle-free).

Fitting is full-batch gradient descent with the same distributed shape
as ``similarity.kmeans_fit``: weights ride the task closure, each
iteration is ONE job emitting a (d+2)-float partial per partition
(gradient, loss, count — an Arrow matmul per batch), and the driver
reduces P tiny rows and steps.  Features are standardized from a
one-pass moment aggregation so the step size is scale-free; the
returned weights are re-expressed in RAW feature units.  Partials are
summed in partition order, so a fit is bit-deterministic for a fixed
partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from plda_spark._exprs import md5_long

__all__ = ["logreg_fit", "logreg_score", "logreg_score_col", "calibration_report", "lift_report", "nb_eval", "roc_auc_report", "decision_stump", "pr_auc_report", "classification_report"]


def logreg_fit(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    iterations: int = 100,
    lr: float = 1.0,
    l2: float = 1e-6,
) -> np.ndarray:
    """Fit binary logistic regression; returns ``(d+1,)`` raw-feature
    weights — ``w[0]`` is the intercept, ``w[1:]`` aligns with
    ``feature_cols``.  ``label_col`` must be numeric 0/1.

    Each of the ``iterations`` epochs is one Spark job over the corpus;
    driver traffic per epoch is P·(d+2) floats.
    """
    import pandas as pd
    from collections.abc import Iterator

    from pyspark import TaskContext

    cols = list(feature_cols)
    d = len(cols)
    if d == 0:
        raise ValueError("need at least one feature column")

    moments = df.agg(
        *[F.avg(F.col(c).cast("double")).alias(f"m{i}") for i, c in enumerate(cols)],
        *[
            F.stddev_pop(F.col(c).cast("double")).alias(f"s{i}")
            for i, c in enumerate(cols)
        ],
    ).collect()[0]
    mean = np.array([float(moments[f"m{i}"]) for i in range(d)])
    std = np.array([float(moments[f"s{i}"]) or 0.0 for i in range(d)])
    std = np.where(std > 0, std, 1.0)  # constant feature → contributes 0

    src = df.select(
        *[F.col(c).cast("double").alias(f"x{i}") for i, c in enumerate(cols)],
        F.col(label_col).cast("double").alias("y"),
    )
    w = np.zeros(d + 1)  # [intercept, w_std...] in STANDARDIZED space

    for _ in range(iterations):
        cw = w  # rebind: capture THIS epoch's value in the closure

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pid = TaskContext.get().partitionId()
            g = np.zeros(d + 1)
            n = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                X = (pdf[[f"x{i}" for i in range(d)]].to_numpy() - mean) / std
                y = pdf["y"].to_numpy()
                p = 1.0 / (1.0 + np.exp(-(X @ cw[1:] + cw[0])))
                err = p - y
                g[0] += err.sum()
                g[1:] += X.T @ err
                n += len(pdf)
            if n:
                yield pd.DataFrame({"pid": [pid], "grad": [g], "n": [n]})

        pdf = (
            src.mapInPandas(partials, schema="pid int, grad array<double>, n long")
            .toPandas()
            .sort_values("pid")
        )
        g = np.zeros(d + 1)
        n = 0
        for row_g, row_n in zip(pdf["grad"], pdf["n"]):
            g += np.asarray(row_g)
            n += int(row_n)
        if n == 0:
            raise ValueError("empty training set")
        reg = np.concatenate([[0.0], l2 * cw[1:]])  # don't penalize intercept
        w = cw - lr * (g / n + reg)

    # Fold standardization back: score(raw x) = b_std + Σ w_i (x_i−μ_i)/σ_i
    out = np.empty(d + 1)
    out[1:] = w[1:] / std
    out[0] = w[0] - float((w[1:] * mean / std).sum())
    return out


def logreg_score_col(weights: np.ndarray, feature_cols: Sequence[str]) -> Column:
    """The scoring expression alone: ``sigmoid(w·x + b)`` as a JVM column
    (rounded 1e-6 for oracle reproducibility)."""
    z: Column = F.lit(float(weights[0]))
    for wi, c in zip(weights[1:], feature_cols):
        z = z + F.lit(float(wi)) * F.col(c).cast("double")
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def logreg_score(
    df: DataFrame,
    weights: np.ndarray,
    feature_cols: Sequence[str],
    out_col: str = "score",
) -> DataFrame:
    """Append the classifier score to every row — a pure per-row
    projection (no shuffle, no Python), safe at any corpus size."""
    return df.withColumn(out_col, logreg_score_col(weights, feature_cols))


def calibration_report(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error inputs for a
    probabilistic classifier (Guo et al. 2017's ECE formulation): bin
    predictions by score into ``n_bins`` equal-width bins over [0, 1],
    and per bin report count, mean confidence, empirical accuracy, and
    the |accuracy − confidence| gap.  ``Σ (n_b/n)·gap_b`` over the
    output IS the ECE — emitted per bin so the report doubles as the
    reliability-diagram table.

    Returns ``(bin, n, confidence, accuracy, gap, weight)`` rounded to
    6; empty bins are absent (their ECE term is zero).  Scale shape:
    ONE map-side-combined aggregation keyed by the bin index + one
    broadcast 1-row total — nothing else touches the data."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("int")
    per = scored.where((s >= 0) & (s <= 1)).groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(s).alias("conf"),
        F.avg(y).alias("acc"),
    )
    tot = per.agg(F.sum("n").alias("n_tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        F.round("conf", 6).alias("confidence"),
        F.round("acc", 6).alias("accuracy"),
        F.round(F.abs(F.col("acc") - F.col("conf")), 6).alias("gap"),
        F.round(F.col("n") / F.col("n_tot"), 6).alias("weight"),
    )


def lift_report(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Decile lift / cumulative-gain table for a ranking score — "how
    much better than random is selecting the top k%?", the standard
    audit before using a quality classifier as a selection policy.

    Rows are scored into ``n_buckets`` ntile ranks (1 = highest score;
    ties broken by ``tie_cols``), then
    per bucket: count, positives, rate, lift = rate / base-rate, and
    the cumulative-gain fraction of all positives captured through
    that bucket.  Returns ``(bucket, n, n_pos, rate, lift,
    cum_gain)`` rounded to 6.

    Scale shape: one ntile window over the score order (the inherent
    global rank of a gain curve — use the quantile-cut variant of RFM
    scoring upstream if a full sort is unaffordable) + one bucket
    aggregation + |buckets|-row window arithmetic."""
    from pyspark.sql import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    # ntile assigns tied scores by ROW ORDER — pass tie_cols (e.g. the
    # id) to make the bucketing a deterministic total order that an
    # external replayer lands on exactly
    order = [s.desc()] + [F.col(c).asc() for c in tie_cols]
    ranked = scored.withColumn(
        "__b", F.ntile(n_buckets).over(Window.orderBy(*order))
    )
    per = ranked.groupBy(F.col("__b").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(y).alias("n_pos")
    )
    tot = per.agg(
        F.sum("n").alias("n_tot"), F.sum("n_pos").alias("pos_tot")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    # cum sum computed BEFORE the rounding select — a round(...).alias
    # ("n_pos") in the same select would lateral-alias-capture the
    # window's n_pos reference (the ks_test lesson)
    staged = per.crossJoin(F.broadcast(tot)).withColumn(
        "__cum", F.sum("n_pos").over(w)
    )
    return staged.select(
        "bucket",
        "n",
        F.round("n_pos", 6).alias("n_pos"),
        F.round(F.col("n_pos") / F.col("n"), 6).alias("rate"),
        F.round(
            (F.col("n_pos") / F.col("n"))
            / (F.col("pos_tot") / F.col("n_tot")),
            6,
        ).alias("lift"),
        F.round(F.col("__cum") / F.col("pos_tot"), 6).alias("cum_gain"),
    )


def nb_eval(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Multinomial Naive Bayes train/score round-trip (McCallum &
    Nigam 1998) — the classic bag-of-words text classifier as a pure
    DataFrame pipeline, evaluated honestly on a held-out half:

    - split: deterministic md5 hash of ``(id, seed)`` — even → train,
      odd → test (the same engine-replayable split discipline as
      ``leakage_safe_split``);
    - train: Laplace-smoothed token log-likelihoods
      ``ln((c_{t,l}+1)/(N_l+V))`` over the engine-wide tokenizer
      (corpus.TOKEN_RE), plus log priors from training doc counts;
    - score: per test doc, ``prior_l + Σ_tokens cnt·logp(t|l)`` —
      tokens outside the training vocab are DROPPED (standard NB
      practice), a doc with no in-vocab tokens falls back to the
      prior argmax;
    - predict: scores ROUNDED to 6 before the argmax in BOTH engines
      (grouped double sums are addition-order-dependent; rounding
      makes the argmax engine-stable), ties broken by label asc.

    Returns the confusion matrix: ``(actual, predicted, n_docs)``.

    Scale shape: tokenize/count is the standard explode + two keyed
    aggregations; the smoothed likelihood table is DENSE over
    (train vocab × |labels|) — |V|·|L| distributed rows, never
    collected; scoring joins test term counts to it on the token key,
    aggregates per (doc, label), and lays a broadcast |L|-row prior
    spine under every test doc so zero-vocab docs still classify.  The
    argmax window is partitioned per doc over |L| rows.  Nothing
    collects; no cartesian products beyond the broadcast |L|-row and
    1-row frames."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: F.length(x) >= 2,
    )
    is_train = (
        md5_long(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(int(seed))))
        )
        % 2
        == 0
    )
    base = docs.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__l"),
        toks.alias("__ts"),
        is_train.alias("__tr"),
    )
    tc = (
        base.select("__id", "__l", "__tr", F.explode("__ts").alias("__t"))
        .groupBy("__id", "__l", "__tr", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    train_tc = tc.where("__tr").groupBy("__l", "__t").agg(
        F.sum("__c").alias("__ct")
    )
    lang_tot = train_tc.groupBy("__l").agg(F.sum("__ct").alias("__nl"))
    vocab = train_tc.select("__t").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("__v"))
    # dense (vocab x labels) smoothed log-likelihoods: missing pairs
    # get the same Laplace mass as observed-once-nowhere tokens
    dense = (
        vocab.crossJoin(F.broadcast(lang_tot))
        .join(train_tc, ["__l", "__t"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "__t", "__l",
            F.log(
                (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(1.0))
                / (F.col("__nl") + F.col("__v"))
            ).alias("__lp"),
        )
    )
    tr_docs = base.where("__tr").groupBy(F.col("__l").alias("__pl")).agg(
        F.count(F.lit(1)).alias("__dn")
    )
    tr_tot = tr_docs.agg(F.sum("__dn").alias("__dtot"))
    priors = tr_docs.crossJoin(F.broadcast(tr_tot)).select(
        "__pl", F.log(F.col("__dn") / F.col("__dtot")).alias("__pr")
    )
    test_sums = (
        tc.where(~F.col("__tr"))
        .join(dense.withColumnRenamed("__l", "__pl"), "__t")
        .groupBy("__id", "__pl")
        .agg(F.sum(F.col("__c") * F.col("__lp")).alias("__ll"))
    )
    spine = (
        base.where(~F.col("__tr"))
        .select("__id", F.col("__l").alias("actual"))
        .crossJoin(F.broadcast(priors))
    )
    from pyspark.sql import Window

    scored = (
        spine.join(test_sums, ["__id", "__pl"], "left")
        .select(
            "__id", "actual", "__pl",
            F.round(
                F.col("__pr") + F.coalesce(F.col("__ll"), F.lit(0.0)), 6
            ).alias("__score"),
        )
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__score").desc(), F.col("__pl").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .groupBy("actual", F.col("__pl").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def roc_auc_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int | None = None,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Threshold-free classifier evaluation: ROC AUC via the
    Mann-Whitney rank identity (Hanley & McNeil 1982 — AUC is the
    probability a random positive outscores a random negative, ties
    counted half), plus the Brier score (Brier 1950) and log-loss —
    the one-row readout that tells you whether a quality/relevance
    score actually SEPARATES (auc), and whether its values are usable
    as probabilities (brier, log_loss).

    ``label_col`` must be 0/1 (castable to int); NULL scores/labels
    are dropped.  Log-loss clamps the score into [1e-6, 1−1e-6]
    before the logs — a hard 0/1 prediction that is wrong would
    otherwise be −∞ in both engines.  Returns ONE row ``(n, n_pos,
    n_neg, auc, brier, log_loss)`` rounded to 6; ``auc`` is NULL when
    either class is absent.

    Scale shape: the KS/Mann-Whitney family contract — ONE per-
    distinct-score (positives, negatives) count aggregation through
    ``stats._drift_cells`` (``max_distinct`` pre-check ENFORCED;
    pass ``bins=`` for continuous scores), then
    the tie-corrected U from one ordered window over the |distinct
    scores| rows; Brier/log-loss are one map-side-combined
    aggregation over the raw rows.  Nothing unbounded survives
    either aggregation."""
    from pyspark.sql import Window

    from plda_spark.operators.stats import _drift_cells

    lab = F.col(label_col).cast("int")
    base = df.where(
        F.col(score_col).isNotNull() & lab.isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("__p"), lab.alias("__y")
    )
    cells = _drift_cells(
        base, "__y", "__p", 1, 0, "roc_auc_report", bins, max_distinct,
        empty_ok=True,
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    u = cells.select(
        (
            F.col("ca")
            * (
                F.coalesce(F.sum("cb").over(w), F.lit(0))
                + F.col("cb") / 2.0
            )
        ).alias("__u")
    ).agg(F.sum("__u").alias("__usum"))
    pc = F.least(
        F.greatest(F.col("__p"), F.lit(1e-6)), F.lit(1.0 - 1e-6)
    )
    y = F.col("__y").cast("double")
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("__y")).cast("long").alias("n_neg"),
        F.avg((F.col("__p") - y) * (F.col("__p") - y)).alias("__brier"),
        F.avg(
            -(y * F.log(pc) + (1 - y) * F.log(1 - pc))
        ).alias("__ll"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("__usum")
        / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
    )
    return (
        m.crossJoin(F.broadcast(u))
        .select(
            "n",
            "n_pos",
            "n_neg",
            F.round(auc, 6).alias("auc"),
            F.round("__brier", 6).alias("brier"),
            F.round("__ll", 6).alias("log_loss"),
        )
    )


def decision_stump(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Best single-threshold split of a numeric feature for a 0/1
    label, minimizing weighted Gini impurity (the CART split
    criterion, Breiman et al. 1984) — the one-rule baseline every
    learned quality classifier must beat, and the fastest "is this
    feature worth anything?" probe before a full
    :func:`logreg_fit`.

    Candidate thresholds are the distinct feature values; the split
    is ``left: x <= v``, ``right: x > v`` (the last value — empty
    right side — is not a candidate).  Ties on impurity go to the
    smallest threshold, so both engines pick the same split.  NULL
    features/labels are dropped.  Returns ONE row ``(n, n_pos,
    threshold, gini_parent, gini_split, gain, left_n, left_pos_rate,
    right_n, right_pos_rate)`` rounded to 6; ``threshold`` is NULL
    when no split exists (a constant feature).

    Scale shape: the KS-family bounded-cardinality contract — an
    ``approx_count_distinct`` pre-check ENFORCES ``max_distinct``
    (quantize/round a continuous feature first), then ONE per-value
    (pos, neg) count aggregation collapses the corpus, one ordered
    cumulative window + the argmin run over |distinct values| rows,
    and all Gini arithmetic is exact integer-count ratios both
    engines compute identically."""
    from pyspark.sql import Window

    lab = F.col(label_col).cast("int")
    v = F.col(feature_col).cast("double")
    base = df.where(v.isNotNull() & lab.isNotNull()).select(
        v.alias("__v"), lab.alias("__y")
    )
    ndv = base.agg(F.approx_count_distinct("__v").alias("__ndv")).first()[
        "__ndv"
    ]
    if ndv > max_distinct:
        raise ValueError(
            f"decision_stump: {feature_col!r} has ~{ndv} distinct values "
            f"> max_distinct={max_distinct}; every distinct value is a "
            "split candidate. Quantize/round the feature first, or "
            "raise max_distinct if the cardinality is genuinely bounded."
        )
    cells = base.groupBy(F.col("__v").alias("v")).agg(
        F.sum("__y").alias("n1"),
        F.sum(1 - F.col("__y")).alias("n0"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = cells.agg(
        F.sum("n1").alias("t1"),
        F.sum("n0").alias("t0"),
        F.count(F.lit(1)).alias("__k"),
    )
    cum = cells.select(
        "v",
        F.sum("n1").over(w).alias("c1"),
        F.sum("n0").over(w).alias("c0"),
    ).crossJoin(F.broadcast(tot))
    nl = (F.col("c1") + F.col("c0")).cast("double")
    nr = (F.col("t1") - F.col("c1") + F.col("t0") - F.col("c0")).cast(
        "double"
    )
    n = (F.col("t1") + F.col("t0")).cast("double")
    gl = (
        F.lit(1.0)
        - F.pow(F.col("c1") / nl, 2)
        - F.pow(F.col("c0") / nl, 2)
    )
    gr = (
        F.lit(1.0)
        - F.pow((F.col("t1") - F.col("c1")) / nr, 2)
        - F.pow((F.col("t0") - F.col("c0")) / nr, 2)
    )
    cand = cum.where(nr > 0).select(
        "v",
        "c1",
        "c0",
        "t1",
        "t0",
        ((nl * gl + nr * gr) / n).alias("__g"),
    )
    best = cand.orderBy(F.col("__g").asc(), F.col("v").asc()).limit(1)
    gp = (
        F.lit(1.0)
        - F.pow(F.col("t1") / n, 2)
        - F.pow(F.col("t0") / n, 2)
    )
    out = tot.join(best, ["t1", "t0"], "left")
    nl2 = (F.col("c1") + F.col("c0")).cast("double")
    nr2 = (F.col("t1") - F.col("c1") + F.col("t0") - F.col("c0")).cast(
        "double"
    )
    return out.select(
        (F.col("t1") + F.col("t0")).cast("long").alias("n"),
        F.col("t1").cast("long").alias("n_pos"),
        F.round("v", 6).alias("threshold"),
        F.round(gp, 6).alias("gini_parent"),
        F.round("__g", 6).alias("gini_split"),
        F.round(gp - F.col("__g"), 6).alias("gain"),
        (F.col("c1") + F.col("c0")).cast("long").alias("left_n"),
        F.round(F.col("c1") / nl2, 6).alias("left_pos_rate"),
        (F.col("t1") - F.col("c1") + F.col("t0") - F.col("c0"))
        .cast("long")
        .alias("right_n"),
        F.round(
            (F.col("t1") - F.col("c1")) / nr2, 6
        ).alias("right_pos_rate"),
    )


def pr_auc_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int | None = None,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Precision-recall AUC (average precision, the sklearn/TREC
    step-interpolation: ``AP = Σ_k (R_k − R_{k−1})·P_k`` over
    descending score thresholds — Zhu 2004; Davis & Goadrich 2006 for
    why PR beats ROC on imbalanced data): the metric to read INSTEAD
    of ROC AUC when positives are rare (quality filtering, near-dup
    flags, abuse detection), because ROC's false-positive rate is
    diluted by the huge negative class while precision is not.

    Ties are grouped per distinct score (one threshold per distinct
    value, both engines replay the same grouping).  Returns ONE row
    ``(n, n_pos, n_neg, pr_auc, baseline)`` rounded to 6 —
    ``baseline`` is the positive prevalence (a random scorer's AP);
    ``pr_auc`` is NULL when there are no positives.

    Scale shape: the KS-family contract — ONE per-distinct-score
    (positives, negatives) count aggregation through
    ``stats._drift_cells`` (``max_distinct`` pre-check ENFORCED;
    pass ``bins=`` for continuous scores), then
    one descending cumulative window over the |distinct scores|
    rows."""
    from pyspark.sql import Window

    from plda_spark.operators.stats import _drift_cells

    lab = F.col(label_col).cast("int")
    base = df.where(
        F.col(score_col).isNotNull() & lab.isNotNull()
    ).select(
        F.col(score_col).cast("double").alias("__p"), lab.alias("__y")
    )
    cells = _drift_cells(
        base, "__y", "__p", 1, 0, "pr_auc_report", bins, max_distinct,
        empty_ok=True,
    )
    wd = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # totals ride windows over the SAME cell frame (a separate .agg
    # branch would lazily recompute the cell aggregation — a second
    # corpus scan for two numbers)
    cum = cells.select(
        "ca",
        F.sum("ca").over(wd).alias("__tp"),
        (F.sum("ca").over(wd) + F.sum("cb").over(wd)).alias("__pred"),
        F.sum("ca").over(wall).cast("long").alias("n_pos"),
        F.sum("cb").over(wall).cast("long").alias("n_neg"),
    )
    terms = cum.select(
        "n_pos",
        "n_neg",
        # delta-recall at this threshold times precision at it; the
        # n_pos > 0 gate keeps the all-negative degenerate case NULL
        # instead of a division error under ANSI mode
        F.when(
            F.col("n_pos") > 0,
            F.col("ca").cast("double")
            / F.col("n_pos")
            * (F.col("__tp").cast("double") / F.col("__pred")),
        ).alias("__term"),
    )
    agg = terms.groupBy("n_pos", "n_neg").agg(
        F.sum("__term").alias("__ap")
    )
    n = (F.col("n_pos") + F.col("n_neg")).cast("long")
    ap = F.when(F.col("n_pos") > 0, F.col("__ap"))
    return agg.select(
        n.alias("n"),
        "n_pos",
        "n_neg",
        F.round(ap, 6).alias("pr_auc"),
        F.round(
            F.col("n_pos").cast("double")
            / (F.col("n_pos") + F.col("n_neg")),
            6,
        ).alias("baseline"),
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision/recall/F1 plus the table-level accuracy and
    macro-F1 (the standard multi-class evaluation readout; van
    Rijsbergen 1979 for F) from a frame of (true label, predicted
    label) pairs — the summary to run on :func:`nb_eval` or
    :func:`knn_classify` outputs before trusting a labeler.

    Returns one row per class that appears as a true OR predicted
    label: ``(label, n_true, n_pred, tp, precision, recall, f1,
    accuracy, macro_f1)`` rounded to 6 — ``accuracy``/``macro_f1``
    are table-level and repeated per row (the :func:`benford_audit`
    convention); precision/recall are NULL when their denominator is
    0 and such classes contribute 0 to macro-F1 (the sklearn
    zero-division=0 convention).

    Scale shape: ONE (label, pred) count aggregation over the data —
    the |classes|² confusion table is the only thing that survives;
    margins and the macro rollup are tiny-frame joins on it."""
    base = df.where(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(
        F.col(label_col).cast("string").alias("__t"),
        F.col(pred_col).cast("string").alias("__p"),
    )
    # the margins, diagonal, and rollup all branch off the confusion
    # table; persist it (|classes|^2 rows, tiny) so the corpus-side
    # aggregation runs ONCE, not once per branch
    cell = base.groupBy("__t", "__p").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    true_m = cell.groupBy(F.col("__t").alias("label")).agg(
        F.sum("c").alias("n_true")
    )
    pred_m = cell.groupBy(F.col("__p").alias("label")).agg(
        F.sum("c").alias("n_pred")
    )
    diag = cell.where(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("label"), F.col("c").alias("tp")
    )
    spine = true_m.join(pred_m, "label", "full_outer").join(
        diag, "label", "left"
    ).select(
        "label",
        F.coalesce("n_true", F.lit(0)).alias("n_true"),
        F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        F.coalesce("tp", F.lit(0)).alias("tp"),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp") / F.col("n_pred").cast("double")
    )
    rec = F.when(
        F.col("n_true") > 0, F.col("tp") / F.col("n_true").cast("double")
    )
    f1 = F.when(
        F.coalesce(prec, F.lit(0.0)) + F.coalesce(rec, F.lit(0.0)) > 0,
        2 * F.coalesce(prec, F.lit(0.0)) * F.coalesce(rec, F.lit(0.0))
        / (F.coalesce(prec, F.lit(0.0)) + F.coalesce(rec, F.lit(0.0))),
    ).otherwise(F.lit(0.0))
    scored = spine.select(
        "label", "n_true", "n_pred", "tp",
        prec.alias("__prec"), rec.alias("__rec"), f1.alias("__f1"),
    )
    tot = scored.agg(
        F.sum("tp").alias("__tpsum"),
        F.sum("n_true").alias("__n"),
        F.avg("__f1").alias("__macro"),
    )
    return scored.crossJoin(F.broadcast(tot)).select(
        "label",
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("tp").cast("long").alias("tp"),
        F.round("__prec", 6).alias("precision"),
        F.round("__rec", 6).alias("recall"),
        F.round("__f1", 6).alias("f1"),
        F.round(
            F.col("__tpsum").cast("double") / F.col("__n"), 6
        ).alias("accuracy"),
        F.round("__macro", 6).alias("macro_f1"),
    )


def matthews_corrcoef(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Matthews correlation coefficient, multiclass R_K form
    (Matthews 1975; Gorodkin 2004) — the single-number classifier
    summary that, unlike accuracy or F1, cannot be gamed by class
    imbalance (predicting the majority class scores ~0, not ~0.9):
    ``R_K = (c·s − Σ_k p_k·t_k) / √((s² − Σp²)(s² − Σt²))`` over the
    confusion table, where ``c`` is the diagonal mass, ``s`` the
    total, ``t_k``/``p_k`` the true/predicted margins — equal to the
    binary MCC when K = 2.  Returns ONE row ``(n, k_classes, mcc)``
    rounded to 6; ``mcc`` is NULL when either marginal is degenerate
    (all-one-class truth or prediction — the 0/0 case sklearn
    reports as 0; NULL states "undefined" honestly).

    Scale shape: ONE (label, pred) count aggregation collapses the
    corpus to the |classes|² confusion table (persisted — diagonal
    and both margins branch off it), then scalar algebra on ≤
    |classes| rows."""
    base = df.where(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(
        F.col(label_col).cast("string").alias("__t"),
        F.col(pred_col).cast("string").alias("__p"),
    )
    cell = base.groupBy("__t", "__p").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    tm = cell.groupBy(F.col("__t").alias("k")).agg(
        F.sum("c").alias("tk")
    )
    pm = cell.groupBy(F.col("__p").alias("k")).agg(
        F.sum("c").alias("pk")
    )
    marg = tm.join(pm, "k", "full_outer").select(
        "k",
        F.coalesce(F.col("tk"), F.lit(0)).cast("double").alias("tk"),
        F.coalesce(F.col("pk"), F.lit(0)).cast("double").alias("pk"),
    )
    marg_agg = marg.agg(
        F.count(F.lit(1)).alias("k_classes"),
        F.sum(F.col("tk") * F.col("pk")).alias("__tp_dot"),
        F.sum(F.col("tk") * F.col("tk")).alias("__tt"),
        F.sum(F.col("pk") * F.col("pk")).alias("__pp"),
    )
    tot = cell.agg(
        F.sum("c").cast("double").alias("__s"),
        F.sum(
            F.when(F.col("__t") == F.col("__p"), F.col("c")).otherwise(0)
        ).cast("double").alias("__c"),
    )
    joined = tot.crossJoin(F.broadcast(marg_agg))
    s = F.col("__s")
    num = F.col("__c") * s - F.col("__tp_dot")
    den2 = (s * s - F.col("__pp")) * (s * s - F.col("__tt"))
    mcc = F.when(den2 > 0, num / F.sqrt(den2))
    return joined.select(
        s.cast("long").alias("n"),
        F.col("k_classes").cast("long").alias("k_classes"),
        F.round(mcc, 6).alias("mcc"),
    )
