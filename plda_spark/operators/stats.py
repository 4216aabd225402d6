"""Distribution statistics over groups: quantiles and heavy hitters.

Dataset-curation pipelines profile quality signals (doc length, token
counts, scores) per domain/language before choosing filter thresholds;
these operators are that profiling step, with an exact variant for
oracle checks and a sketch variant as the 100 TB path.

- ``group_quantiles`` — exact ``percentile`` (linear interpolation,
  matches ANSI ``percentile_cont``).  Exact quantiles buffer each
  group's values; use for bounded group counts / verification.
- ``approx_group_quantiles`` — ``percentile_approx`` (KLL-style sketch,
  bounded memory per group, map-side combined).  The scale path: one
  shuffle of sketch partials, never of raw values.
- ``frequent_items`` — per-group top-k values by count via a single
  two-key groupBy + rank window.  Exact (unlike count-min), and the
  two-phase shuffle keys (``(group, value)`` then ``group``) keep hot
  groups from serializing through one task until the final k-row rank.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from plda_spark._exprs import bit_words, epoch_secs, md5_bucket, md5_long

__all__ = [
    "group_quantiles",
    "approx_group_quantiles",
    "frequent_items",
    "correlation_matrix",
    "profile_columns",
    "rolling_daily_counts",
    "key_skew",
    "zscore_outliers",
    "mad_outliers",
    "fill_daily_gaps",
    "histogram",
    "ewma",
    "hll_daily_sketches",
    "hll_estimate_range",
    "kmv_daily_sketches",
    "kmv_estimate_range",
    "kmv_intersect_ranges",
    "kmv_rolling_active",
    "poisson1_thresholds",
    "bootstrap_ci",
    "cms_daily_sketches",
    "cms_estimate",
    "hist_daily_sketches",
    "hist_quantile_range",
    "gini_concentration",
    "bloom_daily_sketches",
    "bloom_union_range",
    "bloom_member_range",
    "decayed_counts",
    "seasonal_decompose",
    "decayed_moments",
    "ks_test",
    "chi2_independence",
    "hist_ks_ranges",
    "mannwhitney_u",
    "welch_ttest",
    "group_mean_shift_tests",
    "bh_fdr",
    "benford_audit",
    "weighted_quantiles",
    "psi",
    "kruskal_wallis",
    "trend_tests",
    "jackknife_ratio",
    "hist_psi_ranges",
    "cusum_changepoints",
    "acf_daily",
    "spearman_corr",
    "mutual_information",
    "conformal_intervals",
    "anova_f",
    "levene_bf",
    "paired_ttest",
    "two_proportion_ztest",
    "ols2",
    "pca2_summary",
    "logreg2",
    "kendall_tau",
    "cochran_armitage",
    "ab_power_mde",
    "by_fdr",
    "uplift_by_segment",
    "cohens_kappa",
    "brown_smoothing",
    "ab_srm_check",
    "combine_pvalues",
    "tost_equivalence",
    "ljung_box",
    "mcnemar_test",
    "runs_test_daily",
    "granger_daily",
    "pacf_daily",
    "effect_size",
    "mean_power_mde",
    "cuped_ztest",
    "msprt_always_valid",
    "xi_correlation_daily",
    "capture_recapture",
    "holm_bonferroni",
    "bayes_ab_beta",
    "page_hinkley",
    "anova_posthoc",
    "g_test",
    "storey_qvalues",
    "seasonality_strength",
    "hurst_exponent",
    "gpd_tail_fit",
    "wilson_ci_by_group",
    "dominant_period",
]


def _quantile_agg(fn, value_col: str, qs: Sequence[float]) -> list:
    return [
        fn(value_col, F.lit(q)).alias(f"q{str(q).replace('.', '_')}")
        for q in qs
    ]


def group_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact interpolated quantiles of ``value_col`` per group; one
    output column per q, named ``q0_5`` etc."""
    return df.groupBy(*group_cols).agg(
        *_quantile_agg(F.percentile, value_col, qs)
    )


def approx_group_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based quantiles (error ≤ 1/accuracy relative rank) —
    same output shape as :func:`group_quantiles`."""
    return df.groupBy(*group_cols).agg(
        *[
            F.percentile_approx(value_col, F.lit(q), F.lit(accuracy)).alias(
                f"q{str(q).replace('.', '_')}"
            )
            for q in qs
        ]
    )


def frequent_items(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` most frequent ``value_col`` values per group:
    ``(*group_cols, value, cnt, rank)``, ties broken by value for
    determinism."""
    counts = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("cnt"), F.col(value_col)
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumnRenamed(value_col, "value")
    )


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation of numeric columns, long format:
    ``(col_a, col_b, corr)`` for every a < b pair (lexicographic).

    ONE aggregation job computes all d·(d−1)/2 coefficients (each an
    `F.corr` partial — map-side combined, constant state per pair), then
    the 1-row result unpivots driver-free via stack.  Never collects or
    shuffles the data itself, so it holds at any corpus size; cost is
    O(d²) aggregation state, the inherent size of the answer.
    """
    pairs = [
        (a, b) for i, a in enumerate(sorted(cols)) for b in sorted(cols)[i + 1 :]
    ]
    if not pairs:
        raise ValueError("need at least two columns")
    agg = df.agg(
        *[F.corr(a, b).alias(f"__c_{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_expr = ", ".join(
        f"'{a}', '{b}', round(__c_{i}, 6)" for i, (a, b) in enumerate(pairs)
    )
    return agg.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) as (col_a, col_b, corr)"
    )


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Numeric column profiling, long format: one row per column with
    ``(col_name, n_rows, n_nulls, n_distinct, min_val, max_val,
    mean_val)`` — the data-quality audit pass run before choosing
    curation thresholds.

    TWO single-purpose aggregation jobs compute every statistic (null
    counts, min/max, and mean as an exact ``decimal(28,6)`` sum divided
    by the count in one; the exact distinct counts in the other), the
    1-row results cross-join, and the row unpivots driver-free via
    ``stack``.  Never collects or re-shuffles the data.  The split is
    deliberate: MIXING distinct and regular aggregates makes Spark's
    Expand carry every regular-agg column through d+1 duplicated copies
    of each row (measured 4.3 s at sf0.1 vs 1.1 s for either aggregate
    alone — the combined plan cost 2x more than running both
    separately); kept apart, the distinct pass expands only the
    profiled columns and each job stays a lean hash aggregate.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("need at least one column")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"__nn_{i}"),
            F.min(col.cast("double")).alias(f"__mn_{i}"),
            F.max(col.cast("double")).alias(f"__mx_{i}"),
            F.sum(col.cast("decimal(28,6)")).cast("double").alias(f"__sm_{i}"),
        ]
    dist = df.agg(
        *[F.countDistinct(F.col(c)).alias(f"__nd_{i}") for i, c in enumerate(cols)]
    )
    one = df.agg(*aggs).crossJoin(F.broadcast(dist))
    stack_expr = ", ".join(
        f"'{c}', __n, __nn_{i}, __nd_{i}, round(__mn_{i}, 6), "
        f"round(__mx_{i}, 6), round(__sm_{i} / (__n - __nn_{i}), 6)"
        for i, c in enumerate(cols)
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as "
        "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val)"
    )


def rolling_daily_counts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    days: int = 7,
) -> DataFrame:
    """Trailing-``days`` activity per key per active day — the rolling
    engagement/time-series aggregate (``n_trailing`` = events in the
    window ending on ``day``, counting only days the key was active plus
    the range frame's reach back).

    Returns ``(key, day, n_day, n_trailing)`` with ``day`` as a string
    date (cross-engine hash stability).

    Scale shape: a ``(key, day)`` pre-aggregation shrinks the stream to
    one row per active key-day BEFORE the window (map-side combined), so
    the range-frame sort handles at most |keys|·|days| rows, never raw
    events; the window's RANGE frame runs over integer epoch-days —
    no per-row interval arithmetic.
    """
    if days < 1:
        raise ValueError(f"days must be >= 1, got {days}")
    day = F.to_date(F.col(ts_col))
    daily = (
        df.select(F.col(key_col).alias("key"), day.alias("day"))
        .groupBy("key", "day")
        .agg(F.count(F.lit(1)).alias("n_day"))
        .withColumn("__epoch_day", F.datediff("day", F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy("key")
        .orderBy("__epoch_day")
        .rangeBetween(-(days - 1), 0)
    )
    return daily.select(
        "key",
        F.col("day").cast("string").alias("day"),
        "n_day",
        F.sum("n_day").over(w).alias("n_trailing"),
    )


def key_skew(df: DataFrame, key_col: str, k: int = 10) -> DataFrame:
    """Shuffle-skew diagnostic: the ``k`` heaviest values of ``key_col``
    with their share of all rows — the report you read before choosing
    a salting factor for a join/groupBy on that key (``share · P``
    estimates how many partitions the hottest key would occupy).

    Returns ``(key, cnt, share, rank)``; ``key`` stringified, ties
    broken by key for determinism.  Empty input yields an empty report.

    Scale shape: ONE map-side-combined count per distinct key feeding a
    ``TakeOrdered`` top-k (never a global sort of the key histogram);
    the share denominator is Σ cnt over the SAME key histogram (a 1-row
    aggregate broadcast back), so the raw input is scanned exactly once
    and the whole report stays lazy — no job runs until the caller acts.
    The rank window runs over the k surviving rows only.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = counts.agg(F.sum("cnt").alias("__total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))  # k rows only
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
            "rank",
        )
    )


def zscore_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score anomaly detection: rows whose value deviates
    more than ``threshold`` sample standard deviations from their
    group's mean — the standard first-pass outlier filter on quality
    signals (doc length, event value, score drift).

    Returns ``(*group_cols, id, value, z)`` with ``z`` rounded to 6
    decimals; single-member or zero-variance groups emit nothing (no
    meaningful deviation exists).

    Scale shape: ONE map-side-combined aggregation computes each
    group's (mean, stddev); the per-group stats rejoin the rows on the
    group key — a shuffle equi-join that AQE broadcasts when the group
    table is small.  No window over raw rows, no driver collection.
    """
    gcols = list(group_cols)
    stats = df.groupBy(*gcols).agg(
        F.avg(F.col(value_col).cast("double")).alias("__mu"),
        F.stddev_samp(F.col(value_col).cast("double")).alias("__sd"),
    )
    z = (F.col(value_col).cast("double") - F.col("__mu")) / F.col("__sd")
    return (
        df.join(stats, gcols)
        .where(F.col("__sd") > 0)
        .where(F.abs(z) > threshold)
        .select(
            *gcols,
            F.col(id_col).alias("id"),
            F.col(value_col).cast("double").alias("value"),
            F.round(z, 6).alias("z"),
        )
    )


def fill_daily_gaps(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-series resampling: per key, the continuous daily grid from
    the key's first to last active day with ``n_day = 0`` on inactive
    days — the gap-filling step before any rolling/metric computation
    that assumes a dense calendar.

    Returns ``(key, day, n_day)`` with ``day`` as a string date.

    Scale shape: one (key, day) pre-aggregation (map-side combined),
    one per-key min/max aggregation, then ``sequence() + explode`` of
    each key's day span joined back to the observed counts — the grid
    is |keys|·|span-days| rows, generated executor-side, never on the
    driver.  Spans are bounded by the data's date range, not row count.
    """
    day = F.to_date(F.col(ts_col))
    daily = (
        df.select(F.col(key_col).alias("key"), day.alias("day"))
        .groupBy("key", "day")
        .agg(F.count(F.lit(1)).alias("n_day"))
    )
    spans = daily.groupBy("key").agg(
        F.min("day").alias("__d0"), F.max("day").alias("__d1")
    )
    grid = spans.select(
        "key",
        F.explode(
            F.sequence("__d0", "__d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    return (
        grid.join(daily, ["key", "day"], "left")
        .select(
            "key",
            F.col("day").cast("string").alias("day"),
            F.coalesce("n_day", F.lit(0)).alias("n_day"),
        )
    )


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Equi-width histogram of ``value_col`` over ``[lo, hi)`` — the
    distribution-shape profile behind every curation threshold choice
    (doc length, price, score cutoffs).

    Returns one row per bin, EMPTY BINS INCLUDED:
    ``(bin, bin_lo, bin_hi, n)`` with ``bin_lo = lo + bin·w`` for width
    ``w = (hi−lo)/nbins``.  Values outside ``[lo, hi)`` are dropped (a
    deliberate range filter, so callers see out-of-range mass as
    ``sum(n) < count(*)``).

    Scale shape: ONE map-side-combined aggregation of at most ``nbins``
    partial rows per partition — the classic partial+final histogram; the
    dense bin spine is a ``sequence()`` of ``nbins`` rows broadcast-left-
    joined to the counts, so no shuffle grows with data volume.  Bin
    arithmetic is plain IEEE double ops (same expression any engine
    computes identically).
    """
    if nbins <= 0:
        raise ValueError("nbins must be positive")
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    w = (hi - lo) / nbins
    x = F.col(value_col).cast("double")
    # least(…, nbins-1): when w is not exactly representable, a value
    # just below hi can floor to nbins (e.g. lo=0, hi=0.21, nbins=3),
    # which the bin spine would silently drop — clamp it into the last
    # bin so sum(n) counts every in-range value, as documented.
    counts = (
        df.where((x >= lo) & (x < hi))
        .select(
            F.least(F.floor((x - lo) / w), F.lit(nbins - 1)).cast("int").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = df.sparkSession.range(nbins).select(F.col("id").cast("int").alias("bin"))
    return (
        spine.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(w)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("bin_hi"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Exponentially weighted moving average per key, ordered by time:
    ``y_1 = x_1``, ``y_i = α·x_i + (1−α)·y_{i−1}`` — the standard
    smoothing pass over per-entity metric series (request rates, score
    drift) before alerting/trending.

    Returns ``(key, ts, value, ewma)`` with one row per input row.

    EWMA is a sequential recurrence, so it cannot be a plain window
    aggregate.  The plan packs each key's series into one row
    (``collect_list`` of (ts, value) structs + ``array_sort``), folds the
    recurrence with ``aggregate`` — pure JVM expressions, no Python —
    and explodes back.  ONE shuffle on the key; the per-key series must
    fit a task (the same contract as every key-windowed operator here;
    pre-aggregate or split series that don't).  Across keys the fold is
    embarrassingly parallel, so 100 TB of many-entity telemetry scales
    linearly; a single billion-point series would not (that shape needs
    the Blelloch-scan formulation, deliberately out of scope).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    packed = (
        df.select(
            F.col(key_col).alias("key"),
            F.struct(F.col(ts_col).alias("ts"), F.col(value_col).cast("double").alias("v")).alias("e"),
        )
        .groupBy("key")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
    )
    # fold: acc is the running array of smoothed values
    smoothed = F.aggregate(
        "es",
        F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
        lambda acc, e: F.when(
            F.size(acc) == 0, F.array(e["v"])
        ).otherwise(
            F.concat(
                acc,
                F.array(alpha * e["v"] + (1.0 - alpha) * F.element_at(acc, -1)),
            )
        ),
    )
    return (
        packed.select("key", F.posexplode(F.arrays_zip("es", smoothed.alias("y"))))
        .select(
            "key",
            F.col("col.es.ts").alias("ts"),
            F.col("col.es.v").alias("value"),
            F.col("col.y").alias("ewma"),
        )
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier detection by modified z-score
    (Iglewicz–Hoaglin): ``0.6745 · (x − median) / MAD`` with
    ``MAD = median(|x − median|)`` — the robust twin of
    :func:`zscore_outliers` for heavy-tailed quality signals, where a
    few extreme values inflate the stddev and hide each other (masking).

    Returns ``(group, id, value, mad_z)`` for rows with
    ``|mad_z| > k``; groups with ``MAD = 0`` (over half the values
    identical) emit nothing, like the zscore twin's ``sd > 0`` guard.

    Scale shape: two small aggregations (exact interpolated medians —
    per-group state only) each joined back on the group key; the data
    itself shuffles at most twice on that key and nothing vocabulary- or
    corpus-sized is broadcast.  For sketch-sized state at extreme group
    cardinality swap ``percentile`` for ``percentile_approx`` — same
    shape.
    """
    g = F.col("__g")
    src = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("value"),
    )
    med = src.groupBy("__g").agg(F.percentile("value", F.lit(0.5)).alias("__med"))
    dev = src.join(med, "__g").withColumn("__dev", F.abs(F.col("value") - F.col("__med")))
    mad = dev.groupBy("__g").agg(F.percentile("__dev", F.lit(0.5)).alias("__mad"))
    score = 0.6745 * (F.col("value") - F.col("__med")) / F.col("__mad")
    return (
        dev.join(mad, "__g")
        .where((F.col("__mad") > 0) & (F.abs(score) > k))
        .select(
            g.alias(group_col),
            "id",
            "value",
            F.round(score, 6).alias("mad_z"),
        )
    )


def hll_daily_sketches(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    lg_k: int = 12,
) -> DataFrame:
    """Per-day mergeable HyperLogLog sketches of distinct ``key_col``:
    ``(day, sketch)`` — the materialize-once answer to "distinct users
    over ANY date range".

    An exact distinct over an arbitrary window re-scans the raw log
    every time; COUNT sketches don't compose (distincts overlap across
    days).  Datasketches HLL sketches DO: union(day sketches) is
    bit-identical to sketching the span in one pass, so a 100 TB log is
    scanned once and every future range query touches only |days|
    kilobyte-sized sketch rows.  One map-side-combined aggregation
    (sketch partials merge associatively); store the output as the
    rollup table.
    """
    day = F.to_date(F.col(ts_col)).cast("string")
    return (
        df.select(day.alias("day"), F.col(key_col).alias("__k"))
        .groupBy("day")
        .agg(F.hll_sketch_agg("__k", F.lit(lg_k)).alias("sketch"))
    )


def _day_range(
    rollup: DataFrame, start_day: str | None = None, end_day: str | None = None
) -> DataFrame:
    """The one day-range filter of every rollup reader: rows with
    ``start_day <= day <= end_day`` (inclusive; a ``None`` bound is
    open).  Days are ISO strings (zero-padded batch ids for ledgers),
    so string order is time order and the predicate prunes at the
    scan."""
    if start_day is not None:
        rollup = rollup.where(F.col("day") >= start_day)
    if end_day is not None:
        rollup = rollup.where(F.col("day") <= end_day)
    return rollup


def _bin_fold(
    rollup: DataFrame,
    start_day: str | None = None,
    end_day: str | None = None,
    alias: str = "bins",
) -> DataFrame:
    """ONE row: the elementwise sum of a day range's ``bin_counts``
    arrays from a :func:`hist_daily_sketches` rollup (histogram
    merging is lossless); NULL when the range matches no rows."""
    return _day_range(rollup, start_day, end_day).agg(
        F.aggregate(
            F.collect_list("bin_counts"),
            F.lit(None).cast("array<long>"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.zip_with(acc, x, lambda p, q: p + q)
            ),
        ).alias(alias)
    )


def hll_estimate_range(
    sketches: DataFrame,
    start_day: str | None = None,
    end_day: str | None = None,
) -> DataFrame:
    """Distinct-count estimate over a day range from a
    :func:`hll_daily_sketches` rollup: filter the (tiny) sketch table,
    union, estimate — ``(n_distinct)``, one row.  Never touches the raw
    log; the range filter prunes sketch rows, and the union is a
    single-row aggregation."""
    return _day_range(sketches, start_day, end_day).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n_distinct")
    )


def cms_daily_sketches(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Per-day mergeable Count-Min sketches (Cormode & Muthukrishnan
    2005) of ``key_col`` frequencies, in sparse row form:
    ``(day, d, bucket, c)`` — the materialize-once answer to "how often
    did key X occur over ANY date range".

    Counts (unlike distincts) ARE additive, but re-scanning a 100 TB
    log for every ad-hoc key/range probe is the cost being removed: the
    rollup is at most ``|days| * depth * width`` rows regardless of
    input size, and a range estimate touches only the rollup.  Merging
    = summing ``c`` by ``(d, bucket)`` — associative, so day sketches
    compose into arbitrary spans exactly like the HLL rollup.

    Estimates from :func:`cms_estimate` are upper bounds:
    ``true <= est <= true + 2N/width`` with probability ``1 - 2^-depth``
    (N = total events in range).  One map-side-combined aggregation
    builds the rollup; the hash family is md5-derived so the DuckDB
    oracle reproduces it bit-for-bit.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    day = F.to_date(F.col(ts_col)).cast("string")
    rows = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                md5_bucket(F.col(key_col), d, width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(day.alias("day"), F.explode(rows).alias("r"))
        .groupBy("day", F.col("r.d").alias("d"), F.col("r.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketches: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    width: int = 1024,
    start_day: str | None = None,
    end_day: str | None = None,
) -> DataFrame:
    """Frequency estimates for ``keys`` over a day range of a
    :func:`cms_daily_sketches` rollup: ``(key, est)``.

    Filters the rollup to the range, sums counts by ``(d, bucket)``
    (the sketch merge), joins each query key's ``depth`` buckets
    against the merged sketch, and takes the min across rows — never
    touching the raw log.  The merged sketch is at most
    ``depth * width`` rows, so the join is a broadcast; a bucket with
    no row is a zero count (min wins immediately).

    ``width`` must match the rollup's.  ``depth`` is inferred from the
    FULL rollup (it is a property of the sketch family, not of the day
    range), so a range with no sketch rows still yields one ``est = 0``
    row per query key instead of an empty frame.
    """
    merged = (
        _day_range(sketches, start_day, end_day)
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    depth_df = sketches.agg((F.max("d") + 1).alias("__depth"))
    probes = (
        keys.crossJoin(F.broadcast(depth_df))
        .select(
            F.col(key_col).alias("key"),
            F.explode(F.sequence(F.lit(0), F.col("__depth") - 1)).alias("d"),
        )
    )
    # One md5 per (key, d) — the SAME md5_bucket formula the builder
    # uses, so builder and probe can never desynchronize.
    probes = probes.withColumn(
        "bucket", md5_bucket(F.col("key"), F.col("d"), width)
    )
    return (
        probes.join(F.broadcast(merged), ["d", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
    )


def hist_daily_sketches(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day equi-width histogram rollup of ``value_col`` over the
    fixed grid ``[lo, hi)``: ``(day, bin_counts: array<long>)`` — the
    quantile member of the sketch-rollup family (HLL = distinct, CMS =
    frequency, histogram = distribution shape / quantiles).

    Unlike HLL, histogram MERGING IS LOSSLESS: summing day arrays
    elementwise equals binning the whole span in one pass, so range
    quantiles from the rollup carry only the bin-width discretization
    error, never a merge error.  A 100 TB log is scanned once; every
    future range-quantile probe touches |days| rows of ``nbins`` longs
    (:func:`hist_quantile_range`).  One map-side-combined (day, bin)
    aggregation + one per-day array assembly; out-of-range values are
    dropped (the same documented range-filter contract as
    :func:`histogram`)."""
    cells = _hist_cells(value_col, lo, hi, nbins)
    return (
        cells(df, F.to_date(F.col(ts_col)).cast("string"))
        .groupBy("day")
        .agg(_dense_array("bin", "n", nbins).alias("bin_counts"))
    )


def _hist_cells(value_col: str, lo: float, hi: float, nbins: int):
    """The histogram grid: checks ``nbins`` and ``[lo, hi)``, then
    returns ``cells(df, day) -> (day, bin, n)``, the per-(day, bin)
    count of ``df``'s in-range values.  :func:`hist_daily_sketches`
    keys it by date, the streaming histogram ledger by its batch, and
    both assemble the counts with :func:`_dense_array`."""
    if nbins <= 0:
        raise ValueError("nbins must be positive")
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    w = (hi - lo) / nbins
    x = F.col(value_col).cast("double")

    def cells(df: DataFrame, day) -> DataFrame:
        return (
            df.where((x >= lo) & (x < hi))
            .select(
                day.alias("day"),
                F.least(F.floor((x - lo) / w), F.lit(nbins - 1))
                .cast("int")
                .alias("bin"),
            )
            .groupBy("day", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return cells


def _dense_array(index_col: str, value_col: str, size: int):
    """Aggregate a group's sparse ``(index_col, value_col)`` rows into
    the dense ``array<long>`` of ``size`` slots (zero for slots the
    group never hit): histogram bin counts, bloom bit words."""
    # collect_list skips NULLs: a NULL key's NULL bloom word sets no bit
    m = F.map_from_arrays(F.collect_list(index_col), F.collect_list(value_col))
    return F.transform(
        F.sequence(F.lit(0), F.lit(size - 1)),
        lambda i: F.coalesce(F.element_at(m, i.cast("int")), F.lit(0)).cast("long"),
    )


def hist_quantile_range(
    sketches: DataFrame,
    qs: list,
    lo: float,
    hi: float,
    start_day: str | None = None,
    end_day: str | None = None,
) -> DataFrame:
    """Quantile estimates over a day range from a
    :func:`hist_daily_sketches` rollup: filter the (tiny) rollup table,
    sum the day arrays elementwise (lossless — see there), and read
    each quantile off the merged histogram with standard in-bin linear
    interpolation: ``bin_lo + width * (q*total - cum_before) / n_bin``.
    Returns ``(q, estimate)``, one row per requested quantile; error is
    bounded by one bin width.  Never touches the raw log — the probe
    reads |days| slim rows and the final arithmetic runs on ``nbins``
    rows."""
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError("quantiles must be in [0, 1]")
    merged = _bin_fold(sketches, start_day, end_day)
    bins = merged.select(F.posexplode("bins").alias("bin", "n"))
    cum_w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.partitionBy()
    staged = bins.select(
        "bin",
        "n",
        F.sum("n").over(cum_w).alias("cum"),
        F.sum("n").over(tot_w).alias("total"),
    )
    qdf = merged.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    # bin width depends on nbins = max(bin)+1 of the rollup itself, so
    # callers cannot desync the grid parameters from the stored arrays.
    est = (
        F.broadcast(qdf)
        .crossJoin(staged)
        .withColumn("__nbins", F.max("bin").over(tot_w) + 1)
        .withColumn("__w", (F.lit(hi) - F.lit(lo)) / F.col("__nbins"))
        .where(
            (F.col("cum") >= F.col("q") * F.col("total"))
            # q = 0 makes the strict lower bracket unsatisfiable (the
            # first nonzero bin has cum - n == 0, not < 0), which
            # silently dropped the promised row (ADVICE r5).  The extra
            # disjunct admits exactly the first nonzero bin at q = 0;
            # the interpolation below then lands on its lower edge.
            & (
                ((F.col("cum") - F.col("n")) < F.col("q") * F.col("total"))
                | (
                    (F.col("q") == 0)
                    & ((F.col("cum") - F.col("n")) == 0)
                )
            )
            & (F.col("n") > 0)
        )
        .withColumn(
            "estimate",
            F.round(
                F.lit(lo)
                + F.col("bin") * F.col("__w")
                + F.col("__w")
                * (F.col("q") * F.col("total") - (F.col("cum") - F.col("n")))
                / F.col("n"),
                6,
            ),
        )
        # a q landing exactly on a bin boundary can satisfy the bracket
        # in two adjacent bins' edge cases; keep the first
        .groupBy("q")
        .agg(F.min("estimate").alias("estimate"))
    )
    return est


# KMV (k minimum values) sketches: the theta-sketch family member that
# supports SET INTERSECTION estimates, which HLL cannot (HLL unions
# losslessly but inclusion-exclusion over HLL estimates compounds
# error).  Hashes are the engine's md5-derived 60-bit integers, so both
# the sketch CONTENT and every estimate are deterministic and exactly
# reproducible in ANSI SQL — the DuckDB oracle checks values, not shape.
_KMV_SPACE = float(1 << 60)  # hash space size (exact power of two)


def kmv_daily_sketches(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    k: int = 256,
) -> DataFrame:
    """Per-day mergeable KMV sketches of distinct ``key_col``:
    ``(day, kmin array<long>)`` — the k smallest distinct 60-bit key
    hashes of the day (all of them when the day has < k).

    Union-merge = k smallest of the concatenation, so range rollups
    compose exactly like the HLL ones; unlike HLL, two merged sketches
    also yield an INTERSECTION estimate (:func:`kmv_intersect_ranges`)
    via the theta rule.  Build shape: one (day, hash) dedup aggregation
    (map-side combined), then a SALTED two-stage k-min — per
    ``(day, hash % n_salts)`` the k smallest (each salt bucket buffers
    only its 1/n_salts slice), then the k smallest of the ≤ n_salts·k
    survivors per day.  The global k minima are a subset of the
    per-salt k minima, so the result is identical to a full per-day
    sort at a fraction of its memory and without ordering a whole
    day's distinct hashes through one task."""
    if k < 2:
        raise ValueError("k must be >= 2")
    n_salts = 64
    h = md5_long(F.col(key_col).cast("string"))
    day = F.to_date(F.col(ts_col)).cast("string")
    distinct = df.select(day.alias("day"), h.alias("h")).distinct()
    per_salt = (
        distinct.groupBy("day", (F.col("h") % n_salts).alias("__salt"))
        .agg(F.slice(F.sort_array(F.collect_list("h")), 1, k).alias("kmin"))
    )
    return per_salt.groupBy("day").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("kmin"))), 1, k
        ).alias("kmin")
    )


def _kmv_merge(src: DataFrame, k: int, *keys: str) -> DataFrame:
    """The k smallest distinct hashes across the sketch rows of each
    ``keys`` group, one row when no keys (exactly the sketch of the
    unioned days)."""
    return src.groupBy(*keys).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmin")))),
            1,
            k,
        ).alias("kmin")
    )


def _kmv_estimate(kmin, k: int):
    """|S| when the sketch holds everything (< k), else the KMV
    estimator (k-1) / fraction-of-space-below-the-kth-minimum."""
    n = F.size(kmin)
    kth = F.element_at(kmin, k).cast("double")
    return F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / kth
    )


def kmv_estimate_range(
    sketches: DataFrame,
    start_day: str | None = None,
    end_day: str | None = None,
    k: int = 256,
) -> DataFrame:
    """Distinct-count estimate over a day range from a
    :func:`kmv_daily_sketches` rollup — ``(n_distinct)``, one row; only
    |days| kB-sized sketch rows are touched, never the raw log."""
    merged = _kmv_merge(_day_range(sketches, start_day, end_day), k)
    return merged.select(
        F.round(_kmv_estimate(F.col("kmin"), k), 4).alias("n_distinct")
    )


def kmv_intersect_ranges(
    sketches: DataFrame,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    k: int = 256,
) -> DataFrame:
    """Estimate of |distinct(range A) ∩ distinct(range B)| — e.g. "how
    many users were active in BOTH windows" — from the daily rollup
    alone.  The theta rule: merge each range to its k-min set, take
    θ = min(max(SA), max(SB)) (each side's coverage threshold), count
    shared hashes below θ, and scale by the sampled fraction θ/space;
    when both sides hold everything (< k) the count of shared hashes is
    exact.  HLL sketches cannot answer this without lossy
    inclusion-exclusion.  Returns ``(n_common)``, one row."""
    a = _kmv_merge(_day_range(sketches, a_start, a_end), k).select(
        F.col("kmin").alias("ka")
    )
    b = _kmv_merge(_day_range(sketches, b_start, b_end), k).select(
        F.col("kmin").alias("kb")
    )
    both = a.crossJoin(F.broadcast(b))  # two 1-row sketch frames
    na, nb = F.size("ka"), F.size("kb")
    # a side that holds < k hashes covers the whole space
    theta_a = F.when(na < k, F.lit(1 << 60)).otherwise(F.element_at("ka", k))
    theta_b = F.when(nb < k, F.lit(1 << 60)).otherwise(F.element_at("kb", k))
    theta = F.least(theta_a, theta_b)
    shared = F.size(
        F.filter(
            F.array_intersect("ka", "kb"), lambda x: x < theta
        )
    )
    exact = (na < k) & (nb < k)
    est = F.when(exact, shared.cast("double")).otherwise(
        shared.cast("double") * F.lit(_KMV_SPACE) / theta.cast("double")
    )
    return both.select(F.round(est, 4).alias("n_common"))


def poisson1_thresholds(max_k: int = 9) -> list[float]:
    """Cumulative Poisson(1) CDF thresholds c_0..c_{max_k-1} for
    inverse-CDF sampling: weight = first k with u < c_k (k = max_k when
    none).  Exposed so the SQL oracle embeds the IDENTICAL float
    literals the executors compare against."""
    import math

    out, acc, fact = [], 0.0, 1.0
    for k in range(max_k):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        out.append(acc)
    return out


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_replicas: int = 100,
    lo: float = 0.025,
    hi: float = 0.975,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the MEAN of
    ``value_col`` — Poisson(1)-weighted resampling (the streaming/
    online bootstrap: at corpus scale a with-replacement resample is
    impossible, but Poisson(1) row weights converge to the same
    multinomial law), with every weight DETERMINISTIC from
    ``md5(key:replica)`` so the whole procedure is engine-replayable
    and SQL-verifiable — no RNG state anywhere.

    One aggregation job computes all ``2·n_replicas`` weighted partials
    (map-side combined; never an explode of rows × replicas), the 1-row
    result unpivots via ``stack``, and the CI is an exact interpolated
    percentile over the replica means.  Returns one row:
    ``(n_replicas, boot_mean, ci_lo, ci_hi)``.
    """
    if n_replicas < 2:
        raise ValueError("n_replicas must be >= 2")
    if not (0 < lo < hi < 1):
        raise ValueError("need 0 < lo < hi < 1")
    cs = poisson1_thresholds()
    # Stage the uniform draws as COLUMNS first: the weight's CASE chain
    # compares u against ~10 thresholds, and inlining u there would
    # re-run the md5 per branch (measured ~10x the runtime); staged,
    # each replica pays exactly one md5 per row.
    draws = [
        (
            md5_long(F.concat(F.col(key_col).cast("string"), F.lit(f":{b}")))
            % F.lit(1 << 60)
        ).cast("double")
        / F.lit(float(1 << 60))
        for b in range(n_replicas)
    ]
    staged = df.select(
        F.col(value_col).cast("double").alias("__x"),
        *[draws[b].alias(f"__u_{b}") for b in range(n_replicas)],
    )
    # The inverse-CDF weight w = min{j : u < cs[j]} equals the COUNT of
    # thresholds ≤ u (cs ascending), so one array-filter size replaces
    # the ~|cs|-deep CASE chain — and staging w as a column means each
    # replica's weight is computed once per row instead of being
    # inlined (and codegen-duplicated) into both of its aggregate sums.
    # Exact same integer-valued doubles; identical replica means.
    cs_arr = F.array(*[F.lit(c) for c in cs])

    def _w(b: int) -> Column:
        u = F.col(f"__u_{b}")
        # NULL u (NULL key) fell through the CASE chain to the default
        # len(cs) — preserved explicitly here
        return (
            F.when(u.isNull(), F.lit(float(len(cs))))
            .otherwise(
                F.size(F.filter(cs_arr, lambda c: c <= u)).cast("double")
            )
            .alias(f"__w_{b}")
        )

    weighted = staged.select("__x", *[_w(b) for b in range(n_replicas)])
    aggs = []
    for b in range(n_replicas):
        w = F.col(f"__w_{b}")
        aggs.append(F.sum(w * F.col("__x")).alias(f"__wx_{b}"))
        aggs.append(F.sum(w).alias(f"__w_{b}"))
    one = weighted.agg(*aggs)
    stack_expr = ", ".join(
        f"{b}, __wx_{b} / __w_{b}" for b in range(n_replicas)
    )
    means = one.selectExpr(
        f"stack({n_replicas}, {stack_expr}) as (replica, m)"
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.percentile("m", F.lit(lo)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(hi)), 6).alias("ci_hi"),
    )


def gini_concentration(
    df: DataFrame,
    dims: Sequence[str],
) -> DataFrame:
    """Gini coefficient of corpus concentration across each dimension in
    ``dims`` — the one-number imbalance diagnostic curation teams track
    release-over-release (0 = perfectly even mixture, →1 = one slice
    dominates).

    Returns one row per dimension: ``(dimension, n_groups, gini)``
    with ``gini`` rounded to 6 decimals.

    Scale shape: sorted-rank formula over the GROUP-COUNT table (tiny —
    one aggregation collapses the corpus to |groups| rows per
    dimension), exact integer sums until one final division:
    ``G = 2·Σ(rank·cnt)/(n·Σcnt) − (n+1)/n`` with counts ascending,
    ties rank-broken by group name so the result is engine-identical.
    """
    dims = list(dims)
    if not dims:
        raise ValueError("dims must be non-empty")

    def one(dim: str) -> DataFrame:
        counts = df.groupBy(F.col(dim).alias("grp")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.orderBy(F.asc("cnt"), F.asc("grp"))
        ranked = counts.select("cnt", F.row_number().over(w).alias("r"))
        return ranked.agg(
            F.lit(dim).alias("dimension"),
            F.count(F.lit(1)).alias("n_groups"),
            F.round(
                F.lit(2.0) * F.sum(F.col("r") * F.col("cnt"))
                / (F.count(F.lit(1)) * F.sum("cnt"))
                - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("gini"),
        )

    out = one(dims[0])
    for dim in dims[1:]:
        out = out.unionAll(one(dim))
    return out


def bloom_daily_sketches(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Per-day mergeable BLOOM FILTERS of ``key_col`` membership:
    ``(day, bits array<long>)`` with ``m_bits/64`` words per day — the
    sketch-family member that answers "was THIS key active?" (HLL
    counts distincts, CMS counts frequencies, KMV intersects sets;
    none answers point membership).  Union-merge is bitwise OR, so
    range rollups compose losslessly like the other daily sketches.

    Bit positions come from the engine's md5 convention
    (:func:`md5_bucket` with the hash index as the row), so sketch
    content AND probe verdicts — including false positives — are
    deterministic and exactly SQL-reproducible.

    Build shape: one (day, key) dedup aggregation (map-side combined),
    k JVM hash expressions per pair, one (day, word) bit_or
    aggregation — the raw log is scanned once and nothing driver-side
    scales past |days| · m_bits/64 longs.
    """
    if m_bits <= 0 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    if k < 1:
        raise ValueError("k must be >= 1")
    n_words = m_bits // 64
    day = F.to_date(F.col(ts_col)).cast("string").alias("day")
    pairs = df.select(day, F.col(key_col).alias("__key")).distinct()
    pos = pairs.select(
        "day",
        F.explode(
            F.array(*[md5_bucket(F.col("__key"), i, m_bits) for i in range(k)])
        ).alias("pos"),
    )
    return (
        bit_words(pos, "day")
        .groupBy("day")
        .agg(_dense_array("w", "word", n_words).alias("bits"))
    )


def bloom_union_range(
    sketches: DataFrame,
    start_day: str | None = None,
    end_day: str | None = None,
) -> DataFrame:
    """OR-merge the day sketches in [start_day, end_day] into ONE
    ``bits`` row (lossless — the merged filter is exactly the filter of
    the union of the days' key sets).  Touches |days| slim rows."""
    return _day_range(sketches, start_day, end_day).agg(
        F.aggregate(
            F.collect_list("bits"),
            F.array_repeat(
                F.lit(0).cast("long"), F.size(F.first("bits"))
            ),
            lambda acc, a: F.zip_with(acc, a, lambda x, y: x.bitwiseOR(y)),
        ).alias("bits")
    )


def bloom_member_range(
    sketches: DataFrame,
    probes: DataFrame,
    probe_col: str = "probe",
    start_day: str | None = None,
    end_day: str | None = None,
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Probe the range-merged bloom filter: ``(probe, member)`` per
    probe row — ``member`` true iff all k md5 bit positions are set
    (the standard no-false-negatives / bounded-false-positives
    contract).  ``m_bits``/``k`` must match the build, like the kmv
    probes' ``k``.  The merged 1-row filter broadcasts; the check is
    per-row JVM bit arithmetic."""
    merged = bloom_union_range(sketches, start_day, end_day)
    key = F.col(probe_col)
    pr = probes
    for i in range(k):
        pr = pr.withColumn(f"__pos{i}", md5_bucket(key, i, m_bits))
    # bit0 of the shifted word IS the probed bit; arithmetic shift's
    # sign-fill is masked off by the & 1.  SQL form because the python
    # shiftright() helper only takes a literal int shift amount.
    checks = [
        F.expr(
            f"(shiftright(element_at(bits, CAST(floor(__pos{i} / 64) AS INT)"
            f" + 1), CAST(__pos{i} % 64 AS INT)) & 1) = 1"
        )
        for i in range(k)
    ]
    member = checks[0]
    for c in checks[1:]:
        member = member & c
    return pr.crossJoin(F.broadcast(merged)).select(
        key.alias("probe"), member.alias("member")
    )


def decayed_counts(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    half_life_days: float = 7.0,
    ref_ts=None,
) -> DataFrame:
    """Exponentially TIME-DECAYED activity per key — the
    recency-weighted popularity/trending metric (each event contributes
    ``2^(-age / half_life)``, so an event one half-life old counts
    half, two count a quarter, …): what "hot right now" ranks on when
    a plain count window is too coarse and a sliding window forgets
    too abruptly.

    Returns ``(*key_cols, n_events, decayed_count)`` with the decayed
    mass rounded to 4 decimals.  ``ref_ts`` (the "now" the ages are
    measured from) defaults to the corpus max timestamp, computed as a
    broadcast 1-row aggregate so the whole plan stays lazy.

    Scale shape: ONE aggregation over the event log (map-side combined
    partials — the decayed sum is just a sum of per-row JVM
    exponentials), nothing driver-side.  The same formula is an
    ANSI-SQL one-liner, so the oracle checks values.
    """
    src, w = _decay_weight(df, ts_col, half_life_days, ref_ts)
    return (
        src.groupBy(*[F.col(c) for c in key_cols])
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(w), 4).alias("decayed_count"),
        )
    )


def _decay_weight(
    df: DataFrame, ts_col: str, half_life_days: float, ref_ts
) -> tuple[DataFrame, Column]:
    """``(src, w)`` for :func:`decayed_counts` and :func:`decayed_moments`:
    ``src`` is ``df`` with the reference instant ``__ref`` crossJoined
    on as a broadcast 1-row max when ``ref_ts`` is None, and ``w`` is
    each row's weight ``2^(-age_days / half_life_days)``."""
    if half_life_days <= 0:
        raise ValueError("half_life_days must be positive")
    if ref_ts is not None:
        ref = F.lit(ref_ts).cast("timestamp")
        src = df
    else:
        mx = df.agg(F.max(F.col(ts_col)).alias("__ref"))
        src = df.crossJoin(F.broadcast(mx))
        ref = F.col("__ref")
    age_days = (epoch_secs(ref) - epoch_secs(F.col(ts_col))) / F.lit(86400.0)
    return src, F.pow(F.lit(2.0), -age_days / F.lit(half_life_days))


def seasonal_decompose(
    daily: DataFrame,
    ts_col: str = "day",
    value_col: str = "y",
    period: int = 7,
    trend_window: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method behind STL's initialization; Cleveland et al. 1990 §2):
    ``y = trend + seasonal + residual`` over a regular series —
    the "is traffic actually growing or is it just Sunday" separator
    for event volumes and crawl rates.

    ``trend`` is a CENTERED moving average over ``trend_window`` rows
    (NULL at the edges where the window is partial — a partial-window
    average would bias the ends, the standard refusal); ``seasonal``
    is the per-phase mean of the detrended series (phase = row
    position mod ``period``), centered so one full period sums to ~0;
    ``residual`` is what neither explains.  Output ``(ts, y, trend,
    seasonal, residual)`` rounded to 4.

    Scale shape: the input is an already-aggregated |days|-row series
    (the caller's one big aggregation), so the single ordered window
    here touches |days| rows — same class as fill_daily_gaps.  Phase
    means are a |period|-row broadcast."""
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if trend_window < 2 or trend_window % 2 == 0:
        raise ValueError(
            f"trend_window must be odd and >= 3, got {trend_window}"
        )
    half = trend_window // 2
    w = Window.orderBy("ts")
    wt = w.rowsBetween(-half, half)
    d1 = daily.select(
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("y"),
    ).withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(wt) == trend_window, F.avg("y").over(wt)
        ),
    ).withColumn(
        "phase", (F.row_number().over(w) - 1) % period
    ).withColumn("detr", F.col("y") - F.col("trend"))
    ph = d1.groupBy("phase").agg(F.avg("detr").alias("s_raw"))
    ph = ph.crossJoin(F.broadcast(ph.agg(F.avg("s_raw").alias("s_mean"))))
    ph = ph.select(
        "phase", (F.col("s_raw") - F.col("s_mean")).alias("seasonal_full")
    )
    return (
        d1.join(F.broadcast(ph), "phase")
        .select(
            F.col("ts").alias(ts_col),
            "y",
            F.round("trend", 4).alias("trend"),
            F.round("seasonal_full", 4).alias("seasonal"),
            F.round(
                F.col("y") - F.col("trend") - F.col("seasonal_full"), 4
            ).alias("residual"),
        )
    )


def decayed_moments(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    ts_col: str = "ts",
    half_life_days: float = 7.0,
    ref_ts=None,
) -> DataFrame:
    """Exponentially time-decayed VALUE moments per key — the
    recency-weighted mean and total behind "average order value,
    weighted toward this week" style metrics (:func:`decayed_counts`
    weights events; this weights a measure).  Each row contributes
    weight ``w = 2^(-age / half_life)``; returns ``(*key_cols,
    n_events, decayed_weight, decayed_sum, decayed_mean)`` where
    ``decayed_mean = Σ w·x / Σ w`` (NULL when every weight underflows).

    The decayed MEAN is scale-free: the reference instant multiplies
    both sums by the same factor and cancels, so streaming ledgers can
    maintain it without ever agreeing on "now".

    Scale shape: identical to :func:`decayed_counts` — ONE map-side-
    combined aggregation, broadcast 1-row max for the default
    reference; an ANSI-SQL one-liner for the oracle."""
    src, w = _decay_weight(df, ts_col, half_life_days, ref_ts)
    return (
        src.groupBy(*[F.col(c) for c in key_cols])
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(w), 4).alias("decayed_weight"),
            F.round(F.sum(w * F.col(value_col).cast("double")), 4).alias(
                "decayed_sum"
            ),
            F.round(
                F.sum(w * F.col(value_col).cast("double")) / F.sum(w), 4
            ).alias("decayed_mean"),
        )
    )


# Two-sample drift core.  KS, Mann-Whitney, CvM, AD and PSI all read
# one shape: per-cell (value or bin) counts ``ca``/``cb`` of the two
# samples plus the aligned running counts ``cum_a``/``cum_b`` and the
# totals ``n_a``/``n_b``.  The raw form builds those cells from rows
# (:func:`_drift_cells`), the rollup form from two folded bin arrays
# (:func:`_drift_ranges`); each statistic is one per-cell term plus
# one readout, written once for both forms.  A term takes ``c``, which
# maps a cell field name to its Column: ``F.col`` over raw cell rows,
# the struct's ``getField`` inside an array lambda over rollup cells.


def _drift_cells(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    caller: str,
    bins: int | None = None,
    max_distinct: int | None = None,
    empty_ok: bool = False,
) -> DataFrame:
    """Per-value cells ``(v, ca, cb, cum_a, cum_b, n_a, n_b)`` of the
    two groups' non-NULL values, with the cardinality and emptiness
    contracts ENFORCED by one construction pre-scan.

    The cells aggregate first (map-side combined); the ECDF columns
    are then an unpartitioned ordered window — ONE task over |distinct
    values| rows.  So exact mode (``bins=None``) pre-checks
    ``approx_count_distinct`` against ``max_distinct`` and raises with
    a pointer to the scale paths; ``bins=k`` instead quantizes values
    to k equal-width bins between the pooled min/max (one broadcast
    1-row aggregate) and adds ``bin``/``__lo``/``__hi`` columns, ``v``
    becoming the bin midpoint.  Unless ``empty_ok``, the same pre-scan
    raises when either group has no non-NULL value, so the statistics
    never divide by an empty sample.  The pre-scan is skipped when it
    has nothing to check (``max_distinct=None`` or bins mode, and
    ``empty_ok``)."""
    a = F.col(group_col) == F.lit(group_a)
    b = F.col(group_col) == F.lit(group_b)
    v = F.col(value_col).cast("double")
    rows = df.where((a | b) & v.isNotNull())
    if bins is not None and bins < 1:
        raise ValueError(f"{caller}: bins must be >= 1, got {bins}")
    exact = bins is None and max_distinct is not None
    checks = [F.approx_count_distinct(v).alias("ndv")] if exact else []
    if not empty_ok:
        checks += [
            F.sum(a.cast("long")).alias("n_a"),
            F.sum(b.cast("long")).alias("n_b"),
        ]
    if checks:
        pre = rows.agg(*checks).first()
        if exact and pre["ndv"] > max_distinct:
            raise ValueError(
                f"{caller}: {value_col!r} has ~{pre['ndv']} distinct values "
                f"> max_distinct={max_distinct}; the exact test's ECDF "
                "window would sort them in ONE task. Quantize first (pass "
                "bins=<k> where the test takes it), raise max_distinct if "
                "the cardinality is genuinely bounded, or use the rollup "
                "drift path (hist_ks_ranges / hist_ks_from_ledger)."
            )
        if not empty_ok and not (pre["n_a"] and pre["n_b"]):
            raise ValueError(
                f"{caller}: empty group (n_a={pre['n_a'] or 0}, "
                f"n_b={pre['n_b'] or 0}); both {group_a!r} and "
                f"{group_b!r} must match at least one non-null "
                f"{value_col!r} row."
            )
    keys = [v.alias("v")]
    if bins is not None:
        mm = rows.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
        rows = rows.crossJoin(F.broadcast(mm))
        width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
        idx = F.when(F.col("__hi") <= F.col("__lo"), F.lit(0)).otherwise(
            F.least(
                F.floor((v - F.col("__lo")) / width).cast("int"),
                F.lit(bins - 1),
            )
        )
        keys = [idx.alias("bin"), "__lo", "__hi"]
    cells = rows.groupBy(*keys).agg(
        F.sum(a.cast("long")).alias("ca"),
        F.sum(b.cast("long")).alias("cb"),
    )
    if bins is not None:
        cells = cells.withColumn(
            "v",
            F.col("__lo")
            + (F.col("bin") + F.lit(0.5)) * F.coalesce(width, F.lit(0.0)),
        )
    run = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    return cells.select(
        "*",
        F.sum("ca").over(run).alias("cum_a"),
        F.sum("cb").over(run).alias("cum_b"),
        F.sum("ca").over(tot).alias("n_a"),
        F.sum("cb").over(tot).alias("n_b"),
    )


def _drift_ranges(
    sketches: DataFrame, range_a: tuple, range_b: tuple, zero_fill: bool = False
) -> DataFrame:
    """ONE row ``(n_a, n_b, cells)`` from a :func:`hist_daily_sketches`
    rollup: each inclusive day range folds to one bin array
    (:func:`_bin_fold`), and ``cells`` is the array of per-bin
    ``struct(ca, cb, cum_a, cum_b)`` with prefix-sum running counts —
    the raw form's cell rows, over the rollup's fixed grid.

    A range matching no rollup rows folds to NULL, so its total and
    every statistic over it are NULL.  ``zero_fill`` (PSI) instead
    zero-fills it on the other range's grid; both empty stays NULL."""
    both = _bin_fold(sketches, *range_a, alias="ha").crossJoin(
        _bin_fold(sketches, *range_b, alias="hb")
    )
    if zero_fill:
        def zf(h, other):
            return F.coalesce(
                F.col(h), F.transform(other, lambda x: F.lit(0).cast("long"))
            )

        both = both.select(zf("ha", "hb").alias("ha"), zf("hb", "ha").alias("hb"))

    def total(h, upto=None):
        h = F.col(h) if upto is None else F.slice(h, 1, upto)
        return F.aggregate(h, F.lit(0).cast("long"), lambda acc, x: acc + x)

    cells = F.transform(
        "ha",
        lambda x, i: F.struct(
            x.alias("ca"),
            F.element_at("hb", i + 1).alias("cb"),
            total("ha", i + 1).alias("cum_a"),
            total("hb", i + 1).alias("cum_b"),
        ),
    )
    return both.select(
        total("ha").alias("n_a"), total("hb").alias("n_b"), cells.alias("cells")
    )


def _fold_cells(term) -> Column:
    """Left-to-right sum of ``term`` over a rollup row's ``cells``."""
    return F.aggregate(
        F.transform("cells", lambda s: term(s.getField)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ecdfs(c) -> tuple:
    """``(F_a, F_b)`` at a cell."""
    return (
        c("cum_a") / F.col("n_a").cast("double"),
        c("cum_b") / F.col("n_b").cast("double"),
    )


def _ks_gap(c) -> Column:
    """KS: the ECDF gap ``|F_a − F_b|`` at a cell (D is its max)."""
    fa, fb = _ecdfs(c)
    return F.abs(fa - fb)


def _cvm_term(c) -> Column:
    """CvM: ``t·(F_a − F_b)²`` with the cell's pooled multiplicity t."""
    fa, fb = _ecdfs(c)
    return (c("ca") + c("cb")).cast("double") * ((fa - fb) * (fa - fb))


def _ad_term(c) -> Column:
    """AD: the CvM term over ``H(1−H)`` of the pooled ECDF H.  H = 1
    at the last occupied cell (the standard N−1 truncation) and H = 0
    before the first (empty leading bins) contribute 0."""
    h = (c("cum_a") + c("cum_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    return F.when(
        (h > 0.0) & (h < 1.0), _cvm_term(c) / (h * (F.lit(1.0) - h))
    ).otherwise(F.lit(0.0))


def _psi_shares(c, min_share: float) -> tuple:
    """PSI bin shares ``(p_a, p_b)`` clamped at ``min_share``: an
    absent sample (n = 0) yields NULL, which greatest() skips, so the
    share degrades to the clamp instead of a NaN."""
    def share(x, n):
        return F.greatest(
            F.when(F.col(n) > 0, c(x) / F.col(n)), F.lit(float(min_share))
        )

    return share("ca", "n_a"), share("cb", "n_b")


def _psi_term(c, min_share: float) -> Column:
    """PSI: ``(p_a − p_b)·ln(p_a/p_b)`` at a cell."""
    pa, pb = _psi_shares(c, min_share)
    return (pa - pb) * F.log(pa / pb)


def _ks_p(d, n_a, n_b) -> Column:
    """The asymptotic KS p-value ``Q_KS(λ) = 2 Σ_{j≥1} (-1)^{j-1}
    e^{-2j²λ²}`` with Stephens' ``λ = (√n_e + 0.12 + 0.11/√n_e)·D``
    (Numerical Recipes §14.3; 100 terms — far past double underflow),
    clamped to [0, 1].  The truncated alternating series degenerates
    (all terms ~1) below λ ≈ 0.05, where the true Q_KS is 1 to ~1e-15,
    so identical distributions report p = 1.  A NULL D (an empty
    rollup range) gives a NULL p, never a significant 0."""
    ne = n_a * n_b / (n_a + n_b)
    lam = (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)) * d
    series = F.lit(2.0) * F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.pow(F.lit(-1.0), (j - 1).cast("double"))
        * F.exp(F.lit(-2.0) * j.cast("double") * j.cast("double") * lam * lam),
    )
    return F.when(lam < F.lit(0.05), F.lit(1.0)).when(
        lam >= F.lit(0.05), F.least(F.greatest(series, F.lit(0.0)), F.lit(1.0))
    )


def _ks_readout(d: DataFrame) -> DataFrame:
    """``(n_a, n_b, d_stat, p_value)`` rounded to 6 from a frame with
    ``(n_a, n_b, d_stat)``.  p is staged as its own column BEFORE the
    rounding select: a ``round(d_stat).alias("d_stat")`` in the same
    select would lateral-alias-capture p's ``d_stat`` reference onto
    the ROUNDED value and shift p at the 5th decimal."""
    withp = d.withColumn("__p", _ks_p(F.col("d_stat"), F.col("n_a"), F.col("n_b")))
    return withp.select(
        "n_a",
        "n_b",
        F.round("d_stat", 6).alias("d_stat"),
        F.round("__p", 6).alias("p_value"),
    )


def _verdict(s: DataFrame, stat: str, crit: float) -> DataFrame:
    """The CvM/AD readout ``(n_a, n_b, <stat>, critical_05, reject)``
    from a frame with ``(n_a, n_b, __s = Σ term)``: the statistic
    ``(n·m/N²)·Σ`` against its asymptotic α = 0.05 critical value —
    the limiting p is an infinite weighted-χ² series no replayable SQL
    can evaluate.  The statistic is staged as ``__t`` before rounding
    (the :func:`_ks_readout` aliasing rule); NULL in, NULL reject."""
    n = F.col("n_a").cast("double")
    m = F.col("n_b").cast("double")
    staged = s.withColumn("__t", n * m / ((n + m) * (n + m)) * F.col("__s"))
    return staged.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("__t", 6).alias(stat),
        F.round(F.lit(crit), 6).alias("critical_05"),
        (F.col("__t") > F.lit(crit)).alias("reject"),
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    bins: int | None = None,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between two groups' value
    distributions — the distribution-drift SIGNIFICANCE test behind
    "did this source's quality scores actually shift, or is it sample
    noise" (the composition/embedding drift monitors measure movement;
    this one attaches a p-value).

    ``D = max |ECDF_a - ECDF_b|`` computed exactly over the non-NULL
    values, and the classic asymptotic p-value (:func:`_ks_p`).
    Returns ONE row ``(n_a, n_b, d_stat, p_value)`` rounded to 6; an
    empty group raises ``ValueError``.

    Scale shape: the :func:`_drift_cells` contract — one per-value
    count aggregation FIRST, then the ECDF window over |distinct
    values| rows in ONE task, bounded by the ``max_distinct``
    pre-check.  For continuous columns at scale pass ``bins=k`` (D is
    then exact ON THE BINNED data), or fold pre-binned daily rollups
    via ``hist_ks_ranges`` / ``hist_ks_from_ledger`` without
    re-reading the corpus at all."""
    cells = _drift_cells(
        df, group_col, value_col, group_a, group_b, "ks_test",
        bins, max_distinct,
    )
    return _ks_readout(
        cells.groupBy("n_a", "n_b").agg(F.max(_ks_gap(F.col)).alias("d_stat"))
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns + Cramér's V effect size — "is language independent of
    source" for composition audits (the categorical sibling of
    :func:`ks_test`; V gives the magnitude the raw χ² hides at large
    n).

    ``χ² = Σ (observed - expected)² / expected`` over the contingency
    table with ``expected = row_total · col_total / n``; ``dof =
    (R-1)(C-1)``; ``V = sqrt(χ² / (n · min(R-1, C-1)))``.  Returns ONE
    row ``(n, n_a, n_b, dof, chi2, cramers_v)`` rounded to 6.

    Scale shape: one (a, b) count aggregation over the data (map-side
    combined), then everything runs on the |R·C|-row contingency table
    — two broadcast joins for the margins and scalar aggregates.  No
    row of the input survives past the first groupBy."""
    cell = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = cell.groupBy("a").agg(F.sum("o").alias("ta"))
    rb = cell.groupBy("b").agg(F.sum("o").alias("tb"))
    tot = cell.agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").alias("n_a"),
        F.countDistinct("b").alias("n_b"),
    )
    joined = (
        cell.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
    )
    # expected counts for EMPTY cells still contribute to chi2: add the
    # missing mass via the identity chi2 = n * (sum o^2/(ta*tb) - 1),
    # which covers absent (a, b) pairs without materializing them.
    chi2 = F.col("n") * (
        F.sum(
            F.col("o") * F.col("o")
            / (F.col("ta").cast("double") * F.col("tb"))
        )
        - F.lit(1.0)
    )
    agg = joined.groupBy("n", "n_a", "n_b").agg(chi2.alias("chi2"))
    dof = (F.col("n_a") - 1) * (F.col("n_b") - 1)
    kmin = F.least(F.col("n_a") - 1, F.col("n_b") - 1).cast("double")
    # a single-category column gives dof 0 and min(R-1,C-1) = 0 — V is
    # conventionally 0 there (no association is expressible), and the
    # raw formula would divide by zero (an ANSI-mode error)
    v = F.when(kmin <= 0, F.lit(0.0)).otherwise(
        F.sqrt(F.greatest(F.col("chi2"), F.lit(0.0)) / (F.col("n") * kmin))
    )
    return agg.select(
        "n",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        dof.cast("long").alias("dof"),
        F.round(F.greatest(F.col("chi2"), F.lit(0.0)), 6).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


def hist_ks_ranges(
    sketches: DataFrame,
    range_a: tuple,
    range_b: tuple,
) -> DataFrame:
    """KS drift statistic between two DATE RANGES computed from the
    :func:`hist_daily_sketches` rollup ALONE — "did last week's score
    distribution shift vs the prior month" without re-reading a single
    event: merge each range's day arrays (lossless), build both
    binned ECDFs, take ``D = max |ECDF_a - ECDF_b|`` over the common
    grid (exact up to the bin-width discretization the rollup already
    carries), plus the same asymptotic p-value as :func:`ks_test`.

    Returns ONE row ``(n_a, n_b, d_stat, p_value)``; a range matching
    no rollup rows gives NULL ``d_stat`` and ``p_value``.  Scale
    shape: two filtered sums over the |days|-row rollup + array
    expressions over ``nbins`` values — the probe never touches the
    raw log."""
    r = _drift_ranges(sketches, range_a, range_b)
    return _ks_readout(
        r.select(
            "n_a",
            "n_b",
            F.array_max(F.transform("cells", lambda s: _ks_gap(s.getField)))
            .alias("d_stat"),
        )
    )


def mannwhitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    bins: int | None = None,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Mann-Whitney U rank-sum test between two groups — the
    nonparametric location-shift test completing the drift family
    (:func:`ks_test` asks "any distribution difference?"; this asks
    "does one group tend to be LARGER?", robust to outliers where a
    t-test is not).

    Exact tie handling: average ranks per tied value group, the normal
    approximation with the standard tie-corrected variance
    ``σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1)))`` and a 0.5
    continuity correction; Φ is the Abramowitz-Stegun 26.2.17
    polynomial (|ε| < 7.5e-8 — far inside the 6-decimal rounding), so
    the p-value is pure deterministic arithmetic an external replayer
    reproduces exactly.  Returns ONE row ``(n_a, n_b, u_stat, z,
    p_value)`` (U for group a; two-sided p); NULL values are dropped
    and an empty group raises ``ValueError``.

    Scale shape: the :func:`ks_test` cells and window contract
    (:func:`_drift_cells`); ``bins=k`` values tie WITHIN a bin, and
    the tie-corrected variance absorbs that — the usual
    rank-test-on-histogram approximation."""
    cells = _drift_cells(
        df, group_col, value_col, group_a, group_b, "mannwhitney_u",
        bins, max_distinct,
    )
    t = F.col("ca") + F.col("cb")
    # average rank of this tied value group: ranks before it + (t+1)/2
    avgrank = (F.col("cum_a") + F.col("cum_b") - t) + (t + 1) / F.lit(2.0)
    agg = cells.groupBy("n_a", "n_b").agg(
        F.sum(F.col("ca") * avgrank).alias("r_a"),
        F.sum(t.cast("double") * t * t - t).alias("tie_mass"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    u = F.col("r_a") - na * (na + 1) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    var = (
        na * nb / F.lit(12.0)
        * ((n + 1) - F.col("tie_mass") / (n * (n - 1)))
    )
    # continuity-corrected z; degenerate var (all values tied) -> z = 0
    z = F.when(var <= 0, F.lit(0.0)).otherwise(
        F.greatest(F.abs(u - mu) - F.lit(0.5), F.lit(0.0)) / F.sqrt(var)
    )
    p = _two_sided_normal_p(z)
    staged = agg.withColumn("__u", u).withColumn("__z", z).withColumn(
        "__p", F.least(p, F.lit(1.0))
    )
    return staged.select(
        "n_a",
        "n_b",
        F.round("__u", 4).alias("u_stat"),
        F.round("__z", 6).alias("z"),
        F.round("__p", 6).alias("p_value"),
    )


def _two_sided_normal_p(z):
    """``2·(1−Φ(z))`` for a column ``z ≥ 0`` — the Abramowitz-Stegun
    26.2.17 polynomial (|ε| < 7.5e-8, far inside the 6-decimal output
    rounding), pure deterministic arithmetic both engines replay
    bit-for-bit.  Shared by every normal-approximation test here
    (:func:`mannwhitney_u`, :func:`welch_ttest`,
    :func:`group_mean_shift_tests`).  Callers clamp to [0, 1]."""
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * z)
    poly = tt * (
        F.lit(0.319381530)
        + tt * (
            F.lit(-0.356563782)
            + tt * (
                F.lit(1.781477937)
                + tt * (F.lit(-1.821255978) + tt * F.lit(1.330274429))
            )
        )
    )
    pdf = F.exp(-z * z / F.lit(2.0)) / F.lit(2.5066282746310002)
    return F.lit(2.0) * (pdf * poly)


def _normal_upper_p(z):
    """One-sided ``P(Z > z) = 1 − Φ(z)`` through the shared polynomial
    (:func:`_two_sided_normal_p`): half the two-sided tail for
    ``z ≥ 0``, one minus it below.  Callers clamp to [0, 1]."""
    half = _two_sided_normal_p(F.abs(z)) / F.lit(2.0)
    return F.when(z >= 0, half).otherwise(F.lit(1.0) - half)


def _chi2_upper_p(stat, dof):
    """``P(χ²_dof > stat)`` clamped to [0, 1], by the Wilson-Hilferty
    cube-root normal approximation
    ``z = ((stat/ν)^⅓ − (1 − 2/9ν)) / √(2/9ν)`` (``z = 0``, so p ≈ ½,
    when ``ν`` or ``stat`` is not positive) and :func:`_normal_upper_p`
    — the engine-replayable tail of every χ² test here."""
    z = F.when(
        (dof > 0) & (stat > 0),
        (
            F.pow(stat / dof, F.lit(1.0 / 3.0))
            - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof))
        )
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dof)),
    ).otherwise(F.lit(0.0))
    return F.least(F.greatest(_normal_upper_p(z), F.lit(0.0)), F.lit(1.0))


def _two_group_moments(
    df: DataFrame, group_col: str, value_col: str, group_a, group_b
) -> DataFrame:
    """The moments of a two-group mean comparison, from ONE filtered
    aggregation over the non-NULL values of both groups (map-side
    combined).  Returns one row: ``na``/``nb`` (long counts), ``sa``/
    ``sb`` (Σv), ``qa``/``qb`` (Σv²), the means ``ma``/``mb`` and the
    sample variances ``va``/``vb`` by the sum-of-squares identity — 0
    below two values, and clamped at 0 because a negative one is pure
    float cancellation noise."""
    a = F.col(group_col) == F.lit(group_a)
    b = F.col(group_col) == F.lit(group_b)
    v = F.col(value_col).cast("double")
    agg = df.where((a | b) & v.isNotNull()).agg(
        F.sum(a.cast("long")).alias("na"),
        F.sum(b.cast("long")).alias("nb"),
        F.sum(F.when(a, v)).alias("sa"),
        F.sum(F.when(b, v)).alias("sb"),
        F.sum(F.when(a, v * v)).alias("qa"),
        F.sum(F.when(b, v * v)).alias("qb"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    means = agg.select(
        "*", (F.col("sa") / na).alias("ma"), (F.col("sb") / nb).alias("mb")
    )

    def var(n, s, q, m):
        return F.greatest(
            F.when(n > 1, (F.col(q) - F.col(s) * F.col(m)) / (n - 1)),
            F.lit(0.0),
        )

    return means.select(
        "*", var(na, "sa", "qa", "ma").alias("va"), var(nb, "sb", "qb", "mb").alias("vb")
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test — the mean-shift
    member of the drift-test family (:func:`ks_test` asks "any
    distribution change?", :func:`mannwhitney_u` "did the location
    shift, robustly?", this one "did the MEAN shift?", the question
    billing/throughput metrics actually need answered).

    ``t = (x̄_a − x̄_b) / √(s²_a/n_a + s²_b/n_b)`` with
    Welch–Satterthwaite degrees of freedom; the two-sided p-value uses
    the NORMAL approximation to the t distribution (Φ via
    :func:`_two_sided_normal_p`) — at the corpus sizes this engine
    profiles, df is in the thousands where t and normal agree to well
    under the 6-decimal rounding (document-level caveat: below df≈30
    the p is anti-conservative; use a local stats package for tiny
    samples).  Returns ONE row ``(n_a, n_b, mean_a, mean_b, t_stat,
    dof, p_value)`` over the non-NULL values.

    Scale shape: ONE conditional aggregation over the stream (count /
    sum / sum-of-squares per group, map-side combined) — no window, no
    join, nothing survives the first groupBy."""
    m = _two_group_moments(df, group_col, value_col, group_a, group_b)
    sa = F.col("va") / F.col("na")
    sb = F.col("vb") / F.col("nb")
    se2 = sa + sb
    t = F.when(se2 > 0, (F.col("ma") - F.col("mb")) / F.sqrt(se2))
    dof = F.when(
        se2 > 0,
        se2 * se2
        / (
            sa * sa / F.greatest(F.col("na") - 1, F.lit(1))
            + sb * sb / F.greatest(F.col("nb") - 1, F.lit(1))
        ),
    )
    staged = m.select("na", "nb", "ma", "mb", t.alias("__t"), dof.alias("__dof"))
    p = F.when(
        F.col("__t").isNull(), F.lit(1.0)
    ).otherwise(
        F.least(_two_sided_normal_p(F.abs(F.col("__t"))), F.lit(1.0))
    )
    return staged.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round(F.coalesce(F.col("__t"), F.lit(0.0)), 6).alias("t_stat"),
        F.round(F.coalesce(F.col("__dof"), F.lit(0.0)), 4).alias("dof"),
        F.round(p, 6).alias("p_value"),
    )


def group_mean_shift_tests(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-vs-rest Welch z-test per group: for EVERY group
    simultaneously, "does this group's mean differ from everyone
    else's?" — the screening stage of a drift audit (its p-values are
    exactly what :func:`bh_fdr` then corrects for multiple testing).

    One row per group: ``(group, n, mean, rest_mean, z, p_value)``,
    where the rest-statistics are the complements (global − group) so
    EVERYTHING comes out of a single aggregation pass — |groups| tests
    cost one shuffle, not |groups| jobs.

    Scale shape: one per-group aggregation (count/sum/sumsq, map-side
    combined) + one global rollup crossJoined back (broadcast 1-row);
    the z/p arithmetic runs on |groups| rows."""
    v = F.col(value_col).cast("double")
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("__s1"),
        F.sum(v * v).alias("__s2"),
    )
    tot = per.agg(
        F.sum("n").alias("__tn"),
        F.sum("__s1").alias("__ts1"),
        F.sum("__s2").alias("__ts2"),
    )
    j = per.crossJoin(F.broadcast(tot))
    n = F.col("n").cast("double")
    rn = (F.col("__tn") - F.col("n")).cast("double")
    m = F.col("__s1") / n
    rm = (F.col("__ts1") - F.col("__s1")) / rn
    var = F.greatest(
        F.when(n > 1, (F.col("__s2") - F.col("__s1") * m) / (n - 1)),
        F.lit(0.0),
    )
    rvar = F.greatest(
        F.when(
            rn > 1,
            (F.col("__ts2") - F.col("__s2") - (F.col("__ts1") - F.col("__s1")) * rm)
            / (rn - 1),
        ),
        F.lit(0.0),
    )
    staged = j.where(rn > 0).select(
        "group",
        "n",
        m.alias("__m"),
        rm.alias("__rm"),
        (var / n + rvar / rn).alias("__se2"),
    )
    z = F.when(
        F.col("__se2") > 0,
        F.abs(F.col("__m") - F.col("__rm")) / F.sqrt(F.col("__se2")),
    ).otherwise(F.lit(0.0))
    staged2 = staged.withColumn("__z", z)
    return staged2.select(
        "group",
        "n",
        F.round("__m", 6).alias("mean"),
        F.round("__rm", 6).alias("rest_mean"),
        F.round("__z", 6).alias("z"),
        F.round(
            F.least(_two_sided_normal_p(F.col("__z")), F.lit(1.0)), 6
        ).alias("p_value"),
    )


def bh_fdr(
    tests: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction over a table
    of test p-values — run 200 per-source drift tests at p<0.05 and
    ~10 "drifts" are expected by chance alone; BH is the standard fix
    (Benjamini & Hochberg 1995, JRSS-B).

    Ranks p ascending (test name tie-break, so runs are
    engine-replayable), computes ``q_i = min_{j≥i} p_(j)·m/j`` (the
    step-up adjusted value, monotone-enforced by a running min from the
    largest p down), and flags ``reject = q ≤ alpha``.  Returns
    ``(test, p_value, rank, m, q_value, reject)``.

    Scale shape: |tests| rows END-TO-END — the input is one row per
    already-aggregated test (the output of :func:`ks_test`-family runs
    or :func:`group_mean_shift_tests`), so the two ordered windows sort
    hundreds of rows, not data.  This operator must never be pointed at
    raw events; it corrects TESTS."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    rk = Window.orderBy(F.col("__p").asc(), F.col("__test").asc())
    staged = tests.select(
        F.col(test_col).cast("string").alias("__test"),
        F.col(p_col).cast("double").alias("__p"),
    ).select(
        "__test",
        "__p",
        F.row_number().over(rk).alias("__rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__m"),
    )
    qraw = F.col("__p") * F.col("__m") / F.col("__rank")
    staged2 = staged.withColumn("__qraw", qraw)
    down = Window.orderBy(F.col("__rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    q = F.least(F.min("__qraw").over(down), F.lit(1.0))
    staged3 = staged2.withColumn("__q", q)
    return staged3.select(
        F.col("__test").alias("test"),
        F.round("__p", 6).alias("p_value"),
        F.col("__rank").alias("rank"),
        F.col("__m").alias("m"),
        F.round("__q", 6).alias("q_value"),
        (F.col("__q") <= F.lit(alpha)).alias("reject"),
    )


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column —
    the classic fabricated/corrupted-numbers screen for ingested
    financial or metric feeds (Nigrini's forensic-accounting standard):
    naturally occurring multi-magnitude values have first significant
    digit d with probability ``log10(1 + 1/d)``; synthetic or truncated
    feeds don't.

    Returns one row per OBSERVED digit ``(digit, n, obs_p, exp_p)``
    plus two table-level conformity stats repeated on each row: ``mad``
    (Nigrini's mean absolute deviation over all 9 digits — < 0.006 is
    "close conformity") and ``chi2`` (8 dof).  Both use identities that
    stay exact when a digit never occurs: ``χ² = n·(Σ obs²/exp − 1)``
    and ``mad = (Σ|obs−exp| + (1 − Σ_observed exp))/9``.

    The digit is extracted through the value's STRING form (strip
    everything outside [1-9], take the first survivor): scientific and
    positional notations agree on the first significant digit, and this
    dodges the ``floor(log10(1000.0)) = 2.9999…`` float trap that makes
    the arithmetic extraction misclassify exact powers of ten.

    Scale shape: one digit-keyed count aggregation (map-side combined
    to ≤9 partials); everything downstream runs on ≤9 rows."""
    digit_s = F.substring(
        F.regexp_replace(F.col(value_col).cast("string"), "[^1-9]", ""), 1, 1
    )
    per = (
        df.where(F.col(value_col).isNotNull())
        .select(digit_s.alias("__d"))
        .where(F.col("__d") != "")
        .groupBy(F.col("__d").cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy()
    exp_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    staged = per.select(
        "digit",
        "n",
        (F.col("n") / F.sum("n").over(tot)).alias("__obs"),
        exp_p.alias("__exp"),
        F.sum("n").over(tot).alias("__tot"),
    )
    chi2 = F.col("__tot") * (
        F.sum(F.col("__obs") * F.col("__obs") / F.col("__exp")).over(tot)
        - F.lit(1.0)
    )
    mad = (
        F.sum(F.abs(F.col("__obs") - F.col("__exp"))).over(tot)
        + (F.lit(1.0) - F.sum("__exp").over(tot))
    ) / F.lit(9.0)
    return staged.select(
        "digit",
        "n",
        F.round("__obs", 6).alias("obs_p"),
        F.round("__exp", 6).alias("exp_p"),
        F.round(mad, 6).alias("mad"),
        F.round(F.greatest(chi2, F.lit(0.0)), 6).alias("chi2"),
    )


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Weight-aware per-group quantiles: the smallest value whose
    cumulative weight reaches ``q`` of the group's total — "the median
    quality score weighted by TOKEN COUNT" is a different (and for
    training-mix decisions, the right) number than the per-document
    median, because a 100k-token document should move the threshold
    100k times more than a tweet.

    Peer-inclusive RANGE cumulative frame (SQL default), so rows tied
    on the value agree on their cumulative weight in every engine and
    the answer is deterministic under any tie order.  Negative weights
    raise at plan time via an in-plan guard; zero-weight rows can never
    be selected below q=1.

    Returns one row per group: ``(group, total_weight, q<q>...)`` with
    one column per requested quantile.

    Scale shape: one window pass PARTITIONED BY GROUP ordered by value
    (a per-group sort — the honest cost of an exact weighted quantile;
    groups parallelize across the cluster) + one per-group aggregation.
    For corpus-wide single-group use at 100 TB, pre-bin values first
    (hist_daily_sketches) — one global sort is the thing this engine
    never does."""
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"quantiles must be in (0, 1], got {qs}")
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    cum = Window.partitionBy("__g").orderBy("__v")  # default RANGE frame
    tot = Window.partitionBy("__g")
    staged = df.select(
        F.col(group_col).alias("__g"),
        v.alias("__v"),
        # lazy in-plan validation (F.assert_true returns NULL on
        # success — coalesce keeps the weight itself on the happy path)
        F.coalesce(
            F.when(w >= 0, w),
            F.raise_error(F.concat(F.lit("negative weight: "), w)),
        ).alias("__w"),
    ).select(
        "__g",
        "__v",
        F.sum("__w").over(cum).alias("__cw"),
        F.sum("__w").over(tot).alias("__tw"),
    )
    aggs = [
        F.min(
            F.when(F.col("__cw") >= F.lit(q) * F.col("__tw"), F.col("__v"))
        ).alias(f"q{str(q).replace('.', '_')}")
        for q in qs
    ]
    return staged.groupBy(F.col("__g").alias("group")).agg(
        # __tw is constant within the group; max is the engine-neutral
        # way to say "the one value" (first() is order-dependent)
        F.round(F.max("__tw"), 6).alias("total_weight"), *aggs
    )


def psi(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    bins: int = 10,
    min_share: float = 1e-4,
) -> DataFrame:
    """Population Stability Index between two groups' value
    distributions — the model-monitoring industry's standard drift
    number (banking scorecards onward): ``PSI = Σ (p_i − q_i)·ln(p_i/q_i)``
    over equal-width bins, with the usual reading <0.1 stable /
    0.1–0.25 moderate / >0.25 shifted.  The KS family answers "is the
    difference statistically real?"; PSI answers "how big is it on a
    scale ops teams alarm on".

    Bin edges are equal-width between the POOLED min/max (the
    :func:`_drift_cells` quantization), so both groups share the grid;
    bin shares clamp at ``min_share`` (the standard fix — PSI is
    infinite on a truly empty cell, and the clamp is stated in every
    scorecard manual), so an entirely-absent group measures
    "everything moved" instead of raising.  Returns one row per
    occupied bin ``(bin, lo, hi, p_a, p_b, term)`` plus the total
    stamped on each row (``psi``), all rounded to 6.

    Scale shape: one broadcast min/max + ONE bin-keyed count
    aggregation (map-side combined to ≤bins partials); everything
    after runs on ≤bins rows, with no construction job."""
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    if not (0.0 < min_share < 0.5):
        raise ValueError(f"min_share must be in (0, 0.5), got {min_share}")
    cells = _drift_cells(
        df, group_col, value_col, group_a, group_b, "psi",
        bins=bins, empty_ok=True,
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    pa, pb = _psi_shares(F.col, min_share)
    staged = cells.select(
        "bin",
        (F.col("__lo") + F.col("bin") * width).alias("__blo"),
        (F.col("__lo") + (F.col("bin") + 1) * width).alias("__bhi"),
        pa.alias("__pa"),
        pb.alias("__pb"),
        _psi_term(F.col, min_share).alias("__term"),
    )
    return staged.select(
        "bin",
        F.round("__blo", 6).alias("lo"),
        F.round("__bhi", 6).alias("hi"),
        F.round("__pa", 6).alias("p_a"),
        F.round("__pb", 6).alias("p_b"),
        F.round("__term", 6).alias("term"),
        F.round(F.sum("__term").over(Window.partitionBy()), 6).alias("psi"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Kruskal-Wallis H rank test — "do ANY of these k groups differ in
    location?", the k-group generalization of :func:`mannwhitney_u`
    (run it first; pairwise tests only where it fires, then
    :func:`bh_fdr` the pairs).

    Tie-corrected ``H = [(12/(n(n+1))) Σ R_g²/n_g − 3(n+1)] / (1 −
    Σ(t³−t)/(n³−n))`` with average ranks per tied value.  The p-value
    uses the Wilson-Hilferty cube-root chi-squared approximation
    (chi2(ν) ≈ ν·(1 − 2/9ν + z√(2/9ν))³, inverted through the shared
    A&S Φ polynomial) — accurate to ~1e-4 for ν ≥ 2, stated here
    because the exact incomplete-gamma is not expressible as
    replayable SQL arithmetic.  Returns ONE row ``(k, n, h_stat,
    dof, p_value)``.

    Scale shape: one (group, value) count aggregation, then the
    ordered rank window runs over |distinct values| rows — the same
    single-task contract as :func:`ks_test`, ENFORCED by the same
    ``max_distinct`` pre-check (bin upstream for continuous columns)."""
    v = F.col(value_col).cast("double")
    # drop NULL values up front (like spearman_corr/psi): a NULL would
    # otherwise form its own rank group counted into n and the tie
    # mass, AND Spark's window sorts NULLS FIRST where ANSI/DuckDB
    # default NULLS LAST — ranks and H would diverge across engines
    df = df.where(v.isNotNull())
    ndv = df.agg(F.approx_count_distinct(v).alias("__ndv")).first()["__ndv"]
    if ndv > max_distinct:
        raise ValueError(
            f"kruskal_wallis: {value_col!r} has ~{ndv} distinct values > "
            f"max_distinct={max_distinct}; quantize upstream (the rank "
            "window is ONE task over the distinct values)."
        )
    per = df.groupBy(
        v.alias("v"), F.col(group_col).alias("g")
    ).agg(F.count(F.lit(1)).alias("c"))
    tv = per.groupBy("v").agg(F.sum("c").alias("t"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = tv.select(
        "v",
        "t",
        ((F.sum("t").over(wcum) - F.col("t")) + (F.col("t") + 1) / F.lit(2.0))
        .alias("avgrank"),
    )
    joined = per.join(ranked, "v")
    per_g = joined.groupBy("g").agg(
        F.sum("c").alias("ng"),
        F.sum(F.col("c") * F.col("avgrank")).alias("rg"),
    )
    tot = ranked.agg(
        F.sum("t").alias("n"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_mass"),
        F.count(F.lit(1)).alias("__nv"),
    )
    agg = per_g.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).alias("k"),
        F.max("n").alias("n"),
        F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("__s"),
        F.max("tie_mass").alias("__tm"),
    )
    n = F.col("n").cast("double")
    h_raw = F.lit(12.0) / (n * (n + 1)) * F.col("__s") - F.lit(3.0) * (n + 1)
    tie_corr = F.lit(1.0) - F.col("__tm") / (n * n * n - n)
    h = F.when(tie_corr > 0, h_raw / tie_corr).otherwise(F.lit(0.0))
    staged = agg.withColumn("__h", F.greatest(h, F.lit(0.0))).withColumn(
        "__dof", (F.col("k") - 1).cast("double")
    )
    p = _chi2_upper_p(F.col("__h"), F.col("__dof"))
    return staged.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round("__h", 6).alias("h_stat"),
        F.col("__dof").cast("long").alias("dof"),
        F.round(p, 6).alias("p_value"),
    )


def trend_tests(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Daily-series trend detection: Theil-Sen slope + Mann-Kendall
    test over the per-day aggregate of ``value_col`` — "is this metric
    drifting over time, robustly?" (both are rank/median-based, so one
    outage day cannot fake or hide a trend the way OLS lets it).

    The series is the per-day MEAN of the value (one aggregation —
    the trend of interest for quality/score monitoring).  Over the
    |days|-row series: all C(|days|, 2) day pairs give
    ``slope_ij = (v_j − v_i)/(days_j − days_i)``; Theil-Sen = the
    exact MEDIAN pairwise slope (percentile over the pair table),
    Mann-Kendall S = Σ sign(v_j − v_i) with the normal approximation
    ``z = (S ∓ 1)/σ, σ² = n(n−1)(2n+5)/18`` (continuity-corrected,
    no value ties assumed beyond exact equality contributing 0 to S)
    and the shared Φ polynomial for the two-sided p.  Returns ONE row
    ``(n_days, sen_slope, mk_s, z, p_value)``.

    Scale shape: the corpus collapses to |days| rows FIRST; the pair
    self-join is C(|days|,2) ≈ 66k rows at a year of data — a rollup
    diagnostic, never a corpus op."""
    day = F.to_date(F.col(ts_col))
    daily = df.groupBy(day.alias("d")).agg(
        F.avg(F.col(value_col).cast("double")).alias("v")
    )
    a = daily.select(
        F.col("d").alias("d1"), F.col("v").alias("v1"),
        F.datediff(F.col("d"), F.lit("1970-01-01")).alias("e1"),
    )
    b = daily.select(
        F.col("d").alias("d2"), F.col("v").alias("v2"),
        F.datediff(F.col("d"), F.lit("1970-01-01")).alias("e2"),
    )
    pairs = a.join(b, F.col("e1") < F.col("e2")).select(
        ((F.col("v2") - F.col("v1")) / (F.col("e2") - F.col("e1"))).alias(
            "slope"
        ),
        F.signum(F.col("v2") - F.col("v1")).alias("sgn"),
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    agg = pairs.agg(
        F.percentile("slope", F.lit(0.5)).alias("__sen"),
        F.sum("sgn").alias("__s"),
    ).crossJoin(F.broadcast(n_days))
    n = F.col("n_days").cast("double")
    var = n * (n - 1) * (2 * n + 5) / F.lit(18.0)
    s = F.col("__s")
    z = F.when(var <= 0, F.lit(0.0)).otherwise(
        F.when(s > 0, (s - 1) / F.sqrt(var))
        .when(s < 0, (s + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    staged = agg.withColumn("__z", z)
    p = F.least(_two_sided_normal_p(F.abs(F.col("__z"))), F.lit(1.0))
    return staged.select(
        "n_days",
        F.round("__sen", 6).alias("sen_slope"),
        F.col("__s").cast("double").alias("mk_s"),
        F.round("__z", 6).alias("z"),
        F.round(p, 6).alias("p_value"),
    )


def jackknife_ratio(
    df: DataFrame,
    group_col,
    num_col,
    den_col,
    z: float = 1.959964,
) -> DataFrame:
    """Delete-one-group jackknife standard error for a RATIO OF SUMS —
    revenue per session, tokens per document, CTR: the denominator is
    random too, so the naive binomial/normal SE is wrong, and the
    delete-one-group jackknife (Quenouille/Tukey; the ratio-metric
    workhorse of large-scale experimentation) is the standard fix.

    ``group_col`` is the deletion unit (days for time series, user
    buckets for experiments) and may be a string column name or a
    Column expression; ``num_col``/``den_col`` likewise.  Replicates
    ``R₍₋g₎ = (N−n_g)/(D−d_g)`` feed ``SE² = (G−1)/G · Σ(R₍₋g₎−R̄)²``
    via the sum/sum-of-squares identity (one pass over the |groups|
    rollup).  Groups whose deletion empties the denominator are
    EXCLUDED from the replicates (their R₍₋g₎ is undefined) — G counts
    the usable ones.  Returns ONE row ``(n_groups, ratio, jack_se,
    ci_lo, ci_hi)`` at the ±z normal interval (default 95%).

    Scale shape: ONE per-group aggregation over the stream (map-side
    combined), a broadcast 1-row total, and scalar arithmetic over
    |groups| rows."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    num = (F.col(num_col) if isinstance(num_col, str) else num_col).cast(
        "double"
    )
    den = (F.col(den_col) if isinstance(den_col, str) else den_col).cast(
        "double"
    )
    per = df.groupBy(g.alias("__g")).agg(
        F.sum(F.coalesce(num, F.lit(0.0))).alias("__n"),
        F.sum(F.coalesce(den, F.lit(0.0))).alias("__d"),
    )
    tot = per.agg(F.sum("__n").alias("__tn"), F.sum("__d").alias("__td"))
    reps = per.crossJoin(F.broadcast(tot)).select(
        "__tn",
        "__td",
        F.when(
            F.col("__td") - F.col("__d") != 0,
            (F.col("__tn") - F.col("__n")) / (F.col("__td") - F.col("__d")),
        ).alias("__r"),
    )
    agg = reps.agg(
        F.max("__tn").alias("__tn"),
        F.max("__td").alias("__td"),
        F.count("__r").alias("__G"),
        F.sum("__r").alias("__sr"),
        F.sum(F.col("__r") * F.col("__r")).alias("__sr2"),
    )
    G = F.col("__G").cast("double")
    ratio = F.when(F.col("__td") != 0, F.col("__tn") / F.col("__td")).otherwise(
        F.lit(0.0)
    )
    var = F.when(
        G > 1,
        (G - 1)
        / G
        * F.greatest(
            F.col("__sr2") - F.col("__sr") * F.col("__sr") / G, F.lit(0.0)
        ),
    ).otherwise(F.lit(0.0))
    staged = agg.select(
        F.col("__G").alias("n_groups"),
        ratio.alias("__ratio"),
        F.sqrt(var).alias("__se"),
    )
    return staged.select(
        "n_groups",
        F.round("__ratio", 6).alias("ratio"),
        F.round("__se", 6).alias("jack_se"),
        F.round(F.col("__ratio") - F.lit(z) * F.col("__se"), 6).alias("ci_lo"),
        F.round(F.col("__ratio") + F.lit(z) * F.col("__se"), 6).alias("ci_hi"),
    )


def hist_psi_ranges(
    sketches: DataFrame,
    range_a: tuple,
    range_b: tuple,
    min_share: float = 1e-4,
) -> DataFrame:
    """Population Stability Index between two DATE RANGES computed
    from the :func:`hist_daily_sketches` rollup ALONE — the magnitude
    twin of :func:`hist_ks_ranges`, and :func:`psi`'s 100 TB path: the
    daily bin rows fold losslessly, so the probe never re-reads the
    event log.  Bin shares clamp at ``min_share`` exactly like
    :func:`psi` (a bin empty on BOTH sides contributes exactly 0, so
    summing over the rollup's fixed grid equals summing over occupied
    bins — the oracle exploits that).

    Returns ONE row ``(n_a, n_b, psi)``.  A range that matches zero
    rollup rows folds to a zero histogram on the other side's grid, so
    the clamp measures "everything moved"; if BOTH ranges are empty
    there is no grid to borrow and ``psi`` is NULL.  Scale shape: two
    filtered sums over the |days|-row rollup + one ``nbins``-length
    array fold."""
    if not (0.0 < min_share < 0.5):
        raise ValueError(f"min_share must be in (0, 0.5), got {min_share}")
    r = _drift_ranges(sketches, range_a, range_b, zero_fill=True)
    psi_val = _fold_cells(lambda c: _psi_term(c, min_share))
    return r.select("n_a", "n_b", F.round(psi_val, 6).alias("psi"))


def cusum_changepoints(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    k: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Tabular CUSUM change-point monitoring over the daily series
    (Page 1954): the one-sided cumulative sums

        S⁺_t = max(0, S⁺_{t-1} + z_t − k)
        S⁻_t = max(0, S⁻_{t-1} − z_t − k)

    over standardized daily means z_t, alarming where either exceeds
    ``h`` — detects small persistent shifts EWMA/thresholds miss,
    complementing :func:`trend_tests` (trend asks "monotone drift?",
    CUSUM asks "when did the level change?").

    Closed form instead of a sequential fold: with ``P_t = Σ_{i≤t}
    (z_i − k)``, the recursion unrolls to ``S⁺_t = P_t − min_{j≤t}
    min(P_j, 0-shifted prefix)`` — concretely ``S⁺_t = P_t −
    min(0, min_{j≤t} P_j)`` where the inner min runs over prefixes
    INCLUDING the empty one — so two prefix-sum windows + two running
    extrema replace the per-row state machine and both engines replay
    it exactly.  Standardization uses the series' own mean/std (one
    broadcast 1-row aggregate; std 0 ⇒ all z 0).

    Returns one row per day: ``(day, value, z, s_pos, s_neg, alarm)``
    rounded to 6.  Scale shape: the corpus collapses to |days| rows
    FIRST; every window runs over that calendar-bounded rollup."""
    if h <= 0:
        raise ValueError(f"h must be > 0, got {h}")
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    day = F.to_date(F.col(ts_col))
    daily = df.groupBy(day.alias("day")).agg(
        F.avg(F.col(value_col).cast("double")).alias("v")
    )
    mom = daily.agg(
        F.avg("v").alias("__m"),
        F.stddev_samp("v").alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    z = F.when(
        F.coalesce(F.col("__s"), F.lit(0.0)) > 0,
        (F.col("v") - F.col("__m")) / F.col("__s"),
    ).otherwise(F.lit(0.0))
    staged = daily.crossJoin(F.broadcast(mom)).select(
        "day", "v", z.alias("__z")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pp = F.sum(F.col("__z") - F.lit(float(k))).over(w)
    pn = F.sum(-F.col("__z") - F.lit(float(k))).over(w)
    staged2 = staged.select(
        "day", "v", "__z", pp.alias("__pp"), pn.alias("__pn")
    )
    # S_t = P_t - min(0, running min of P): the empty prefix is 0
    s_pos = F.col("__pp") - F.least(F.lit(0.0), F.min("__pp").over(w))
    s_neg = F.col("__pn") - F.least(F.lit(0.0), F.min("__pn").over(w))
    staged3 = staged2.select(
        "day",
        "v",
        "__z",
        s_pos.alias("__sp"),
        s_neg.alias("__sn"),
    )
    return staged3.select(
        F.col("day").cast("string").alias("day"),
        F.round("v", 6).alias("value"),
        F.round("__z", 6).alias("z"),
        F.round("__sp", 6).alias("s_pos"),
        F.round("__sn", 6).alias("s_neg"),
        (
            (F.col("__sp") > F.lit(float(h)))
            | (F.col("__sn") > F.lit(float(h)))
        ).alias("alarm"),
    )


def acf_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function of the daily-mean series at lags
    1..``max_lag`` — the seasonality detector that tells you WHICH
    period to hand :func:`seasonal_decompose` (a weekly cycle shows as
    a spike at lag 7), using the standard full-series-mean estimator
    ``r_l = Σ(x_t−x̄)(x_{t−l}−x̄) / Σ(x_t−x̄)²``.

    Pairs join on CALENDAR arithmetic (``day_b = day_a + l days``),
    not row offsets, so a missing day drops its pairs instead of
    sliding every later lag onto the wrong alignment (the exact bug
    row-offset lag() has on gapped series).  Returns one row per lag:
    ``(lag, n_pairs, acf)`` rounded to 6; a zero-variance series
    reports acf 0.

    Scale shape: the corpus collapses to |days| rows first; the lag
    pairing is one |days|×max_lag explode + an equi-join of two
    calendar-bounded rollups."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    day = F.to_date(F.col(ts_col))
    daily = df.groupBy(day.alias("d")).agg(
        F.avg(F.col(value_col).cast("double")).alias("v")
    )
    # |days| rows; the mean, moment, and both lag-pair branches below
    # all reference this rollup — persisting it pins ONE corpus scan
    # (before round 10 the four branches re-scanned the corpus 4x)
    return acf_over_daily(daily.persist(), max_lag)


def acf_over_daily(daily: DataFrame, max_lag: int = 7) -> DataFrame:
    """The ACF arithmetic over an ALREADY-ROLLED-UP daily-mean frame
    ``(d, v)`` — shared by :func:`acf_daily` (which builds and
    persists the rollup) and :func:`dominant_period` (which extends
    the same rollup with the day count so the Bartlett bound rides
    the identical single corpus scan)."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    mean_row = daily.agg(F.avg("v").alias("__m"))
    mom = (
        daily.crossJoin(F.broadcast(mean_row))
        .agg(
            F.max("__m").alias("__m"),
            F.sum(
                (F.col("v") - F.col("__m")) * (F.col("v") - F.col("__m"))
            ).alias("__ss"),
        )
    )
    lagged = daily.select(
        "d", "v", F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag")
    ).select(F.date_add("d", F.col("lag")).alias("d"), "lag",
             F.col("v").alias("v_lag"))
    pairs = daily.join(lagged, "d").crossJoin(F.broadcast(mom))
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (F.col("v") - F.col("__m")) * (F.col("v_lag") - F.col("__m"))
        ).alias("__num"),
        F.max("__ss").alias("__den"),
    )
    acf = F.when(F.col("__den") > 0, F.col("__num") / F.col("__den")).otherwise(
        F.lit(0.0)
    )
    return agg.select(
        "lag", "n_pairs", F.round(acf, 6).alias("acf")
    ).orderBy("lag")


def spearman_corr(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    robust monotone-association twin of the Pearson
    :func:`correlation_matrix` (outlier-immune, catches nonlinear but
    monotone relationships Pearson understates).

    Computed WITHOUT ranking raw rows: aggregate to (a, b) PAIR counts
    first, derive each side's average ranks from its own marginal
    (the Mann-Whitney tie convention), then weighted Pearson over the
    pair table — algebraically identical to ranking every row, at
    |distinct pairs| cost.  Returns ONE row ``(n, rho)`` rounded to 6;
    constant columns report rho 0.

    Scale shape: one (a, b) count aggregation (map-side combined),
    two marginal rollups with ordered windows over |distinct values|
    rows — the same enforced bounded-cardinality contract as
    :func:`ks_test` (``max_distinct`` pre-check; quantize upstream for
    continuous columns) — and one weighted-moment aggregation over the
    pair table."""
    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    base = df.where(a.isNotNull() & b.isNotNull())
    ndv = base.agg(
        F.greatest(
            F.approx_count_distinct(a), F.approx_count_distinct(b)
        ).alias("__ndv")
    ).first()["__ndv"]
    if ndv > max_distinct:
        raise ValueError(
            f"spearman_corr: ~{ndv} distinct values > "
            f"max_distinct={max_distinct}; the marginal rank windows "
            "are ONE task each — quantize upstream for continuous "
            "columns."
        )
    pairs = base.groupBy(a.alias("va"), b.alias("vb")).agg(
        F.count(F.lit(1)).alias("c")
    )

    def marginal_ranks(col, out):
        m = pairs.groupBy(F.col(col).alias("v")).agg(F.sum("c").alias("t"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        return m.select(
            F.col("v").alias(col),
            (
                (F.sum("t").over(w) - F.col("t"))
                + (F.col("t") + 1) / F.lit(2.0)
            ).alias(out),
        )

    ranked = pairs.join(marginal_ranks("va", "ra"), "va").join(
        marginal_ranks("vb", "rb"), "vb"
    )
    agg = ranked.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("ra")).alias("__sa"),
        F.sum(F.col("c") * F.col("rb")).alias("__sb"),
        F.sum(F.col("c") * F.col("ra") * F.col("ra")).alias("__saa"),
        F.sum(F.col("c") * F.col("rb") * F.col("rb")).alias("__sbb"),
        F.sum(F.col("c") * F.col("ra") * F.col("rb")).alias("__sab"),
    )
    n = F.col("n").cast("double")
    cov = F.col("__sab") - F.col("__sa") * F.col("__sb") / n
    vara = F.col("__saa") - F.col("__sa") * F.col("__sa") / n
    varb = F.col("__sbb") - F.col("__sb") * F.col("__sb") / n
    rho = F.when(
        (vara > 0) & (varb > 0), cov / F.sqrt(vara * varb)
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("n").cast("long").alias("n"), F.round(rho, 6).alias("rho")
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information between two categorical columns, plus the
    sqrt-normalized NMI — the information-theoretic sibling of
    :func:`chi2_independence` (chi2 asks "is there association?", MI
    says how many NATS of one column the other reveals), and NMI is
    THE standard external clustering-evaluation score (compare LPA /
    k-means labels against ground truth).

    ``MI = Σ p(a,b)·ln(p(a,b)/(p(a)p(b)))`` over OCCUPIED cells (empty
    cells contribute 0·ln(0) = 0 by convention), ``NMI = MI /
    √(H(A)·H(B))`` with the same natural-log entropies; a constant
    column (zero entropy) reports NMI 0.  Returns ONE row ``(n, n_a,
    n_b, mi, nmi)`` rounded to 6.

    Scale shape: identical to chi2 — one (a, b) count aggregation
    (map-side combined), two broadcast margins, scalar sums over the
    |A·B|-row contingency table."""
    cell = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    ra = cell.groupBy("a").agg(F.sum("o").alias("ta"))
    rb = cell.groupBy("b").agg(F.sum("o").alias("tb"))
    tot = cell.agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").alias("n_a"),
        F.countDistinct("b").alias("n_b"),
    )
    joined = (
        cell.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n").cast("double")
    pab = F.col("o") / n
    mi = F.sum(
        pab * F.log(F.col("o") * n / (F.col("ta").cast("double") * F.col("tb")))
    )
    # marginal entropies from the same joined rows: each (a, b) cell
    # contributes p(a,b)·(−ln p(a)) — summing over b folds the margin,
    # so H(A) = Σ_cells p(a,b)·(−ln(ta/n)) without a second pass
    ha = F.sum(pab * -F.log(F.col("ta") / n))
    hb = F.sum(pab * -F.log(F.col("tb") / n))
    agg = joined.groupBy("n", "n_a", "n_b").agg(
        mi.alias("__mi"), ha.alias("__ha"), hb.alias("__hb")
    )
    nmi = F.when(
        (F.col("__ha") > 0) & (F.col("__hb") > 0),
        F.greatest(F.col("__mi"), F.lit(0.0))
        / F.sqrt(F.col("__ha") * F.col("__hb")),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.greatest(F.col("__mi"), F.lit(0.0)), 6).alias("mi"),
        F.round(F.least(nmi, F.lit(1.0)), 6).alias("nmi"),
    )


def conformal_intervals(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    alpha: float = 0.1,
    season_lag_days: int = 7,
    calib_frac: float = 0.5,
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al. 2005; the
    split/inductive variant of Papadopoulos 2002) over the daily mean
    series: a seasonal-naive point forecast (the value
    ``season_lag_days`` earlier, joined by CALENDAR arithmetic so
    missing days drop pairs instead of sliding the alignment), absolute
    residuals on a calibration prefix, and the finite-sample conformal
    quantile

        q = k-th smallest calibration residual,
        k = ceil((1 - alpha) * (n_cal + 1))   (clamped to n_cal)

    giving distribution-free ``>= 1 - alpha`` marginal coverage on the
    held-out tail under exchangeability.  This is the uncertainty
    wrapper for :func:`~plda_spark.operators` forecast/backtest ops:
    the same split discipline, but with a coverage GUARANTEE rather
    than a point-error score.

    Returns the test-tail days: ``(day, value, pred, lo, hi, covered)``
    rounded to 6 (``covered`` uses the unrounded bounds).  Empty when
    fewer than 2 scored days exist (nothing to calibrate + test).

    Scale shape: the corpus collapses to |days| rows FIRST (one
    aggregation); the seasonal join, the date-rank window, the
    residual-rank window, and the quantile pick all run over that
    calendar-bounded rollup — the windows are single-task over |days|
    rows by design, the same contract as cusum/acf/seasonal ops."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if season_lag_days < 1:
        raise ValueError(f"season_lag_days must be >= 1, got {season_lag_days}")
    if not (0.0 < calib_frac < 1.0):
        raise ValueError(f"calib_frac must be in (0, 1), got {calib_frac}")
    daily = df.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.avg(F.col(value_col).cast("double")).alias("v")
    )
    # calendar-join the lag: a missing day drops the pair rather than
    # sliding every later prediction onto the wrong weekday
    scored = daily.join(
        daily.select(
            F.date_add("day", season_lag_days).alias("day"),
            F.col("v").alias("pred"),
        ),
        "day",
    ).select("day", "v", "pred", F.abs(F.col("v") - F.col("pred")).alias("__s"))
    w_day = Window.orderBy("day")
    ranked = scored.withColumn("__rn", F.row_number().over(w_day))
    tot = ranked.agg(F.count(F.lit(1)).alias("__n"))
    ranked = ranked.crossJoin(F.broadcast(tot))
    n_cal = F.ceil(F.lit(float(calib_frac)) * F.col("__n")).cast("int")
    calib = ranked.where((F.col("__rn") <= n_cal) & (n_cal < F.col("__n")))
    test = ranked.where((F.col("__rn") > n_cal) & (n_cal < F.col("__n")))
    # k-th order statistic of the calibration residuals (ties broken
    # by day for a deterministic ROW pick; the k-th VALUE is tie-proof)
    w_s = Window.orderBy(F.col("__s").asc(), F.col("day").asc())
    kth = (
        calib.withColumn("__sr", F.row_number().over(w_s))
        .withColumn(
            "__k",
            F.least(
                F.ceil(F.lit(1.0 - float(alpha)) * (n_cal + 1)).cast("int"),
                n_cal,
            ),
        )
        .where(F.col("__sr") == F.col("__k"))
        .select(F.col("__s").alias("__q"))
    )
    out = test.crossJoin(F.broadcast(kth))
    lo = F.col("pred") - F.col("__q")
    hi = F.col("pred") + F.col("__q")
    return out.select(
        F.col("day").cast("string").alias("day"),
        F.round("v", 6).alias("value"),
        F.round("pred", 6).alias("pred"),
        F.round(lo, 6).alias("lo"),
        F.round(hi, 6).alias("hi"),
        ((F.col("v") >= lo) & (F.col("v") <= hi)).alias("covered"),
    )


def kmv_rolling_active(
    sketches: DataFrame,
    window_days: int = 7,
    k: int = 256,
) -> DataFrame:
    """Per-day TRAILING-window distinct estimate from the
    :func:`kmv_daily_sketches` rollup — the WAU/MAU primitive
    (``window_days=1`` degenerates to the DAU estimate, since the
    merge of one sketch is itself): for each day, union-merge the
    window's daily sketches and apply the KMV estimator.

    Returns ``(day, n_active)`` rounded to 4.

    Scale shape: the window membership is a date-range join between
    two |days|-row frames — a nested loop BY DESIGN, bounded by the
    calendar (a year of MAU is ~365·30 kB-sized sketch pairs), then
    one merge aggregation per day.  The raw event log is never
    re-read; this is exactly the probe-side contract of the
    KS/PSI/HLL rollup family."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    spine = sketches.select(F.col("day").alias("__d"))
    pairs = spine.join(
        sketches,
        (F.to_date("day") <= F.to_date("__d"))
        & (F.to_date("day") > F.date_sub(F.to_date("__d"), window_days)),
    )
    return _kmv_merge(pairs, k, "__d").select(
        F.col("__d").alias("day"),
        F.round(_kmv_estimate(F.col("kmin"), k), 4).alias("n_active"),
    )


def _f_upper_p(fv, d1, d2):
    """``P(F(d1, d2) > fv)`` via the Paulson (1942) normal
    approximation (each chi-squared cube-rooted per Wilson-Hilferty,
    the ratio standardized):

    ``z = [(1 − 2/9d2)·F^⅓ − (1 − 2/9d1)] / √(2/9d1 + F^⅔·2/9d2)``

    then the upper tail through the shared A&S Φ polynomial
    (:func:`_two_sided_normal_p`).  Accurate to ~1e-3 absolute for
    small d1 (verified vs the exact incomplete beta: 1.2e-3 at d1=4,
    d2≈1e4), tightening as d1 grows — stated because the exact
    incomplete beta is not expressible as engine-replayable SQL
    arithmetic (the same contract as the Wilson-Hilferty chi-squared
    tail, :func:`_chi2_upper_p`).
    Callers guard ``fv >= 0`` and clamp the result to [0, 1]."""
    c1 = F.lit(2.0) / (F.lit(9.0) * d1)
    c2 = F.lit(2.0) / (F.lit(9.0) * d2)
    f3 = F.pow(fv, F.lit(1.0 / 3.0))
    z = ((F.lit(1.0) - c2) * f3 - (F.lit(1.0) - c1)) / F.sqrt(
        c1 + f3 * f3 * c2
    )
    return _normal_upper_p(z)


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F-test — "do ANY of these k group MEANS differ?",
    the mean-shift sibling of :func:`kruskal_wallis` (which asks the
    same of locations, rank-robustly) and the k-group generalization
    of :func:`welch_ttest` (classic equal-variance pooling; pair with
    :func:`levene_bf` to check that pooling assumption first).

    From one pass of per-group moments: ``SSB = Σ s1g²/ng − (Σs1)²/N``,
    ``SSW = Σ (s2g − s1g²/ng)``, ``F = (SSB/(k−1)) / (SSW/(N−k))``;
    the p-value is the Paulson-approximated upper tail
    (:func:`_f_upper_p`, caveat in its docstring).  NULL values are
    dropped up front (the :func:`kruskal_wallis` discipline).  Returns
    ONE row ``(k, n, f_stat, df1, df2, p_value)`` rounded to 6.

    Scale shape: ONE (group) aggregation of count/sum/sumsq — map-side
    combined — then scalar arithmetic over the k-row frame.  No
    window, no join, nothing survives the first groupBy."""
    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("ng"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s1").alias("ts1"),
        F.sum(F.col("s1") * F.col("s1") / F.col("ng")).alias("__sb"),
        F.sum(F.col("s2") - F.col("s1") * F.col("s1") / F.col("ng")).alias(
            "__ssw"
        ),
    )
    n = F.col("n").cast("double")
    ssb = F.col("__sb") - F.col("ts1") * F.col("ts1") / n
    d1 = (F.col("k") - 1).cast("double")
    d2 = (F.col("n") - F.col("k")).cast("double")
    staged = agg.select(
        "k",
        "n",
        d1.alias("__d1"),
        d2.alias("__d2"),
        # negative SSB/SSW = float cancellation noise; clamp like
        # welch_ttest clamps its variances
        F.greatest(ssb, F.lit(0.0)).alias("__ssb"),
        F.greatest(F.col("__ssw"), F.lit(0.0)).alias("__ssw"),
    )
    fv = F.when(
        (F.col("__d1") > 0) & (F.col("__d2") > 0) & (F.col("__ssw") > 0),
        (F.col("__ssb") / F.col("__d1")) / (F.col("__ssw") / F.col("__d2")),
    )
    staged2 = staged.withColumn("__f", fv)
    p = F.when(F.col("__f").isNull(), F.lit(1.0)).otherwise(
        F.least(
            F.greatest(
                _f_upper_p(F.col("__f"), F.col("__d1"), F.col("__d2")),
                F.lit(0.0),
            ),
            F.lit(1.0),
        )
    )
    return staged2.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round(F.coalesce(F.col("__f"), F.lit(0.0)), 6).alias("f_stat"),
        F.col("__d1").cast("long").alias("df1"),
        F.col("__d2").cast("long").alias("df2"),
        F.round(p, 6).alias("p_value"),
    )


def levene_bf(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Levene's test for variance homogeneity, Brown-Forsythe variant
    (deviations from the group MEDIAN — robust to skew, the form
    recommended by Brown & Forsythe 1974): run it BEFORE trusting
    :func:`anova_f`'s pooled-variance assumption, or on its own as the
    spread-drift member of the drift family (KS = any change,
    Welch/ANOVA = mean shift, THIS = variance shift).

    ``z_ig = |x_ig − median_g|`` then the one-way ANOVA F statistic on
    the z values; the p-value is the same Paulson upper tail as
    :func:`anova_f`.  Medians are exact interpolated ``percentile``
    (matches ANSI ``percentile_cont``/DuckDB ``quantile_cont``).
    Returns ONE row ``(k, n, f_stat, df1, df2, p_value)`` rounded 6.

    Scale shape: one (group) median aggregation (exact percentile
    buffers each group's values — the bounded-group-count contract of
    :func:`group_quantiles`; use the sketch variant upstream if groups
    are huge), broadcast the k-row medians back, then the same
    one-pass moment aggregation as :func:`anova_f`."""
    v = F.col(value_col).cast("double")
    clean = df.where(v.isNotNull()).select(
        F.col(group_col).alias("g"), v.alias("v")
    )
    med = clean.groupBy("g").agg(
        F.percentile("v", F.lit(0.5)).alias("__med")
    )
    dev = clean.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("__med")).alias("z")
    )
    return anova_f(dev, "g", "z")


def paired_ttest(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Paired t-test on matched per-key means — "did A shift vs B on
    the SAME days?": pairing by key (a date, a user, an experiment
    unit) removes the between-key variance that drowns a small
    treatment effect in :func:`welch_ttest`'s unpaired comparison.

    For each key holding BOTH groups: ``d_k = mean_a(k) − mean_b(k)``;
    then ``t = d̄ / (s_d/√n)`` over the n differences, two-sided p via
    the normal approximation (:func:`_two_sided_normal_p` — the
    :func:`welch_ttest` caveat applies below n≈30 pairs).  Returns ONE
    row ``(n_pairs, mean_a, mean_b, mean_diff, t_stat, p_value)``
    rounded to 6.

    Scale shape: ONE (key) conditional aggregation over the stream
    (map-side combined), keys missing either group filtered on the
    aggregated frame, then one scalar moment pass over the |keys|
    rows.  No window, no join."""
    a = F.col(group_col) == F.lit(group_a)
    b = F.col(group_col) == F.lit(group_b)
    v = F.col(value_col).cast("double")
    per = (
        df.where((a | b) & v.isNotNull())
        .groupBy(F.col(key_col).alias("k"))
        .agg(
            F.sum(a.cast("long")).alias("na"),
            F.sum(b.cast("long")).alias("nb"),
            F.sum(F.when(a, v).otherwise(F.lit(0.0))).alias("sa"),
            F.sum(F.when(b, v).otherwise(F.lit(0.0))).alias("sb"),
        )
    )
    paired = per.where((F.col("na") > 0) & (F.col("nb") > 0)).select(
        (F.col("sa") / F.col("na")).alias("ma"),
        (F.col("sb") / F.col("nb")).alias("mb"),
    )
    agg = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ma").alias("s1a"),
        F.sum("mb").alias("s1b"),
        F.sum((F.col("ma") - F.col("mb"))).alias("sd1"),
        F.sum(
            (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
        ).alias("sd2"),
    )
    n = F.col("n").cast("double")
    md = F.col("sd1") / n
    var_d = F.when(
        n > 1,
        F.greatest(
            (F.col("sd2") - F.col("sd1") * md) / (n - 1), F.lit(0.0)
        ),
    )
    staged = agg.select(
        "n",
        (F.col("s1a") / n).alias("__ma"),
        (F.col("s1b") / n).alias("__mb"),
        md.alias("__md"),
        var_d.alias("__vd"),
    )
    t = F.when(
        F.col("__vd") > 0,
        F.col("__md") / F.sqrt(F.col("__vd") / F.col("n")),
    )
    staged2 = staged.withColumn("__t", t)
    p = F.when(F.col("__t").isNull(), F.lit(1.0)).otherwise(
        F.least(_two_sided_normal_p(F.abs(F.col("__t"))), F.lit(1.0))
    )
    return staged2.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.round("__ma", 6).alias("mean_a"),
        F.round("__mb", 6).alias("mean_b"),
        F.round("__md", 6).alias("mean_diff"),
        F.round(F.coalesce(F.col("__t"), F.lit(0.0)), 6).alias("t_stat"),
        F.round(p, 6).alias("p_value"),
    )


def two_proportion_ztest(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    variant_a,
    variant_b,
) -> DataFrame:
    """Two-proportion z-test + Wald 95% CI on the rate difference —
    THE A/B-test readout: ``z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a+1/n_b))``
    with the POOLED rate under H₀, two-sided p via the shared Φ
    polynomial, and the UNPOOLED-SE Wald interval on the lift (the
    standard pairing: pooled SE for the test, unpooled for the CI).

    ``success_col`` must be 0/1 per experiment unit (deduplicate to
    one row per unit upstream — counting events double-counts heavy
    users and invalidates the binomial model).  Returns ONE row
    ``(n_a, n_b, conv_a, conv_b, rate_a, rate_b, lift, z_stat,
    p_value, ci_lo, ci_hi)`` rounded to 6.

    Scale shape: ONE conditional aggregation (count + success sum per
    variant, map-side combined); everything after is scalar arithmetic
    on the single row."""
    a = F.col(variant_col) == F.lit(variant_a)
    b = F.col(variant_col) == F.lit(variant_b)
    s = F.col(success_col).cast("double")
    agg = df.where(a | b).agg(
        F.sum(a.cast("long")).alias("n_a"),
        F.sum(b.cast("long")).alias("n_b"),
        F.sum(F.when(a, s).otherwise(F.lit(0.0))).alias("c_a"),
        F.sum(F.when(b, s).otherwise(F.lit(0.0))).alias("c_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa = F.col("c_a") / na
    pb = F.col("c_b") / nb
    pp = (F.col("c_a") + F.col("c_b")) / (na + nb)
    staged = agg.select(
        "n_a", "n_b", "c_a", "c_b",
        pa.alias("__pa"), pb.alias("__pb"), pp.alias("__pp"),
    )
    se0 = F.sqrt(
        F.col("__pp")
        * (F.lit(1.0) - F.col("__pp"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    z = F.when(
        se0 > 0, (F.col("__pa") - F.col("__pb")) / se0
    )
    se1 = F.sqrt(
        F.col("__pa") * (F.lit(1.0) - F.col("__pa")) / F.col("n_a")
        + F.col("__pb") * (F.lit(1.0) - F.col("__pb")) / F.col("n_b")
    )
    staged2 = staged.withColumn("__z", z).withColumn("__se1", se1)
    p = F.when(F.col("__z").isNull(), F.lit(1.0)).otherwise(
        F.least(_two_sided_normal_p(F.abs(F.col("__z"))), F.lit(1.0))
    )
    diff = F.col("__pa") - F.col("__pb")
    return staged2.select(
        "n_a",
        "n_b",
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.round("__pa", 6).alias("rate_a"),
        F.round("__pb", 6).alias("rate_b"),
        F.round(diff, 6).alias("lift"),
        F.round(F.coalesce(F.col("__z"), F.lit(0.0)), 6).alias("z_stat"),
        F.round(p, 6).alias("p_value"),
        F.round(diff - F.lit(1.959963984540054) * F.col("__se1"), 6).alias(
            "ci_lo"
        ),
        F.round(diff + F.lit(1.959963984540054) * F.col("__se1"), 6).alias(
            "ci_hi"
        ),
    )


def ols2(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Two-regressor ordinary least squares, solved in CLOSED FORM
    from one pass of raw moments (normal equations on the centered
    2×2 Gram matrix, Cramer's rule) — the distributed regression
    primitive: at 100 TB the model fit is ONE map-side-combined
    aggregation, never an iterative solver or a driver-side matrix of
    row data.

    ``b = S⁻¹·s`` with ``S = [[S11, S12], [S12, S22]]`` the centered
    second moments and ``s = (S1y, S2y)``; intercept from the means;
    ``R² = 1 − SSE/SST`` with ``SSE = SST − b1·S1y − b2·S2y``.
    Centered moments come from the raw-sum identities (``S11 = Σx1² −
    n·x̄1²`` …) so a SINGLE aggregation suffices; with 15-digit
    doubles this loses ~2-3 digits to cancellation — fine at the
    6-decimal output rounding, but center upstream if your column
    spans > ~1e6 in magnitude.  Rows with any NULL among the three
    columns are dropped.  Collinear regressors (det ≤ 0 after float
    noise) yield NULL coefficients rather than a garbage solve.

    Returns ONE row ``(n, b0, b1, b2, r2, rmse)`` rounded to 6.
    Scale shape: filter → ONE aggregation of 9 sums → scalar Cramer
    arithmetic on the single row.  Nothing shuffles but partials."""
    x1 = F.col(x1_col).cast("double")
    x2 = F.col(x2_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = df.where(
        x1.isNotNull() & x2.isNotNull() & y.isNotNull()
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    m1, m2, my = F.col("s1") / n, F.col("s2") / n, F.col("sy") / n
    c = agg.select(
        "n",
        m1.alias("m1"),
        m2.alias("m2"),
        my.alias("my"),
        (F.col("s11") - n * m1 * m1).alias("c11"),
        (F.col("s22") - n * m2 * m2).alias("c22"),
        (F.col("s12") - n * m1 * m2).alias("c12"),
        (F.col("s1y") - n * m1 * my).alias("c1y"),
        (F.col("s2y") - n * m2 * my).alias("c2y"),
        F.greatest(F.col("syy") - n * my * my, F.lit(0.0)).alias("sst"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b1 = F.when(
        det > 0,
        (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det,
    )
    b2 = F.when(
        det > 0,
        (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det,
    )
    staged = c.withColumn("b1", b1).withColumn("b2", b2)
    b0 = F.col("my") - F.col("b1") * F.col("m1") - F.col("b2") * F.col("m2")
    sse = F.greatest(
        F.col("sst")
        - F.col("b1") * F.col("c1y")
        - F.col("b2") * F.col("c2y"),
        F.lit(0.0),
    )
    staged2 = staged.withColumn("b0", b0).withColumn("__sse", sse)
    r2 = F.when(
        F.col("b1").isNotNull() & (F.col("sst") > 0),
        F.lit(1.0) - F.col("__sse") / F.col("sst"),
    )
    return staged2.select(
        F.col("n").cast("long").alias("n"),
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
        F.round(
            F.when(
                F.col("b1").isNotNull(),
                F.sqrt(F.col("__sse") / F.col("n")),
            ),
            6,
        ).alias("rmse"),
    )


def pca2_summary(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact 2-D principal-component decomposition over ALL rows, in
    closed form: the 2×2 sample covariance has analytic eigenvalues
    ``λ = (a+c)/2 ± √(((a−c)/2)² + b²)``, so — unlike
    :func:`plda_spark.operators.similarity.pca_project`, which learns
    a high-dim basis driver-side from a bounded SAMPLE — this variant
    is one fully-distributed aggregation with every output replayable
    as plain SQL arithmetic (hash-gate friendly), the right tool for
    the 2-signal case (correlated quality scores, paired drift
    metrics).

    The leading eigenvector is ``(b, λ1−a)`` normalized (for b = 0:
    the dominant axis), sign-fixed to ``pc1_x ≥ 0`` (and ``pc1_y ≥
    0`` when ``pc1_x = 0``) — eigenvectors are sign-ambiguous and the
    fix makes the output deterministic.  NULL rows dropped; n < 2
    yields NULL eigen outputs (sample covariance undefined).

    Returns ONE row ``(n, mean_x, mean_y, var_x, var_y, cov_xy,
    lambda1, lambda2, evr1, pc1_x, pc1_y)`` rounded to 6; ``evr1 =
    λ1/(λ1+λ2)`` is the explained-variance share.

    Scale shape: ONE aggregation of 5 sums (map-side combined), then
    scalar arithmetic on the single row."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = df.where(x.isNotNull() & y.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    mx, my = F.col("sx") / n, F.col("sy") / n
    a = F.when(
        n > 1,
        F.greatest(
            (F.col("sxx") - n * mx * mx) / (n - 1), F.lit(0.0)
        ),
    )
    cc = F.when(
        n > 1,
        F.greatest(
            (F.col("syy") - n * my * my) / (n - 1), F.lit(0.0)
        ),
    )
    b = F.when(n > 1, (F.col("sxy") - n * mx * my) / (n - 1))
    c = agg.select(
        "n",
        mx.alias("mx"),
        my.alias("my"),
        a.alias("a"),
        cc.alias("c"),
        b.alias("b"),
    )
    half_tr = (F.col("a") + F.col("c")) / F.lit(2.0)
    half_diff = (F.col("a") - F.col("c")) / F.lit(2.0)
    d = F.sqrt(half_diff * half_diff + F.col("b") * F.col("b"))
    staged = c.withColumn("l1", half_tr + d).withColumn("l2", half_tr - d)
    # leading eigenvector (b, l1 - a); b = 0 -> coordinate axes
    vx = F.when(F.col("b") != 0, F.col("b")).otherwise(
        F.when(F.col("a") >= F.col("c"), F.lit(1.0)).otherwise(F.lit(0.0))
    )
    vy = F.when(F.col("b") != 0, F.col("l1") - F.col("a")).otherwise(
        F.when(F.col("a") >= F.col("c"), F.lit(0.0)).otherwise(F.lit(1.0))
    )
    nrm = F.sqrt(vx * vx + vy * vy)
    ux, uy = vx / nrm, vy / nrm
    # sign fix: pc1_x >= 0, and pc1_y >= 0 on the pc1_x = 0 axis
    flip = (ux < 0) | ((ux == 0) & (uy < 0))
    ux2 = F.when(flip, -ux).otherwise(ux)
    uy2 = F.when(flip, -uy).otherwise(uy)
    evr = F.when(
        (F.col("l1") + F.col("l2")) > 0,
        F.col("l1") / (F.col("l1") + F.col("l2")),
    )
    return staged.select(
        F.col("n").cast("long").alias("n"),
        F.round("mx", 6).alias("mean_x"),
        F.round("my", 6).alias("mean_y"),
        F.round("a", 6).alias("var_x"),
        F.round("c", 6).alias("var_y"),
        F.round("b", 6).alias("cov_xy"),
        F.round("l1", 6).alias("lambda1"),
        F.round("l2", 6).alias("lambda2"),
        F.round(evr, 6).alias("evr1"),
        F.round(ux2, 6).alias("pc1_x"),
        F.round(uy2, 6).alias("pc1_y"),
    )


def _solve3_sym(a11, a12, a13, a22, a23, a33, c1, c2, c3):
    """Cramer's-rule solve of the symmetric 3×3 system ``A·b = c`` in
    plain Python floats, written as ONE fixed expression tree so the
    oracle can replay the identical IEEE arithmetic as SQL text (the
    :func:`logreg2` iteration contract).  Raises on a singular
    system."""
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    # relative test: exact collinearity leaves det at pure float-
    # cancellation noise (~1e-16 of the diagonal mass), never exact 0
    if abs(det) <= 1e-10 * (abs(a11 * a22 * a33) + 1e-300):
        raise ValueError("singular IRLS system (collinear features?)")
    b0 = (
        c1 * (a22 * a33 - a23 * a23)
        - a12 * (c2 * a33 - a23 * c3)
        + a13 * (c2 * a23 - a22 * c3)
    ) / det
    b1 = (
        a11 * (c2 * a33 - a23 * c3)
        - c1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * c3 - c2 * a13)
    ) / det
    b2 = (
        a11 * (a22 * c3 - c2 * a23)
        - a12 * (a12 * c3 - c2 * a13)
        + c1 * (a12 * a23 - a22 * a13)
    ) / det
    return b0, b1, b2


def logreg2(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    label_col: str,
    n_iter: int = 5,
) -> DataFrame:
    """Two-feature logistic regression by IRLS (iteratively reweighted
    least squares — Newton-Raphson on the Bernoulli log-likelihood,
    the textbook GLM fit), run for EXACTLY ``n_iter`` rounds: each
    round is ONE map-side-combined aggregation of 9 weighted moments,
    then a 3×3 Cramer solve on the driver — scalars only, the
    :func:`~plda_spark.operators.events.markov_attribution` bounded-
    driver-traffic contract.  The distributed sibling of :func:`ols2`:
    same "model fit = aggregation passes" shape, ``n_iter`` passes
    instead of one.

    Engine-replayability: coefficients are rounded to 7 decimals
    after every solve, which RESYNCHRONIZES the two engines each
    round (their aggregation sums differ in the last ~1e-12 by
    addition order; the rounding absorbs it), and ``μ`` is clamped to
    [1e-6, 1−1e-6] before the weight so no row degenerates.  Newton
    converges quadratically — 5 rounds reach the 7-decimal fixpoint
    for any non-pathological fit (verified in tests); a converged
    round is a no-op, exactly the :func:`~plda_spark.operators.graph.
    kcore` fixed-budget contract.  Labels must be 0/1 (pre-checked,
    one cheap aggregation).

    Returns ONE row ``(n, b0, b1, b2, log_lik)``: the coefficients
    carry their exact 7-decimal-synced doubles (re-rounding them
    would only add a boundary layer), ``log_lik`` is the final
    Bernoulli log-likelihood rounded to 6.

    Scale shape: ``n_iter + 2`` aggregation passes over the data
    (label check, the rounds, the likelihood), each one shuffle of
    9 scalar partials.  Nothing else moves."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    x1 = F.col(x1_col).cast("double")
    x2 = F.col(x2_col).cast("double")
    y = F.col(label_col).cast("double")
    clean = df.where(
        x1.isNotNull() & x2.isNotNull() & y.isNotNull()
    ).select(x1.alias("x1"), x2.alias("x2"), y.alias("y"))
    bad = clean.agg(
        F.sum(((F.col("y") != 0) & (F.col("y") != 1)).cast("long")).alias("b")
    ).first()["b"]
    if bad:
        raise ValueError(
            f"logreg2: {label_col!r} has {bad} values outside {{0, 1}}"
        )
    b0 = b1 = b2 = 0.0
    for _ in range(n_iter):
        eta = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        mu = F.greatest(F.least(mu, F.lit(1.0 - 1e-6)), F.lit(1e-6))
        w = mu * (F.lit(1.0) - mu)
        z = eta + (F.col("y") - mu) / w
        r = clean.agg(
            F.sum(w).alias("a11"),
            F.sum(w * F.col("x1")).alias("a12"),
            F.sum(w * F.col("x2")).alias("a13"),
            F.sum(w * F.col("x1") * F.col("x1")).alias("a22"),
            F.sum(w * F.col("x1") * F.col("x2")).alias("a23"),
            F.sum(w * F.col("x2") * F.col("x2")).alias("a33"),
            F.sum(w * z).alias("c1"),
            F.sum(w * F.col("x1") * z).alias("c2"),
            F.sum(w * F.col("x2") * z).alias("c3"),
        ).first()
        nb0, nb1, nb2 = _solve3_sym(
            r["a11"], r["a12"], r["a13"], r["a22"], r["a23"], r["a33"],
            r["c1"], r["c2"], r["c3"],
        )
        b0, b1, b2 = round(nb0, 7), round(nb1, 7), round(nb2, 7)
    eta = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
    mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    mu = F.greatest(F.least(mu, F.lit(1.0 - 1e-6)), F.lit(1e-6))
    return clean.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.col("y") * F.log(mu)
            + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - mu)
        ).alias("__ll"),
    ).select(
        F.col("__n").cast("long").alias("n"),
        F.lit(b0).alias("b0"),
        F.lit(b1).alias("b1"),
        F.lit(b2).alias("b2"),
        F.round("__ll", 6).alias("log_lik"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int = 2000,
) -> DataFrame:
    """Kendall's τ-b rank correlation — the third member of the
    correlation family (:func:`correlation_matrix` = linear,
    :func:`spearman_corr` = monotone via ranks, THIS = monotone via
    pair concordance, the most outlier-robust and the one with a
    direct probabilistic reading: P(concordant) − P(discordant)).

    Computed over the PRE-AGGREGATED ``(x, y)`` cell table: concordant
    ``C = Σ c_i·c_j`` over cell pairs strictly increasing in both
    coordinates, discordant mirrored, tie corrections from the
    marginal totals; ``τ_b = (C − D)/√((n₀−n₁)(n₀−n₂))``.  The
    two-sided p uses the NO-TIES normal approximation ``z =
    3τ√(n(n−1)) / √(2(2n+5))`` (Kendall 1938) through the shared Φ
    polynomial — stated: with heavy ties it is conservative; the
    exact tie-aware variance is not replayable arithmetic.

    Scale shape: one (x, y) count aggregation (map-side combined),
    then a BOUNDED |cells|² pair comparison over the aggregated frame
    — the :func:`trend_tests` contract (its C(|days|, 2) slope pairs),
    ENFORCED by a ``max_cells`` pre-check (``approx_count_distinct``
    of the cell struct): quantize continuous columns upstream, exactly
    like the KS/Kruskal families.  Returns ONE row ``(n, n_cells,
    concordant, discordant, tau_b, z_stat, p_value)`` rounded to 6."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    clean = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("x"), y.alias("y")
    )
    ndv = clean.agg(
        F.approx_count_distinct(F.struct("x", "y")).alias("__ndv")
    ).first()["__ndv"]
    if ndv > max_cells:
        raise ValueError(
            f"kendall_tau: ~{ndv} distinct (x, y) cells > max_cells="
            f"{max_cells}; quantize upstream (the concordance pass is "
            "|cells|^2 BY DESIGN)."
        )
    # materialize the ≤max_cells-row cell table ONCE: it is referenced
    # five times below (pairs twice, both marginals, totals) and
    # without the eager checkpoint each reference would re-scan the
    # raw data — the MMR candidate-list discipline
    cells = (
        clean.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    pair = a.join(b, F.col("xa") < F.col("xb")).agg(
        F.sum(
            F.when(F.col("ya") < F.col("yb"), F.col("ca") * F.col("cb"))
            .otherwise(F.lit(0))
        ).alias("conc"),
        F.sum(
            F.when(F.col("ya") > F.col("yb"), F.col("ca") * F.col("cb"))
            .otherwise(F.lit(0))
        ).alias("disc"),
    )
    tx = cells.groupBy("x").agg(F.sum("c").alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n1")
    )
    ty = cells.groupBy("y").agg(F.sum("c").alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n2")
    )
    tot = cells.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    j = (
        pair.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n").cast("double")
    n0 = n * (n - 1) / 2
    denom = F.sqrt(
        (n0 - F.col("n1")) * (n0 - F.col("n2"))
    )
    tau = F.when(
        denom > 0, (F.col("conc") - F.col("disc")) / denom
    )
    staged = j.withColumn("__tau", tau)
    z = F.when(
        F.col("__tau").isNotNull() & (n > 1),
        F.lit(3.0)
        * F.col("__tau")
        * F.sqrt(n * (n - 1))
        / F.sqrt(F.lit(2.0) * (F.lit(2.0) * n + 5)),
    )
    staged2 = staged.withColumn("__z", z)
    p = F.when(F.col("__z").isNull(), F.lit(1.0)).otherwise(
        F.least(_two_sided_normal_p(F.abs(F.col("__z"))), F.lit(1.0))
    )
    return staged2.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.round(F.coalesce(F.col("__tau"), F.lit(0.0)), 6).alias("tau_b"),
        F.round(F.coalesce(F.col("__z"), F.lit(0.0)), 6).alias("z_stat"),
        F.round(p, 6).alias("p_value"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test — "does the SUCCESS RATE trend with
    this ordered score?" (dose-response across ordinal buckets: spend
    tier, hour of day, cohort age).  The ORDERED-groups member of the
    categorical family: :func:`chi2_independence` asks "any
    association?" and burns power on non-monotone patterns; this
    tests the linear-in-score alternative directly (Armitage 1955).

    From one (score) aggregation of ``(n_i, r_i)``: ``T = Σ r_i·s_i −
    R·(Σ n_i·s_i)/N``, ``Var₀ = p̂(1−p̂)·[Σ n_i·s_i² − (Σ n_i·s_i)²/N]``
    with ``p̂ = R/N``, ``z = T/√Var₀``, two-sided p via the shared Φ
    polynomial.  ``success_col`` must be 0/1 per row.  Returns ONE row
    ``(k, n, n_success, t_stat, z_stat, p_value)`` rounded to 6.

    Scale shape: ONE map-side-combined aggregation keyed by score,
    then scalar arithmetic over the k-row frame — the
    :func:`anova_f` contract."""
    s = F.col(score_col).cast("double")
    y = F.col(success_col).cast("double")
    per = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("s"))
        .agg(
            F.count(F.lit(1)).alias("ni"),
            F.sum(y).alias("ri"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ni").alias("n"),
        F.sum("ri").alias("r"),
        F.sum(F.col("ri") * F.col("s")).alias("__rs"),
        F.sum(F.col("ni") * F.col("s")).alias("__ns"),
        F.sum(F.col("ni") * F.col("s") * F.col("s")).alias("__ns2"),
    )
    n = F.col("n").cast("double")
    p = F.col("r") / n
    t = F.col("__rs") - F.col("r") * F.col("__ns") / n
    var0 = (
        p
        * (F.lit(1.0) - p)
        * (F.col("__ns2") - F.col("__ns") * F.col("__ns") / n)
    )
    staged = agg.select(
        "k",
        "n",
        "r",
        t.alias("__t"),
        F.when(var0 > 0, F.greatest(var0, F.lit(0.0))).alias("__v"),
    )
    z = F.when(
        F.col("__v").isNotNull(), F.col("__t") / F.sqrt(F.col("__v"))
    )
    staged2 = staged.withColumn("__z", z)
    pv = F.when(F.col("__z").isNull(), F.lit(1.0)).otherwise(
        F.least(_two_sided_normal_p(F.abs(F.col("__z"))), F.lit(1.0))
    )
    return staged2.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_success"),
        F.round("__t", 6).alias("t_stat"),
        F.round(F.coalesce(F.col("__z"), F.lit(0.0)), 6).alias("z_stat"),
        F.round(pv, 6).alias("p_value"),
    )


# Two-sided z_{1-alpha/2} and one-sided z_{power} for the supported
# grid — a general inverse Φ is not engine-replayable arithmetic, so
# ab_power_mde accepts exactly these (the values every power table
# prints; extend the dict if you need another row).
_Z_ALPHA = {0.01: 2.5758293035489004, 0.05: 1.959963984540054,
            0.1: 1.6448536269514722}
_Z_POWER = {0.8: 0.8416212335729143, 0.9: 1.2815515655446004,
            0.95: 1.6448536269514722}


def ab_power_mde(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    variant_a,
    variant_b,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """Minimum detectable effect of the CURRENT experiment — the
    planning readout next to :func:`two_proportion_ztest`'s verdict:
    "with this traffic and this base rate, how small a lift could
    this test even see at (α, power)?"  A non-significant A/B result
    with an MDE far above the lift you care about is an UNDERPOWERED
    test, not evidence of no effect — this is the operator that
    catches that misreading.

    ``MDE_abs = (z_{1−α/2} + z_{power}) · √(p̂(1−p̂)(1/n_a + 1/n_b))``
    with the pooled ``p̂`` (the standard normal-approximation sizing
    formula, e.g. Fleiss, Statistical Methods for Rates and
    Proportions).  α and power must come from the supported grid
    (module constants ``_Z_ALPHA`` / ``_Z_POWER``) — a general
    inverse Φ is not replayable arithmetic.  ``success_col`` must be
    one 0/1 row per experiment unit (the
    :func:`two_proportion_ztest` contract).  Returns ONE row ``(n_a,
    n_b, pooled_rate, se, mde_abs, mde_rel)`` rounded to 6.

    Scale shape: ONE conditional aggregation; scalar arithmetic
    after."""
    if alpha not in _Z_ALPHA:
        raise ValueError(
            f"alpha must be one of {sorted(_Z_ALPHA)}, got {alpha}"
        )
    if power not in _Z_POWER:
        raise ValueError(
            f"power must be one of {sorted(_Z_POWER)}, got {power}"
        )
    zsum = _Z_ALPHA[alpha] + _Z_POWER[power]
    a = F.col(variant_col) == F.lit(variant_a)
    b = F.col(variant_col) == F.lit(variant_b)
    sv = F.col(success_col).cast("double")
    agg = df.where(a | b).agg(
        F.sum(a.cast("long")).alias("n_a"),
        F.sum(b.cast("long")).alias("n_b"),
        F.sum(F.when(a | b, sv).otherwise(F.lit(0.0))).alias("c"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    p = F.col("c") / (na + nb)
    staged = agg.select("n_a", "n_b", p.alias("__p"))
    se = F.sqrt(
        F.col("__p")
        * (F.lit(1.0) - F.col("__p"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    staged2 = staged.withColumn("__se", se)
    mde = F.lit(zsum) * F.col("__se")
    return staged2.select(
        "n_a",
        "n_b",
        F.round("__p", 6).alias("pooled_rate"),
        F.round("__se", 6).alias("se"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(
            F.when(F.col("__p") > 0, mde / F.col("__p")), 6
        ).alias("mde_rel"),
    )


def by_fdr(
    tests: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Yekutieli FDR correction — :func:`bh_fdr` for tests
    with ARBITRARY dependence (Benjamini & Yekutieli 2001): the same
    step-up, with the threshold deflated by the harmonic factor
    ``c(m) = Σ_{i≤m} 1/i``.  Use when the drift tests share data
    (overlapping windows, one-vs-rest screens reusing the global
    moments — exactly :func:`group_mean_shift_tests`) and the BH
    independence/PRDS assumption is indefensible; the price is
    ~ln(m) conservatism.

    ``q_i = min_{j≥i} p_(j)·m·c(m)/j`` clamped to 1; returns
    ``(test, p_value, rank, m, c_m, q_value, reject)`` with c_m
    rounded to 6.

    Scale shape: identical to :func:`bh_fdr` — |tests| rows end to
    end, two ordered windows over already-aggregated test rows, plus
    one |tests|-row harmonic-sum window."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    rk = Window.orderBy(F.col("__p").asc(), F.col("__test").asc())
    staged = tests.select(
        F.col(test_col).cast("string").alias("__test"),
        F.col(p_col).cast("double").alias("__p"),
    ).select(
        "__test",
        "__p",
        F.row_number().over(rk).alias("__rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__m"),
    )
    cm = F.sum(F.lit(1.0) / F.col("__rank")).over(Window.partitionBy())
    staged = staged.withColumn("__cm", cm)
    qraw = F.col("__p") * F.col("__m") * F.col("__cm") / F.col("__rank")
    staged2 = staged.withColumn("__qraw", qraw)
    down = Window.orderBy(F.col("__rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    q = F.least(F.min("__qraw").over(down), F.lit(1.0))
    staged3 = staged2.withColumn("__q", q)
    return staged3.select(
        F.col("__test").alias("test"),
        F.round("__p", 6).alias("p_value"),
        F.col("__rank").alias("rank"),
        F.col("__m").alias("m"),
        F.round("__cm", 6).alias("c_m"),
        F.round("__q", 6).alias("q_value"),
        (F.col("__q") <= F.lit(alpha)).alias("reject"),
    )


def uplift_by_segment(
    df: DataFrame,
    segment_col: str,
    variant_col: str,
    success_col: str,
    variant_a,
    variant_b,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-segment uplift screen — the heterogeneous-treatment-effect
    readout over an A/B assignment: the overall
    :func:`two_proportion_ztest` verdict can hide a lift concentrated
    in one segment (or a harm offsetting a gain); this runs the
    pooled-SE z-test PER SEGMENT from one grouped aggregation, then
    :func:`bh_fdr`-corrects across segments — running k segment tests
    at raw p<α is exactly the multiple-testing trap the q-values
    close.

    Input is the per-UNIT frame (one 0/1 row per experiment unit, the
    :func:`two_proportion_ztest` contract) with a segment label.
    Returns one row per segment: ``(segment, n_a, n_b, conv_a,
    conv_b, rate_a, rate_b, lift, z_stat, p_value, q_value,
    reject)``.

    Scale shape: ONE segment-keyed conditional aggregation (map-side
    combined), scalar z/p arithmetic on the |segments|-row frame, and
    the |segments|-row BH windows.  Degenerate segments (a variant
    absent, or pooled rate 0/1) carry z=0, p=1 rather than NULLs so
    the BH step stays total."""
    a = F.col(variant_col) == F.lit(variant_a)
    b = F.col(variant_col) == F.lit(variant_b)
    s = F.col(success_col).cast("double")
    per = (
        df.where(a | b)
        .groupBy(F.col(segment_col).cast("string").alias("segment"))
        .agg(
            F.sum(a.cast("long")).alias("n_a"),
            F.sum(b.cast("long")).alias("n_b"),
            F.sum(F.when(a, s).otherwise(F.lit(0.0))).alias("c_a"),
            F.sum(F.when(b, s).otherwise(F.lit(0.0))).alias("c_b"),
        )
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa = F.when(F.col("n_a") > 0, F.col("c_a") / na)
    pb = F.when(F.col("n_b") > 0, F.col("c_b") / nb)
    pp = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        (F.col("c_a") + F.col("c_b")) / (na + nb),
    )
    staged = per.select(
        "segment", "n_a", "n_b", "c_a", "c_b",
        pa.alias("__pa"), pb.alias("__pb"), pp.alias("__pp"),
    )
    se0 = F.sqrt(
        F.col("__pp")
        * (F.lit(1.0) - F.col("__pp"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    z = F.when(
        F.col("__pp").isNotNull() & (se0 > 0),
        (F.col("__pa") - F.col("__pb")) / se0,
    )
    staged2 = staged.withColumn("__z", z)
    p = F.when(F.col("__z").isNull(), F.lit(1.0)).otherwise(
        F.least(_two_sided_normal_p(F.abs(F.col("__z"))), F.lit(1.0))
    )
    scored = staged2.withColumn("__pval", F.round(p, 6))
    qs = bh_fdr(scored, "segment", "__pval", alpha=alpha).select(
        F.col("test").alias("segment"), "q_value", "reject"
    )
    return scored.join(F.broadcast(qs), "segment").select(
        "segment",
        "n_a",
        "n_b",
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.round(F.coalesce(F.col("__pa"), F.lit(0.0)), 6).alias("rate_a"),
        F.round(F.coalesce(F.col("__pb"), F.lit(0.0)), 6).alias("rate_b"),
        F.round(
            F.coalesce(F.col("__pa") - F.col("__pb"), F.lit(0.0)), 6
        ).alias("lift"),
        F.round(F.coalesce(F.col("__z"), F.lit(0.0)), 6).alias("z_stat"),
        F.col("__pval").alias("p_value"),
        "q_value",
        "reject",
    )


def cohens_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cohen's kappa (Cohen 1960) — chance-corrected agreement between
    two categorical columns: ``κ = (p_o − p_e)/(1 − p_e)`` with
    observed agreement ``p_o`` and the expected-by-chance agreement
    ``p_e = Σ_k p_a(k)·p_b(k)`` from the marginals.  The labeling-ops
    number that raw percent-agreement oversells: two annotators (or a
    heuristic vs. gold labels) agreeing 80% on a 90/10-skewed task can
    be WORSE than chance, and kappa says so.

    Rows where either column is NULL are dropped (agreement is only
    defined where both raters rated).  Returns ONE row ``(n, po, pe,
    kappa)`` rounded to 6; ``kappa`` is NULL when ``p_e = 1`` (both
    raters constant — the degenerate case with no chance correction).

    Scale shape: ONE (a, b) contingency aggregation over the corpus
    (map-side combined; survivors bounded by |categories|²), then
    marginal sums and one label-keyed equi-join over |categories|
    rows — categories one rater never uses contribute zero chance
    mass, which the inner join encodes exactly."""
    a = F.col(col_a)
    b = F.col(col_b)
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot = cells.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(
            F.when(F.col("__a") == F.col("__b"), F.col("__c")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("__agree"),
    )
    ma = cells.groupBy("__a").agg(F.sum("__c").alias("__na"))
    mb = cells.groupBy("__b").agg(F.sum("__c").alias("__nb"))
    cross = ma.join(mb, ma["__a"] == mb["__b"]).agg(
        F.coalesce(F.sum(F.col("__na") * F.col("__nb")), F.lit(0)).alias(
            "__x"
        )
    )
    n = F.col("n").cast("double")
    po = F.col("__agree") / n
    pe = F.col("__x") / (n * n)
    kappa = F.when(pe < 1.0, (po - pe) / (1.0 - pe))
    return (
        tot.crossJoin(F.broadcast(cross))
        .select(
            "n",
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round(kappa, 6).alias("kappa"),
        )
    )


def brown_smoothing(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    max_days: int = 3650,
) -> DataFrame:
    """Brown's double exponential smoothing (Brown 1959; Holt's linear
    trend with one parameter) over the DAILY rollup of ``value_col`` —
    the level-plus-trend forecaster between :func:`ewma` (no trend)
    and :func:`seasonal_decompose` (needs a season): ``S'`` smooths
    the series, ``S''`` smooths ``S'``, then ``level = 2S' − S''``,
    ``trend = α/(1−α)·(S' − S'')``, one-step forecast ``level +
    trend``.

    Returns one row per day: ``(day, x, s1, s2, level, trend,
    forecast_next)`` rounded to 6 — ``forecast_next`` on day t is the
    prediction for step t+1, so joining it against the next row IS
    the backtest.

    Scale shape: the |days|-rollup family contract (trend_tests /
    acf_daily) — ONE daily aggregation collapses the corpus, then the
    recurrences are computed CLOSED-FORM as |days|² weighted pair
    joins: ``S'_t = Σ_{j≤t} w_{tj} x_j`` with ``w_{tj} =
    α(1−α)^{t−j}`` (init term ``j=1`` keeps weight ``(1−α)^{t−1}``),
    and ``S''`` applies the identical kernel to ``S'``.  Exponents
    are all ≥ 0, so no overflow for any series length (the naive
    window factorization ``(1−α)^t·Σ(1−α)^{−j}x_j`` overflows past a
    few hundred days); both engines replay the identical arithmetic.
    ``max_days`` bounds the pair join (3650 days = ~13M pairs —
    trivial; raise it deliberately for longer histories)."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    from pyspark.sql import Window

    daily = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.to_date(ts_col).cast("string").alias("day"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("x"))
    )
    n_days = daily.count()
    if n_days > max_days:
        raise ValueError(
            f"brown_smoothing: {n_days} days > max_days={max_days}; the "
            "closed-form pair join is |days|^2 — pre-aggregate to weeks "
            "or raise max_days deliberately."
        )
    idx = daily.withColumn(
        "t", F.row_number().over(Window.orderBy("day"))
    ).localCheckpoint(eager=False)

    def _smooth(frame: DataFrame, col: str, out: str) -> DataFrame:
        a = frame.select(F.col("t").alias("__ti"))
        b = frame.select(F.col("t").alias("__tj"), F.col(col).alias("__xj"))
        wgt = F.when(
            F.col("__tj") == 1,
            F.pow(F.lit(1.0 - alpha), F.col("__ti") - 1),
        ).otherwise(
            F.lit(alpha)
            * F.pow(F.lit(1.0 - alpha), F.col("__ti") - F.col("__tj"))
        )
        return (
            a.join(b, F.col("__tj") <= F.col("__ti"))
            .groupBy(F.col("__ti").alias("t"))
            .agg(F.sum(wgt * F.col("__xj")).alias(out))
        )

    s1 = _smooth(idx, "x", "s1")
    base = idx.join(s1, "t").localCheckpoint(eager=False)
    s2 = _smooth(base, "s1", "s2")
    lvl = 2 * F.col("s1") - F.col("s2")
    trd = (alpha / (1.0 - alpha)) * (F.col("s1") - F.col("s2"))
    return (
        base.join(s2, "t")
        .select(
            "day",
            F.round("x", 6).alias("x"),
            F.round("s1", 6).alias("s1"),
            F.round("s2", 6).alias("s2"),
            F.round(lvl, 6).alias("level"),
            F.round(trd, 6).alias("trend"),
            F.round(lvl + trd, 6).alias("forecast_next"),
        )
    )


def ab_srm_check(
    df: DataFrame,
    variant_col: str,
    expected: dict,
    alpha: float = 0.001,
) -> DataFrame:
    """Sample-ratio-mismatch check for experiment assignment (Fabijan
    et al. 2019's "most useful A/B guardrail"): a chi-squared
    goodness-of-fit of the observed per-variant unit counts against
    the DESIGNED split — the test that invalidates an experiment
    before anyone reads its metrics, because a biased assignment
    biases everything downstream.

    ``expected`` maps variant → design weight (normalized internally,
    so ``{"A": 1, "B": 1}`` is 50/50).  Every expected variant counts
    (an arm that got ZERO traffic is exactly the pathology), and an
    OBSERVED variant missing from ``expected`` raises — unknown arms
    are a logging bug, not a statistics question.  The conventional
    SRM alpha is stricter than metric alphas (0.001) since a true SRM
    is a showstopper.  Returns ONE row ``(n, k, chi2, dof, p_value,
    srm_suspected)`` rounded to 6, p via the Wilson-Hilferty cube-root
    approximation both engines replay (:func:`_chi2_upper_p`).

    Scale shape: ONE variant-keyed count aggregation (map-side
    combined) — |variants| rows survive; the expected frame is a
    literal; the unknown-variant guard is an anti-join count on the
    already-aggregated counts, not the corpus."""
    if not expected:
        raise ValueError("expected must be a non-empty dict")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    wsum = float(sum(expected.values()))
    if wsum <= 0 or any(w <= 0 for w in expected.values()):
        raise ValueError("expected weights must all be > 0")
    counts = (
        df.where(F.col(variant_col).isNotNull())
        .groupBy(F.col(variant_col).cast("string").alias("variant"))
        .agg(F.count(F.lit(1)).alias("o"))
        # LAZY lineage cut (round 12): the unknown-variant guard below
        # is an eager collect, so without the cut the returned query
        # re-ran the full variant aggregation a SECOND time.  The guard
        # materializes the checkpoint (|variants| slim rows persisted)
        # and the returned plan reads those blocks — one corpus pass
        # per readout instead of two.
        .localCheckpoint(eager=False)
    )
    spark = df.sparkSession
    exp_df = spark.createDataFrame(
        [(str(k), float(v) / wsum) for k, v in sorted(expected.items())],
        "variant string, w double",
    )
    unknown = counts.join(F.broadcast(exp_df), "variant", "left_anti")
    # error-path guard stays bounded even when the caller passed a
    # high-cardinality column (e.g. user_id) as variant_col: the
    # message only needs EXAMPLES, so limit(20) before the collect
    bad = [r["variant"] for r in unknown.select("variant").limit(20).collect()]
    if bad:
        raise ValueError(
            f"ab_srm_check: observed variants {bad!r} (first "
            f"{len(bad)} shown) missing from expected — unknown arms "
            "are an assignment-logging bug (or variant_col is not the "
            "assignment column)."
        )
    j = exp_df.join(counts, "variant", "left").select(
        "variant", "w", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    agg = j.crossJoin(
        F.broadcast(j.agg(F.sum("o").alias("n")))
    ).agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.pow(F.col("o") - F.col("w") * F.col("n"), 2)
            / (F.col("w") * F.col("n"))
        ).alias("__chi2"),
    )
    p = _chi2_upper_p(F.col("__chi2"), (F.col("k") - 1).cast("double"))
    staged = agg.withColumn("__p", p)
    return staged.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round("__chi2", 6).alias("chi2"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.round("__p", 6).alias("p_value"),
        (F.col("__p") < alpha).alias("srm_suspected"),
    )


def combine_pvalues(
    tests: DataFrame,
    p_col: str = "p_value",
    z_col: str | None = None,
    max_tests: int = 20,
) -> DataFrame:
    """Combine k independent test p-values into one global verdict:
    Fisher's method (1932) ``X = −2·Σ ln p ~ χ²(2k)`` with the EXACT
    even-dof survival function ``P = e^{−X/2}·Σ_{i<k}(X/2)^i/i!``
    (closed form — no approximation both engines would have to agree
    on), and, when ``z_col`` is given, Stouffer's method (1949)
    ``Z = Σ z_i/√k`` from the tests' own signed z-statistics — the
    meta-analysis step after a per-segment screen ("does ANYTHING
    move, jointly?") that single-test alphas can't answer.

    NULL p-values are dropped; p is clamped to ≥ 1e-300 before the
    log.  Returns ONE row ``(k, fisher_x2, fisher_p, stouffer_z,
    stouffer_p)`` rounded to 6 (the Stouffer pair is NULL without
    ``z_col``).

    Scale shape: ONE aggregation over the |tests|-row frame (itself
    the bounded output of a screen like
    :func:`group_mean_shift_tests`); the exact-series term count
    equals k, ENFORCED ≤ ``max_tests`` (both engines' factorial is
    exact only to 20!) — past that, Stouffer is the right method and
    the error says so."""
    p = F.col(p_col).cast("double")
    base = tests.where(p.isNotNull()).select(
        F.greatest(p, F.lit(1e-300)).alias("__p"),
        *(
            [F.col(z_col).cast("double").alias("__z")]
            if z_col is not None
            else []
        ),
    )
    k = base.count()
    if k == 0:
        raise ValueError("combine_pvalues: no non-NULL p-values")
    if k > max_tests:
        raise ValueError(
            f"combine_pvalues: {k} tests > max_tests={max_tests}; the "
            "exact even-dof chi-squared series needs k factorial terms "
            "(exact only to 20!). Use Stouffer's method (z_col=...) on "
            "the screen output directly for larger families."
        )
    aggs = [F.sum(-2.0 * F.log("__p")).alias("__x")]
    if z_col is not None:
        aggs.append(F.sum("__z").alias("__zs"))
    agg = base.agg(*aggs)
    xh = F.col("__x") / 2.0
    # P(chi2_{2k} > X) = exp(-X/2) * sum_{i=0}^{k-1} (X/2)^i / i!
    series = sum(
        (
            F.pow(xh, F.lit(float(i)))
            / F.lit(float(__import__("math").factorial(i)))
            for i in range(k)
        ),
        start=F.lit(0.0),
    )
    fisher_p = F.least(
        F.greatest(F.exp(-xh) * series, F.lit(0.0)), F.lit(1.0)
    )
    out_cols = [
        F.lit(k).cast("long").alias("k"),
        F.round("__x", 6).alias("fisher_x2"),
        F.round(fisher_p, 6).alias("fisher_p"),
    ]
    if z_col is not None:
        zc = F.col("__zs") / F.lit(float(k) ** 0.5)
        sp = _two_sided_normal_p(F.abs(zc))
        sp = F.least(F.greatest(sp, F.lit(0.0)), F.lit(1.0))
        out_cols += [
            F.round(zc, 6).alias("stouffer_z"),
            F.round(sp, 6).alias("stouffer_p"),
        ]
    else:
        out_cols += [
            F.lit(None).cast("double").alias("stouffer_z"),
            F.lit(None).cast("double").alias("stouffer_p"),
        ]
    return agg.select(*out_cols)


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    margin: float,
    alpha: float = 0.05,
) -> DataFrame:
    """Two-one-sided-tests (TOST) EQUIVALENCE test (Schuirmann 1987):
    is |mean_a − mean_b| < ``margin``?  The question a non-significant
    :func:`welch_ttest` cannot answer — absence of evidence is not
    evidence of absence; TOST inverts the burden by testing both
    ``diff > −margin`` and ``diff < margin`` one-sided, and only when
    BOTH reject does "equivalent" hold.  The launch-review workhorse:
    "did the cheaper pipeline change the metric by less than the
    margin we care about?".

    Uses the Welch unequal-variance normal approximation (the
    :func:`welch_ttest` convention — z not t at corpus sizes), SE
    from one moment pass.  Returns ONE row ``(n_a, n_b, mean_a,
    mean_b, diff, margin, z_lower, z_upper, p_tost, equivalent)``
    rounded to 6 — ``p_tost = max`` of the two one-sided p's,
    ``equivalent = p_tost < alpha``.

    Scale shape: ONE filtered aggregation carrying both groups'
    count/sum/sumsq (map-side combined); everything after is scalar
    arithmetic on a 1-row frame."""
    if margin <= 0:
        raise ValueError(f"margin must be > 0, got {margin}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    agg = _two_group_moments(df, group_col, value_col, group_a, group_b)
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    ma, mb = F.col("ma"), F.col("mb")
    va, vb = F.col("va"), F.col("vb")
    se = F.sqrt(va / na + vb / nb)
    diff = ma - mb
    staged = agg.select(
        "na",
        "nb",
        ma.alias("__ma"),
        mb.alias("__mb"),
        diff.alias("__d"),
        F.when(se > 0, (diff + F.lit(margin)) / se).alias("__zl"),
        F.when(se > 0, (F.lit(margin) - diff) / se).alias("__zu"),
    )

    staged = staged.withColumn(
        "__p",
        F.least(
            F.greatest(
                F.greatest(
                    _normal_upper_p(F.col("__zl")), _normal_upper_p(F.col("__zu"))
                ),
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
    )
    return staged.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("__ma", 6).alias("mean_a"),
        F.round("__mb", 6).alias("mean_b"),
        F.round("__d", 6).alias("diff"),
        F.lit(margin).alias("margin"),
        F.round("__zl", 6).alias("z_lower"),
        F.round("__zu", 6).alias("z_upper"),
        F.round("__p", 6).alias("p_tost"),
        (F.col("__p") < alpha).alias("equivalent"),
    )


def xi_correlation_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Chatterjee's ξ rank correlation (Chatterjee 2020, JASA) of the
    DAILY series against time order — the modern dependence
    coefficient that detects ANY functional relationship (oscillating,
    V-shaped, seasonal), not just monotone trends: ξ ≈ 0 means the
    daily value is independent of WHERE in the calendar it falls,
    ξ → 1 means it is a deterministic function of it.  Run it next to
    :func:`trend_tests` — Mann-Kendall misses non-monotone structure
    by construction.

    ``ξ = 1 − 3·Σ|r_{i+1} − r_i| / (n² − 1)`` with ``r_i`` the rank
    of day i's value and the sum over calendar-consecutive day
    indices.  Ranks are tie-broken by day (the deterministic variant
    — daily SUMS are effectively tie-free, and both engines replay
    the identical total order).  Returns ONE row ``(n_days, xi)``
    rounded to 6; NULL with fewer than 2 days.

    Scale shape: the |days|-rollup family — one daily aggregation
    collapses the corpus, then two bounded windows (value rank, next
    rank by day) and one scalar aggregation over |days| rows."""
    from pyspark.sql import Window

    daily = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.to_date(ts_col).cast("string").alias("day"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("x"))
    )
    r = daily.withColumn(
        "__r",
        F.row_number().over(Window.orderBy(F.col("x").asc(), F.col("day").asc())),
    )
    nxt = r.withColumn(
        "__rn", F.lead("__r").over(Window.orderBy("day"))
    )
    n = F.count(F.lit(1)).cast("double")
    return nxt.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.when(
                n > 1,
                F.lit(1.0)
                - F.lit(3.0)
                * F.sum(F.abs(F.col("__rn") - F.col("__r")))
                / (n * n - 1),
            ),
            6,
        ).alias("xi"),
    )


def capture_recapture(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
) -> DataFrame:
    """Lincoln-Petersen / Chapman capture-recapture estimate of a
    population's TRUE size from two overlapping observation sets
    (Chapman 1951 for the low-bias form): mark ``n_a`` ids in pass A,
    observe ``n_b`` in pass B, count the ``n_both`` recaptured —
    ``N̂ = n_a·n_b / n_both`` — the "how many users/docs/dups exist
    that NEITHER pass saw" estimator behind coverage audits (how
    complete is the crawl? how many duplicates did both dedup passes
    miss?).  Assumes the two passes are independent and the
    population closed between them.

    Returns ONE row ``(n_a, n_b, n_both, lincoln_n, chapman_n)``
    rounded to 6 — ``lincoln_n`` is NULL on zero overlap (the classic
    estimator is undefined there); ``chapman_n = (n_a+1)(n_b+1)/
    (n_both+1) − 1`` is always defined and less biased at small
    overlap.

    Scale shape: two distinct-id aggregations + ONE full-outer
    equi-join on the id (shuffle on the key) + one scalar count
    aggregation — nothing survives the final 1-row frame."""
    a = df_a.select(F.col(id_col).alias("id")).where(
        F.col("id").isNotNull()
    ).distinct()
    b = df_b.select(F.col(id_col).alias("id")).where(
        F.col("id").isNotNull()
    ).distinct()
    j = a.withColumn("__a", F.lit(1)).join(
        b.withColumn("__b", F.lit(1)), "id", "full_outer"
    )
    agg = j.agg(
        F.sum(F.coalesce(F.col("__a"), F.lit(0))).alias("na"),
        F.sum(F.coalesce(F.col("__b"), F.lit(0))).alias("nb"),
        F.sum(
            (F.col("__a").isNotNull() & F.col("__b").isNotNull()).cast(
                "long"
            )
        ).alias("m"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    m = F.col("m").cast("double")
    return agg.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("m").cast("long").alias("n_both"),
        F.round(F.when(m > 0, na * nb / m), 6).alias("lincoln_n"),
        F.round((na + 1) * (nb + 1) / (m + 1) - 1, 6).alias("chapman_n"),
    )


def ljung_box(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    lags: int = 7,
) -> DataFrame:
    """Ljung-Box portmanteau whiteness test (Ljung & Box 1978) on the
    daily series: ``Q = n(n+2)·Σ_{k≤h} r_k²/(n−k) ~ χ²(h)`` — "is
    there ANY autocorrelation left?", the standard residual check
    after a forecast (:func:`brown_smoothing`,
    :func:`seasonal_decompose`) and the joint companion to eyeballing
    :func:`acf_daily` lag by lag.

    Consumes :func:`acf_daily`'s estimates exactly as published
    (6-decimal outputs — the oracle replays the identical consumption)
    with ``n`` = the number of observed days.  Returns ONE row
    ``(n_days, lags, q_stat, dof, p_value)`` rounded to 6, p via the
    Wilson-Hilferty cube-root tail (:func:`_chi2_upper_p`).  Requires
    ``n_days > lags``.

    Scale shape: rides :func:`acf_daily` (corpus → |days| rollup →
    |days|×lags pairing), then one |lags|-row aggregation crossed
    with the 1-row day count."""
    if lags < 1:
        raise ValueError(f"lags must be >= 1, got {lags}")
    acfs = acf_daily(df, ts_col, value_col, max_lag=lags)
    nd = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).agg(F.countDistinct(F.to_date(ts_col)).alias("n"))
    n_days = nd.first()["n"]
    if n_days <= lags:
        raise ValueError(
            f"ljung_box: {n_days} days <= lags={lags}; the k-th term "
            "divides by n - k. Reduce lags or widen the window."
        )
    n = F.col("n").cast("double")
    agg = acfs.crossJoin(F.broadcast(nd)).agg(
        F.max("n").alias("n"),
        (
            F.max(n)
            * (F.max(n) + 2)
            * F.sum(F.col("acf") * F.col("acf") / (n - F.col("lag")))
        ).alias("__q"),
    )
    p = _chi2_upper_p(F.col("__q"), F.lit(float(lags)))
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(lags).cast("long").alias("lags"),
        F.round("__q", 6).alias("q_stat"),
        F.lit(lags).cast("long").alias("dof"),
        F.round(p, 6).alias("p_value"),
    )


def mcnemar_test(
    df: DataFrame,
    correct_a_col: str,
    correct_b_col: str,
    continuity: bool = True,
) -> DataFrame:
    """McNemar's test (McNemar 1947) on paired binary outcomes — THE
    test for "is classifier A actually better than classifier B on
    the SAME evaluation set?" (Dietterich 1998's recommendation):
    only the DISCORDANT pairs carry information — ``b`` = A right, B
    wrong; ``c`` = A wrong, B right — and ``χ² = (|b−c|−1)²/(b+c)``
    (Edwards continuity correction; ``continuity=False`` for the raw
    form) against χ²(1).  Comparing accuracies with a two-proportion
    test ignores the pairing and throws away power.

    Inputs are 0/1 correctness columns on the same rows; NULLs drop
    the pair.  Returns ONE row ``(n, both_right, both_wrong, a_only,
    b_only, chi2, p_value)`` rounded to 6 — chi2/p are NULL when
    there are no discordant pairs (the test is undefined; the
    classifiers are behaviorally identical).

    Scale shape: ONE map-side-combined aggregation over the eval
    frame; the tail runs through the shared Wilson-Hilferty/Φ
    machinery on a 1-row frame."""
    a = F.col(correct_a_col).cast("int")
    b = F.col(correct_b_col).cast("int")
    base = df.where(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((a == 1).cast("long") * (b == 1).cast("long")).alias("rr"),
        F.sum((a == 0).cast("long") * (b == 0).cast("long")).alias("ww"),
        F.sum((a == 1).cast("long") * (b == 0).cast("long")).alias("ao"),
        F.sum((a == 0).cast("long") * (b == 1).cast("long")).alias("bo"),
    )
    disc = (F.col("ao") + F.col("bo")).cast("double")
    diff = F.abs(F.col("ao") - F.col("bo")).cast("double")
    num = (
        F.greatest(diff - 1, F.lit(0.0)) if continuity else diff
    )
    chi2 = F.when(disc > 0, num * num / disc)
    staged = agg.withColumn("__chi2", chi2)
    # chi2(1) upper tail EXACTLY: P = 2(1 - Phi(sqrt(chi2)))
    z = F.sqrt(F.coalesce(F.col("__chi2"), F.lit(0.0)))
    p = F.when(
        F.col("__chi2").isNotNull(),
        F.least(
            F.greatest(_two_sided_normal_p(z), F.lit(0.0)), F.lit(1.0)
        ),
    )
    return staged.select(
        F.col("n").cast("long").alias("n"),
        F.col("rr").cast("long").alias("both_right"),
        F.col("ww").cast("long").alias("both_wrong"),
        F.col("ao").cast("long").alias("a_only"),
        F.col("bo").cast("long").alias("b_only"),
        F.round("__chi2", 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
    )


def runs_test_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs test (1940) on the SIGNS of day-over-day
    changes of the daily series — "do moves cluster?": too FEW runs
    means momentum/trending, too MANY means mean-reversion /
    overdifferencing; either breaks the i.i.d.-noise assumption the
    simple monitors make.  The distribution-free companion to
    :func:`ljung_box` (which needs the magnitudes).

    Zero changes are dropped (the standard convention); with ``n₊``
    ups and ``n₋`` downs in ``n = n₊+n₋`` signed changes, runs R has
    ``μ = 2n₊n₋/n + 1``, ``σ² = (μ−1)(μ−2)/(n−1)``, and
    ``z = (R−μ)/σ`` is two-sided normal.  Returns ONE row ``(n_days,
    n_changes, n_runs, mu, z, p_value)`` rounded to 6 — z/p NULL when
    either sign is absent (a monotone series has one run and no
    variance to test against).

    Scale shape: the |days|-rollup family — one daily aggregation,
    one lag window over |days| rows for the change signs, one
    run-boundary window, one scalar aggregation."""
    from pyspark.sql import Window

    daily = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.to_date(ts_col).cast("string").alias("day"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("x"))
    )
    w = Window.orderBy("day")
    chg = daily.select(
        "day",
        (F.col("x") - F.lag("x").over(w)).alias("__d"),
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__nd"),
    )
    signs = chg.where(F.col("__d").isNotNull() & (F.col("__d") != 0)).select(
        "day", F.signum("__d").alias("__s"), "__nd"
    )
    w2 = Window.orderBy("day")
    runs = signs.select(
        "__s",
        "__nd",
        (
            F.lag("__s").over(w2).isNull()
            | (F.lag("__s").over(w2) != F.col("__s"))
        )
        .cast("long")
        .alias("__new_run"),
    )
    agg = runs.agg(
        F.max("__nd").alias("n_days"),
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__s") > 0).cast("long")).alias("np"),
        F.sum((F.col("__s") < 0).cast("long")).alias("nm"),
        F.sum("__new_run").alias("r"),
    )
    n = F.col("n").cast("double")
    mu = 2.0 * F.col("np") * F.col("nm") / n + 1
    var = F.when(n > 1, (mu - 1) * (mu - 2) / (n - 1))
    z = F.when(
        (F.col("np") > 0) & (F.col("nm") > 0) & (var > 0),
        (F.col("r") - mu) / F.sqrt(var),
    )
    staged = agg.withColumn("__mu", mu).withColumn("__z", z)
    p = F.when(
        F.col("__z").isNotNull(),
        F.least(
            F.greatest(
                _two_sided_normal_p(F.abs(F.col("__z"))), F.lit(0.0)
            ),
            F.lit(1.0),
        ),
    )
    return staged.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n").cast("long").alias("n_changes"),
        F.col("r").cast("long").alias("n_runs"),
        F.round("__mu", 6).alias("mu"),
        F.round("__z", 6).alias("z"),
        F.round(p, 6).alias("p_value"),
    )


def granger_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Lag-1 Granger-style predictive screen (Granger 1969) between
    the two daily series one event log carries — VALUE (daily sum)
    and VOLUME (daily count): does yesterday's volume predict today's
    value BEYOND what yesterday's value already predicts?  The
    incremental-R² F-test between the restricted regression
    ``y_t ~ y_{t−1}`` and the unrestricted ``y_t ~ y_{t−1} + c_{t−1}``
    — the leading-indicator probe behind "is traffic a leading signal
    for revenue".

    Lags pair on CALENDAR arithmetic (the :func:`acf_daily`
    convention — a gap drops its pair instead of misaligning).  Both
    fits are closed-form on centered sums (2×2 Cramer); F =
    ``(SSE_r − SSE_u)/(SSE_u/(n−3))`` with p through the shared
    Paulson tail.  Returns ONE row ``(n_pairs, b_lag_value,
    b_lag_count, f_stat, dof2, p_value, predictive)`` rounded to 6 —
    NULL stats on a degenerate design (collinear or constant lags,
    n ≤ 3).

    Scale shape: the |days|-rollup family — ONE daily aggregation,
    one calendar self-join over |days| rows, ONE 9-sum aggregation;
    everything after is scalar arithmetic on a 1-row frame.  This is
    a SCREEN, not causal inference — the docids say "Granger-style"
    for the standard reason."""
    day = F.to_date(F.col(ts_col))
    daily = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(day.alias("d"))
        .agg(
            F.sum(F.col(value_col).cast("double")).alias("y"),
            F.count(F.lit(1)).cast("double").alias("c"),
        )
    )
    prev = daily.select(
        F.date_add("d", 1).alias("d"),
        F.col("y").alias("x1"),
        F.col("c").alias("x2"),
    )
    pairs = daily.join(prev, "d")
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cxx1 = F.col("s11") - F.col("s1") * F.col("s1") / n
    cxx2 = F.col("s22") - F.col("s2") * F.col("s2") / n
    cx12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    cx1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    cx2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = cxx1 * cxx2 - cx12 * cx12
    b1 = F.when((n > 3) & (det > 0), (cx1y * cxx2 - cx2y * cx12) / det)
    b2 = F.when((n > 3) & (det > 0), (cx2y * cxx1 - cx1y * cx12) / det)
    staged = agg.select(
        "n",
        b1.alias("__b1"),
        b2.alias("__b2"),
        # floor SSE_u at a relative epsilon: an EXACT fit (SSE_u = 0,
        # the most predictive case) must yield a huge F, not a
        # divide-guard NULL; a constant y (cyy = 0) stays NULL.
        # Gated on the fit being DEFINED (n > 3, det > 0) — Spark's
        # greatest() skips NULL args, so an ungated floor would turn a
        # degenerate/collinear design (NULL b1/b2) into a bogus
        # epsilon SSE_u and an astronomical F instead of the
        # documented NULL-through contract.
        F.when(
            (n > 3) & (det > 0),
            F.greatest(
                cyy - b1 * cx1y - b2 * cx2y,
                F.lit(1e-12) * F.greatest(cyy, F.lit(0.0)),
            ),
        ).alias("__sseu"),
        F.when(cxx1 > 0, cyy - (cx1y / cxx1) * cx1y).alias("__sser"),
    )
    fv = F.when(
        F.col("__sseu") > 0,
        F.greatest(
            (F.col("__sser") - F.col("__sseu"))
            / (F.col("__sseu") / (F.col("n").cast("double") - 3)),
            F.lit(0.0),
        ),
    )
    staged2 = staged.withColumn("__f", fv)
    p = F.when(
        F.col("__f").isNotNull(),
        F.least(
            F.greatest(
                _f_upper_p(
                    F.col("__f"),
                    F.lit(1.0),
                    F.col("n").cast("double") - 3,
                ),
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
    )
    staged3 = staged2.withColumn("__p", p)
    return staged3.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.round("__b1", 6).alias("b_lag_value"),
        F.round("__b2", 6).alias("b_lag_count"),
        F.round("__f", 6).alias("f_stat"),
        (F.col("n") - 3).cast("long").alias("dof2"),
        F.round("__p", 6).alias("p_value"),
        (F.col("__p") < 0.05).alias("predictive"),
    )


def pacf_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Partial autocorrelations of the daily series at lags 1–3 via
    the Durbin-Levinson recursion (Box & Jenkins 1970) — the AR-order
    picker that completes the identification triad with
    :func:`acf_daily` (MA signature) and :func:`ljung_box` (joint
    whiteness): an AR(p) process cuts its PACF off after lag p while
    its ACF decays.

    Consumes :func:`acf_daily`'s estimates at their published
    6-decimal rounding (the :func:`ljung_box` convention, so the
    oracle replays the identical consumption) and unrolls the
    recursion three levels closed-form:
    ``φ11 = r1``; ``φ22 = (r2 − r1²)/(1 − r1²)``;
    ``φ33 = (r3 − φ21 r2 − φ22 r1)/(1 − φ21 r1 − φ22 r2)`` with
    ``φ21 = φ11(1 − φ22)``.  Returns one row per lag ``(lag, acf,
    pacf)`` rounded to 6 — NULL pacf where a denominator vanishes
    (a unit-root-degenerate sample).

    Scale shape: rides :func:`acf_daily` (corpus → |days| rollup),
    then a 3-row pivot + scalar arithmetic + a 3-row unpivot."""
    acfs = acf_daily(df, ts_col, value_col, max_lag=3)
    piv = acfs.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"r{k}")
            for k in (1, 2, 3)
        ]
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p11 = r1
    d2 = 1 - r1 * r1
    p22 = F.when(d2 != 0, (r2 - r1 * r1) / d2)
    p21 = p11 * (1 - p22)
    d3 = 1 - p21 * r1 - p22 * r2
    p33 = F.when(d3 != 0, (r3 - p21 * r2 - p22 * r1) / d3)
    staged = piv.select(
        "r1",
        "r2",
        "r3",
        p11.alias("__p1"),
        p22.alias("__p2"),
        p33.alias("__p3"),
    )
    rows = staged.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("lag"),
                    F.col("r1").alias("acf"),
                    F.col("__p1").alias("pacf"),
                ),
                F.struct(
                    F.lit(2).alias("lag"),
                    F.col("r2").alias("acf"),
                    F.col("__p2").alias("pacf"),
                ),
                F.struct(
                    F.lit(3).alias("lag"),
                    F.col("r3").alias("acf"),
                    F.col("__p3").alias("pacf"),
                ),
            )
        ).alias("e")
    )
    return rows.select(
        F.col("e.lag").alias("lag"),
        F.col("e.acf").alias("acf"),
        F.round("e.pacf", 6).alias("pacf"),
    )


def effect_size(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Standardized effect size for a two-group mean difference:
    Cohen's d (1988) on the pooled SD, the small-sample-unbiased
    Hedges' g (1981, the exact-correction approximation
    ``J ≈ 1 − 3/(4·dof − 1)``), and d's large-sample 95% CI — the
    MAGNITUDE readout every :func:`welch_ttest` verdict needs next to
    it: at corpus n, p < 0.05 is guaranteed for effects far too small
    to matter, and d is the number that says so (0.2 small / 0.5
    medium / 0.8 large, Cohen's own anchors).

    Returns ONE row ``(n_a, n_b, mean_a, mean_b, pooled_sd, cohens_d,
    hedges_g, d_ci_lo, d_ci_hi)`` rounded to 6 — NULL d on zero
    pooled variance.

    Scale shape: ONE filtered moment aggregation (the
    :func:`welch_ttest` plan); scalar arithmetic after."""
    agg = _two_group_moments(df, group_col, value_col, group_a, group_b)
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    ma, mb = F.col("ma"), F.col("mb")
    ssa = F.greatest(F.col("qa") - F.col("sa") * ma, F.lit(0.0))
    ssb = F.greatest(F.col("qb") - F.col("sb") * mb, F.lit(0.0))
    dof = na + nb - 2
    sp = F.when(dof > 0, F.sqrt((ssa + ssb) / dof))
    d = F.when(sp > 0, (ma - mb) / sp)
    jf = 1 - 3.0 / (4 * dof - 1)
    # large-sample SE of d (Hedges & Olkin 1985 eq. 8)
    se_d = F.sqrt(
        (na + nb) / (na * nb) + d * d / (2 * (na + nb))
    )
    staged = agg.select(
        "na",
        "nb",
        ma.alias("__ma"),
        mb.alias("__mb"),
        sp.alias("__sp"),
        d.alias("__d"),
        (d * jf).alias("__g"),
        (d - 1.959963984540054 * se_d).alias("__lo"),
        (d + 1.959963984540054 * se_d).alias("__hi"),
    )
    return staged.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("__ma", 6).alias("mean_a"),
        F.round("__mb", 6).alias("mean_b"),
        F.round("__sp", 6).alias("pooled_sd"),
        F.round("__d", 6).alias("cohens_d"),
        F.round("__g", 6).alias("hedges_g"),
        F.round("__lo", 6).alias("d_ci_lo"),
        F.round("__hi", 6).alias("d_ci_hi"),
    )


def mean_power_mde(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """Minimum detectable MEAN difference of the current two-group
    setup — the continuous-metric dual of :func:`ab_power_mde`:
    ``MDE = (z_{1−α/2} + z_{power}) · √(s_a²/n_a + s_b²/n_b)`` with
    the groups' own variances (the Welch-form sizing identity).  A
    non-significant :func:`welch_ttest` with an MDE far above the
    shift you care about is an underpowered comparison, not evidence
    of equality.  α/power come from the replayable z grid
    (``_Z_ALPHA`` / ``_Z_POWER`` — a general inverse Φ is not
    engine-replayable arithmetic).

    Returns ONE row ``(n_a, n_b, mean_a, mean_b, se, mde_abs,
    mde_rel)`` rounded to 6 — ``mde_rel`` is relative to |mean_a| and
    NULL when that is 0.

    Scale shape: ONE filtered moment aggregation; scalar arithmetic
    after."""
    if alpha not in _Z_ALPHA:
        raise ValueError(
            f"alpha must be one of {sorted(_Z_ALPHA)}, got {alpha}"
        )
    if power not in _Z_POWER:
        raise ValueError(
            f"power must be one of {sorted(_Z_POWER)}, got {power}"
        )
    z = _Z_ALPHA[alpha] + _Z_POWER[power]
    agg = _two_group_moments(df, group_col, value_col, group_a, group_b)
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    ma, mb = F.col("ma"), F.col("mb")
    va, vb = F.col("va"), F.col("vb")
    se = F.sqrt(va / na + vb / nb)
    mde = F.lit(z) * se
    staged = agg.select(
        "na",
        "nb",
        ma.alias("__ma"),
        mb.alias("__mb"),
        se.alias("__se"),
        mde.alias("__mde"),
        F.when(F.abs(ma) > 0, mde / F.abs(ma)).alias("__rel"),
    )
    return staged.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("__ma", 6).alias("mean_a"),
        F.round("__mb", 6).alias("mean_b"),
        F.round("__se", 6).alias("se"),
        F.round("__mde", 6).alias("mde_abs"),
        F.round("__rel", 6).alias("mde_rel"),
    )


def cuped_ztest(
    df: DataFrame,
    unit_col: str,
    metric_col: str,
    covariate_col: str,
    variant_col: str,
    variant_a,
    variant_b,
) -> DataFrame:
    """CUPED variance-reduced A/B test (Deng, Xu, Kohavi & Walker,
    WSDM 2013): adjust each unit's experiment metric by its
    PRE-EXPERIMENT covariate — ``y_adj = y − θ(x − x̄)`` with
    ``θ = cov(x, y)/var(x)`` pooled across arms — then run the
    two-sample z-test on the adjusted metric.  Pre-period behavior is
    uncorrelated with assignment, so the adjustment is unbiased and
    removes exactly the metric variance the covariate explains —
    routinely 30–60% on revenue-style metrics, i.e. the same
    sensitivity as 1.4–2.5× more traffic, for one extra aggregation.

    ``df`` is ONE ROW PER UNIT (pre-aggregate first).  NULL metric/
    covariate/variant rows are dropped.  Returns ONE row ``(n_a, n_b,
    theta, mean_adj_a, mean_adj_b, diff, z, p_value,
    var_reduction)`` rounded to 6 — z/p NULL when the adjusted SE is
    0; θ is 0 (no adjustment) when the covariate is constant, making
    the operator degrade to the plain z-test instead of erroring.

    Scale shape: ONE variant-keyed moment aggregation (n, Σy, Σx,
    Σy², Σx², Σxy per arm — map-side combined); the pooled totals are
    the two arms' sums, so θ, both adjusted means/variances, the
    z-test, and the variance-reduction readout are all scalar
    identities on a 2-row frame.  No second pass over the units."""
    va = F.col(variant_col) == F.lit(variant_a)
    vb = F.col(variant_col) == F.lit(variant_b)
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    base = df.where(
        (va | vb) & y.isNotNull() & x.isNotNull()
    )
    per = base.groupBy(
        F.when(va, F.lit("a")).otherwise(F.lit("b")).alias("__g")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("sy"),
        F.sum(x).alias("sx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    wide = per.groupBy().pivot("__g", ["a", "b"]).agg(
        F.first("n").alias("n"),
        F.first("sy").alias("sy"),
        F.first("sx").alias("sx"),
        F.first("syy").alias("syy"),
        F.first("sxx").alias("sxx"),
        F.first("sxy").alias("sxy"),
    )
    na = F.col("a_n").cast("double")
    nb = F.col("b_n").cast("double")
    N = na + nb
    SY = F.col("a_sy") + F.col("b_sy")
    SX = F.col("a_sx") + F.col("b_sx")
    SYY = F.col("a_syy") + F.col("b_syy")
    SXX = F.col("a_sxx") + F.col("b_sxx")
    SXY = F.col("a_sxy") + F.col("b_sxy")
    varx = SXX - SX * SX / N
    theta = F.when(varx > 0, (SXY - SX * SY / N) / varx).otherwise(
        F.lit(0.0)
    )
    xbar = SX / N

    def arm(p):
        n = F.col(f"{p}_n").cast("double")
        mean_raw = (F.col(f"{p}_sy") - theta * F.col(f"{p}_sx")) / n
        mean_adj = mean_raw + theta * xbar
        ss = (
            F.col(f"{p}_syy")
            - 2 * theta * F.col(f"{p}_sxy")
            + theta * theta * F.col(f"{p}_sxx")
            - n * mean_raw * mean_raw
        )
        var = F.greatest(F.when(n > 1, ss / (n - 1)), F.lit(0.0))
        return n, mean_adj, var

    n_a, m_a, v_a = arm("a")
    n_b, m_b, v_b = arm("b")
    se = F.sqrt(v_a / n_a + v_b / n_b)
    diff = m_a - m_b
    z = F.when(se > 0, diff / se)
    mz = (SY - theta * SX) / N
    var_z = F.greatest(
        (SYY - 2 * theta * SXY + theta * theta * SXX - N * mz * mz)
        / (N - 1),
        F.lit(0.0),
    )
    var_y = F.greatest((SYY - SY * SY / N) / (N - 1), F.lit(0.0))
    vr = F.when(var_y > 0, 1 - var_z / var_y)
    staged = wide.select(
        F.col("a_n").cast("long").alias("n_a"),
        F.col("b_n").cast("long").alias("n_b"),
        theta.alias("__theta"),
        m_a.alias("__ma"),
        m_b.alias("__mb"),
        diff.alias("__d"),
        z.alias("__z"),
        vr.alias("__vr"),
    )
    p = F.when(
        F.col("__z").isNotNull(),
        F.least(
            F.greatest(
                _two_sided_normal_p(F.abs(F.col("__z"))), F.lit(0.0)
            ),
            F.lit(1.0),
        ),
    )
    return staged.select(
        "n_a",
        "n_b",
        F.round("__theta", 6).alias("theta"),
        F.round("__ma", 6).alias("mean_adj_a"),
        F.round("__mb", 6).alias("mean_adj_b"),
        F.round("__d", 6).alias("diff"),
        F.round("__z", 6).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.round("__vr", 6).alias("var_reduction"),
    )


def msprt_always_valid(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    tau: float = 1.0,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) for a
    two-group mean difference — the ALWAYS-VALID p-value of Johari,
    Koomen, Pekelis & Walsh (KDD 2017): unlike the fixed-horizon
    z-test, this p may be read at ANY time, as often as wanted,
    without inflating false positives — the math behind "peeking is
    safe" continuous experimentation dashboards.

    With observed difference ``d``, its estimated variance
    ``V = s_a²/n_a + s_b²/n_b`` (the Welch form), and the normal
    mixture prior N(0, τ²) on the effect:

        ``Λ = √(V/(V+τ²)) · exp(d²·τ² / (2V(V+τ²)))``,
        ``p_always_valid = min(1, 1/Λ)``.

    ``tau`` is the prior SD of effects worth detecting — match it to
    the metric's scale (too small ⇒ slow detection; too large ⇒
    conservative early).  Returns ONE row ``(n_a, n_b, diff, se,
    lambda, p_always_valid, reject_05)`` rounded to 6 — NULL verdict
    when V = 0 (constant data).

    Scale shape: ONE filtered moment aggregation (the welch_ttest
    plan); scalar arithmetic after.  Reading it per micro-batch over
    a streaming ledger keeps the always-valid guarantee — that is the
    point."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    agg = _two_group_moments(df, group_col, value_col, group_a, group_b)
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    ma, mb = F.col("ma"), F.col("mb")
    va, vb = F.col("va"), F.col("vb")
    V = va / na + vb / nb
    d = ma - mb
    t2 = tau * tau
    lam = F.when(
        V > 0,
        F.sqrt(V / (V + t2))
        * F.exp(d * d * t2 / (2 * V * (V + t2))),
    )
    p = F.when(lam.isNotNull(), F.least(F.lit(1.0) / lam, F.lit(1.0)))
    staged = agg.select(
        "na",
        "nb",
        d.alias("__d"),
        F.sqrt(V).alias("__se"),
        lam.alias("__lam"),
        p.alias("__p"),
    )
    return staged.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("__d", 6).alias("diff"),
        F.round("__se", 6).alias("se"),
        F.round("__lam", 6).alias("lambda"),
        F.round("__p", 6).alias("p_always_valid"),
        (F.col("__p") < 0.05).alias("reject_05"),
    )


def holm_bonferroni(
    tests: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Holm's step-down familywise-error-rate correction over a table
    of test p-values (Holm 1979, Scand. J. Statist.) — the FWER
    counterpart of :func:`bh_fdr`: BH controls the expected FRACTION
    of false discoveries (right for screening hundreds of drift
    tests); Holm controls the probability of even ONE false rejection
    (right for a handful of confirmatory guardrails, e.g. the 3-5
    launch-blocking metrics of an A/B readout), uniformly more
    powerful than plain Bonferroni at the same guarantee.

    Ranks p ascending (test-name tie-break, engine-replayable),
    adjusts ``p_adj_(i) = max_{j≤i} min(1, p_(j)·(m−j+1))`` (the
    step-down running max keeps adjusted values monotone), flags
    ``reject = p_adj ≤ alpha``.  Returns ``(test, p_value, rank, m,
    p_adj, reject)``.

    Scale shape: |tests| rows end-to-end — two ordered windows over a
    frame of already-aggregated tests, exactly like :func:`bh_fdr`;
    never point it at raw events."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    rk = Window.orderBy(F.col("__p").asc(), F.col("__test").asc())
    staged = tests.select(
        F.col(test_col).cast("string").alias("__test"),
        F.col(p_col).cast("double").alias("__p"),
    ).select(
        "__test",
        "__p",
        F.row_number().over(rk).alias("__rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__m"),
    )
    raw = F.least(
        F.col("__p") * (F.col("__m") - F.col("__rank") + 1), F.lit(1.0)
    )
    staged2 = staged.withColumn("__raw", raw)
    up = Window.orderBy(F.col("__rank").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    adj = F.max("__raw").over(up)
    staged3 = staged2.withColumn("__adj", adj)
    return staged3.select(
        F.col("__test").alias("test"),
        F.round("__p", 6).alias("p_value"),
        F.col("__rank").alias("rank"),
        F.col("__m").alias("m"),
        F.round("__adj", 6).alias("p_adj"),
        (F.col("__adj") <= F.lit(alpha)).alias("reject"),
    )


def bayes_ab_beta(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    variant_a,
    variant_b,
    prior_alpha: float = 1.0,
    prior_beta: float = 1.0,
) -> DataFrame:
    """Bayesian A/B readout for a binary metric under independent
    Beta-Binomial models (the industry-standard framing — Stucchio,
    "Bayesian A/B Testing at VWO", 2015): posterior for each arm is
    ``Beta(α₀+c, β₀+n−c)``, and the decision quantity is
    ``P(rate_B > rate_A | data)`` — the number stakeholders actually
    ask for, with no stopping-rule fine print to mis-read.

    ``P(B > A)`` uses the normal approximation to each Beta posterior
    (mean ``a/(a+b)``, variance ``ab/((a+b)²(a+b+1))``); at the
    engine's corpus-scale counts (thousands of users per arm) the
    approximation agrees with the exact integral to well under the
    6-decimal rounding — the same regime call as
    :func:`welch_ttest`'s normal-for-t.  Returns ONE row ``(n_a, n_b,
    conv_a, conv_b, rate_a, rate_b, prob_b_beats_a, abs_lift)``.

    Scale shape: ONE conditional aggregation over the stream
    (count/successes per arm, map-side combined); posterior algebra
    runs on the single surviving row.  No window, no join."""
    if prior_alpha <= 0 or prior_beta <= 0:
        raise ValueError("prior_alpha and prior_beta must be > 0")
    a = F.col(variant_col) == F.lit(variant_a)
    b = F.col(variant_col) == F.lit(variant_b)
    s = F.col(success_col).cast("double")
    agg = df.where(a | b).agg(
        F.sum(a.cast("long")).alias("n_a"),
        F.sum(b.cast("long")).alias("n_b"),
        F.sum(F.when(a, s).otherwise(F.lit(0.0))).alias("c_a"),
        F.sum(F.when(b, s).otherwise(F.lit(0.0))).alias("c_b"),
    )
    pa, pb = F.lit(float(prior_alpha)), F.lit(float(prior_beta))
    aa = pa + F.col("c_a")
    ba = pb + F.col("n_a") - F.col("c_a")
    ab_ = pa + F.col("c_b")
    bb = pb + F.col("n_b") - F.col("c_b")
    mu_a = aa / (aa + ba)
    mu_b = ab_ / (ab_ + bb)
    var_a = aa * ba / ((aa + ba) * (aa + ba) * (aa + ba + 1))
    var_b = ab_ * bb / ((ab_ + bb) * (ab_ + bb) * (ab_ + bb + 1))
    staged = agg.select(
        "n_a", "n_b", "c_a", "c_b",
        mu_a.alias("__ma"), mu_b.alias("__mb"),
        (var_a + var_b).alias("__v"),
    )
    z = F.when(
        F.col("__v") > 0,
        (F.col("__mb") - F.col("__ma")) / F.sqrt(F.col("__v")),
    )
    # Phi(z) from the shared one-polynomial tail: Phi(z) = 1 - p2(|z|)/2
    # for z >= 0, p2(|z|)/2 for z < 0 (ties at exactly 0 -> 0.5)
    staged2 = staged.withColumn("__z", z)
    tail = _two_sided_normal_p(F.abs(F.col("__z"))) / F.lit(2.0)
    prob = F.when(F.col("__z").isNull(), F.lit(0.5)).otherwise(
        F.when(F.col("__z") >= 0, F.lit(1.0) - tail).otherwise(tail)
    )
    return staged2.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.round("__ma", 6).alias("rate_a"),
        F.round("__mb", 6).alias("rate_b"),
        F.round(
            F.least(F.greatest(prob, F.lit(0.0)), F.lit(1.0)), 6
        ).alias("prob_b_beats_a"),
        F.round(F.col("__mb") - F.col("__ma"), 6).alias("abs_lift"),
    )


def page_hinkley(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    delta: float = 0.005,
    lam: float = 0.5,
) -> DataFrame:
    """Page-Hinkley drift detector over the per-day mean of
    ``value_col`` (Page 1954's CUSUM variant as popularized for data
    streams by Gama et al. 2004): accumulate deviations from the
    RUNNING mean, ``m_t = Σ_{i≤t} (x_i − x̄_i − δ)``, track the running
    minimum ``M_t``, and alarm when the gap ``PH_t = m_t − M_t``
    exceeds ``λ`` — the standard "did this metric drift UPWARD and
    stay there?" monitor (run it on the negated series for downward
    drift).  Unlike :func:`cusum_changepoints` (fixed reference mean),
    PH self-references the running mean, so slow level ramps
    accumulate instead of being absorbed into the baseline.

    ``delta`` is the magnitude tolerance (drifts smaller than δ per
    observation never alarm); ``lam`` the alarm threshold in value
    units.  Returns ONE row ``(n_days, ph_max, ph_max_day, alarm_day,
    drifted)`` — ``alarm_day`` is the FIRST day the gap crossed λ
    (NULL when none), ``drifted`` the boolean readout.

    Scale shape: the corpus collapses to |days| rows FIRST (one
    aggregation); the running mean / cumulative sum / running min /
    first-crossing scan are four ordered windows over that rollup —
    a diagnostic on hundreds of rows, never a corpus op."""
    if lam <= 0:
        raise ValueError(f"lam must be > 0, got {lam}")
    day = F.to_date(F.col(ts_col))
    daily = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(day.alias("d"))
        .agg(F.avg(F.col(value_col).cast("double")).alias("x"))
    )
    return page_hinkley_over_daily(daily, delta=delta, lam=lam)


def page_hinkley_over_daily(
    daily: DataFrame,
    delta: float = 0.005,
    lam: float = 0.5,
) -> DataFrame:
    """The Page-Hinkley window arithmetic over an ALREADY-ROLLED-UP
    daily-mean frame ``(d, x)`` — shared verbatim by the batch
    :func:`page_hinkley` (corpus → |days| aggregation) and the
    streaming twin ``streaming/windows.py page_hinkley_from_ledger``
    (daily-moments ledger fold), so the two readouts are the same
    plan over different rollup sources (the KS/PSI-twin precedent)."""
    if lam <= 0:
        raise ValueError(f"lam must be > 0, got {lam}")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    staged = daily.withColumn(
        "__dev", F.col("x") - F.avg("x").over(w) - F.lit(float(delta))
    ).withColumn("__m", F.sum("__dev").over(w))
    staged2 = staged.withColumn(
        "__ph", F.col("__m") - F.min("__m").over(w)
    )
    alarm = F.when(F.col("__ph") > lam, F.col("d"))
    staged3 = staged2.withColumn(
        "__phmax", F.max("__ph").over(Window.partitionBy())
    )
    out = staged3.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.max("__ph"), 6).alias("ph_max"),
        F.min(
            F.when(F.col("__ph") == F.col("__phmax"), F.col("d"))
        ).alias("ph_max_day"),
        F.min(alarm).alias("alarm_day"),
        F.max((F.col("__ph") > lam).cast("int")).alias("__any"),
    )
    return out.select(
        "n_days",
        "ph_max",
        "ph_max_day",
        "alarm_day",
        (F.col("__any") == 1).alias("drifted"),
    )


def anova_posthoc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alpha: float = 0.05,
    max_groups: int = 100,
) -> DataFrame:
    """Pairwise post-hoc comparisons after :func:`anova_f`: every
    group pair gets a Welch unequal-variance z-test (Welch 1947 — the
    same normal-for-t regime call as :func:`welch_ttest`), then the
    whole family is Holm-corrected (:func:`holm_bonferroni`) so the
    FWER across all C(k,2) comparisons stays ≤ alpha — the question
    an omnibus "the groups differ" F always raises next: WHICH pairs
    differ?

    Returns one row per pair ``(group_a, group_b, n_a, n_b, mean_a,
    mean_b, z, p_value, p_adj, reject)``, pairs ordered
    ``group_a < group_b`` (string order, engine-replayable).

    Scale shape: ONE per-group moment aggregation (count/sum/sumsq,
    map-side combined) collapses the corpus to |groups| rows, then
    the tiny frame is ``localCheckpoint``-ed (eager — the guard needs
    an action anyway), so the pair self-join, the Holm windows AND the
    final re-join all ride the materialized |groups|/|pairs| rows —
    the corpus is scanned exactly ONCE, never once per branch.  A
    self-enforcing ``max_groups`` pre-check (the ks_test pattern)
    bounds the C(k,2) pair stage at ≤ C(max_groups, 2) rows."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if max_groups < 2:
        raise ValueError(f"max_groups must be >= 2, got {max_groups}")
    v = F.col(value_col).cast("double")
    per = (
        df.where(F.col(group_col).isNotNull() & v.isNotNull())
        .groupBy(F.col(group_col).cast("string").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
        )
    )
    # eager checkpoint: the guard forces an action anyway, and it pins
    # the ONE corpus aggregation so the a/b pair sides and the final
    # re-join reuse |groups| materialized rows instead of re-scanning
    per = per.localCheckpoint(eager=True)
    k = per.count()
    if k > max_groups:
        raise ValueError(
            f"anova_posthoc: {k} groups > max_groups={max_groups}; the "
            "pairwise stage is C(k,2) — bucket or filter the grouping "
            "column upstream, or raise max_groups if k is genuinely "
            "bounded."
        )
    if k < 2:
        raise ValueError(f"anova_posthoc: need >= 2 groups, got {k}")
    n = F.col("n").cast("double")
    m = F.col("s1") / n
    var = F.greatest(
        F.when(n > 1, (F.col("s2") - F.col("s1") * m) / (n - 1)),
        F.lit(0.0),
    )
    moments = per.select(
        "g", "n", m.alias("m"), (var / n).alias("vn")
    )
    a = moments.select(
        F.col("g").alias("group_a"), F.col("n").alias("n_a"),
        F.col("m").alias("__ma"), F.col("vn").alias("__va"),
    )
    b = moments.select(
        F.col("g").alias("group_b"), F.col("n").alias("n_b"),
        F.col("m").alias("__mb"), F.col("vn").alias("__vb"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    se2 = F.col("__va") + F.col("__vb")
    z = F.when(
        se2 > 0, (F.col("__ma") - F.col("__mb")) / F.sqrt(se2)
    ).otherwise(F.lit(0.0))
    scored = pairs.select(
        "group_a", "group_b", "n_a", "n_b",
        F.col("__ma").alias("__meana"), F.col("__mb").alias("__meanb"),
        z.alias("__z"),
        F.least(
            _two_sided_normal_p(F.abs(z)), F.lit(1.0)
        ).alias("__p"),
    )
    # collision-free pair key: a bare "a|b" concat would let two
    # DIFFERENT pairs collide when a group name itself contains "|"
    # (("a|b","c") vs ("a","b|c")), fanning out the re-join with the
    # wrong p_adj attached — length-prefixing group_a pins the split
    # point so key equality implies pair equality
    pair_key = F.concat_ws(
        "|",
        F.concat(F.length("group_a").cast("string"), F.lit(":"), F.col("group_a")),
        F.col("group_b"),
    )
    adjusted = holm_bonferroni(
        scored.select(pair_key.alias("test"), "__p"),
        "test",
        "__p",
        alpha=alpha,
    )
    return (
        scored.join(
            adjusted.select("test", "p_adj", "reject"),
            pair_key == F.col("test"),
        )
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            F.round("__meana", 6).alias("mean_a"),
            F.round("__meanb", 6).alias("mean_b"),
            F.round("__z", 6).alias("z"),
            F.round("__p", 6).alias("p_value"),
            "p_adj",
            "reject",
        )
    )


def g_test(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Likelihood-ratio G-test of independence between two categorical
    columns (Sokal & Rohlf's standard alternative to Pearson χ²;
    Woolf 1957): ``G = 2·Σ o·ln(o/e)`` over the contingency table
    with ``e = row_total·col_total/n`` — additively decomposable
    across table partitions (the property Pearson χ² lacks) and the
    statistic that log-linear model comparisons actually difference.
    Empty cells contribute 0 to G exactly (lim x→0 of x·ln x), so the
    observed-cells-only aggregation is complete, not an approximation.

    Returns ONE row ``(n, n_a, n_b, dof, g_stat, p_value)`` rounded to
    6; p via the shared Wilson-Hilferty cube-root chi-squared
    approximation (:func:`_chi2_upper_p`).

    Scale shape: one (a, b) count aggregation collapses the data to
    the |R·C|-row contingency table; margins and totals come from
    window sums OVER THAT TABLE (not margin re-aggregations, which
    would lazily re-scan the corpus once per branch), so the source is
    scanned exactly ONCE; the global window is a single task over
    contingency cells — small by the definition of a categorical
    test."""
    cell = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    # distinct-level counts WITHOUT materializing a collect_set per
    # row: cells are already distinct (a, b) pairs, so |distinct a| =
    # #{first row of each a-partition} — the row_number markers ride
    # the SAME a-/b-keyed exchanges the margin sums need, and the
    # global window then just sums 0/1 flags
    marked = cell.select(
        "a",
        "b",
        "o",
        (
            F.row_number().over(Window.partitionBy("a").orderBy("b"))
            == 1
        ).cast("long").alias("__fa"),
        (
            F.row_number().over(Window.partitionBy("b").orderBy("a"))
            == 1
        ).cast("long").alias("__fb"),
    )
    staged = marked.select(
        "o",
        F.sum("o").over(wa).alias("ta"),
        F.sum("o").over(wb).alias("tb"),
        F.sum("o").over(wall).alias("n"),
        F.sum("__fa").over(wall).alias("n_a"),
        F.sum("__fb").over(wall).alias("n_b"),
    )
    o = F.col("o").cast("double")
    e = F.col("ta").cast("double") * F.col("tb") / F.col("n")
    g = F.lit(2.0) * F.sum(o * F.log(o / e))
    agg = staged.groupBy("n", "n_a", "n_b").agg(g.alias("__g"))
    dof = ((F.col("n_a") - 1) * (F.col("n_b") - 1)).cast("double")
    gv = F.greatest(F.col("__g"), F.lit(0.0))
    staged = agg.select(
        "n", "n_a", "n_b", dof.alias("__dof"), gv.alias("__gv")
    )
    p = _chi2_upper_p(F.col("__gv"), F.col("__dof"))
    return staged.select(
        "n",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("__dof").cast("long").alias("dof"),
        F.round("__gv", 6).alias("g_stat"),
        F.round(p, 6).alias("p_value"),
    )


def storey_qvalues(
    tests: DataFrame,
    test_col: str,
    p_col: str,
    lambda_: float = 0.5,
    alpha: float = 0.05,
) -> DataFrame:
    """Storey's positive-FDR q-values (Storey 2002; Storey &
    Tibshirani 2003 PNAS): estimate the null fraction
    ``π₀ = #{p > λ} / ((1−λ)·m)`` (clamped to (0, 1]), then scale the
    BH step-up by it — ``q_i = min_{j≥i} π₀·p_(j)·m/j``.  When many
    tests are truly alternative (a drift sweep over a corpus that HAS
    drifted), BH's implicit π₀ = 1 is conservative and Storey's
    estimate buys back real power at the same FDR.

    Returns ``(test, p_value, rank, m, pi0, q_value, reject)``.

    Scale shape: |tests| rows end-to-end, exactly like
    :func:`bh_fdr` — two ordered windows plus one broadcast scalar
    (the π₀ aggregate); never point it at raw events."""
    if not (0.0 < lambda_ < 1.0):
        raise ValueError(f"lambda_ must be in (0, 1), got {lambda_}")
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    rk = Window.orderBy(F.col("__p").asc(), F.col("__test").asc())
    staged = tests.select(
        F.col(test_col).cast("string").alias("__test"),
        F.col(p_col).cast("double").alias("__p"),
    ).select(
        "__test",
        "__p",
        F.row_number().over(rk).alias("__rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__m"),
    ).persist()  # the pi0 aggregate branches off the ranked frame
    pi0_agg = staged.agg(
        F.least(
            F.greatest(
                F.sum((F.col("__p") > lambda_).cast("long"))
                / (F.lit(1.0 - lambda_) * F.count(F.lit(1))),
                # a sweep where every p <= lambda would estimate
                # pi0 = 0 and zero every q-value; floor at 1/m (at
                # least one test could be null), the standard clamp
                F.lit(1.0) / F.count(F.lit(1)),
            ),
            F.lit(1.0),
        ).alias("__pi0")
    )
    staged2 = staged.crossJoin(F.broadcast(pi0_agg))
    qraw = F.col("__pi0") * F.col("__p") * F.col("__m") / F.col("__rank")
    staged3 = staged2.withColumn("__qraw", qraw)
    down = Window.orderBy(F.col("__rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    q = F.least(F.min("__qraw").over(down), F.lit(1.0))
    staged4 = staged3.withColumn("__q", q)
    return staged4.select(
        F.col("__test").alias("test"),
        F.round("__p", 6).alias("p_value"),
        F.col("__rank").alias("rank"),
        F.col("__m").alias("m"),
        F.round("__pi0", 6).alias("pi0"),
        F.round("__q", 6).alias("q_value"),
        (F.col("__q") <= F.lit(alpha)).alias("reject"),
    )


def seasonality_strength(
    daily: DataFrame,
    ts_col: str = "day",
    value_col: str = "y",
    period: int = 7,
    trend_window: int = 7,
) -> DataFrame:
    """Strength-of-trend and strength-of-seasonality scalars (Wang,
    Smyth & Hyndman 2006; the FPP3 §4.3 features) computed from
    :func:`seasonal_decompose`'s additive components:
    ``F_T = max(0, 1 − Var(R)/Var(T+R))`` and
    ``F_S = max(0, 1 − Var(R)/Var(S+R))`` — the two numbers that turn
    a decomposition PLOT into a monitorable metric ("seasonality
    strength jumped from 0.2 to 0.8 → a weekly batch job appeared").

    Rows where the centered-MA trend is undefined (series edges) are
    excluded, exactly as the decomposition leaves them NULL.  Returns
    ONE row ``(n_days, n_used, trend_strength, seasonal_strength)``
    rounded to 6; strengths are NULL when fewer than 3 usable rows or
    a zero denominator variance.

    Scale shape: rides the |days|-row decomposition (the caller's one
    big aggregation produced the series) + ONE moment aggregation
    over those rows."""
    # the n_days count and the usable-row moments both branch off the
    # decomposition; persist the |days|-row frame so it computes once
    dec = seasonal_decompose(
        daily, ts_col=ts_col, value_col=value_col,
        period=period, trend_window=trend_window,
    ).persist()
    used = dec.where(F.col("residual").isNotNull())
    r = F.col("residual").cast("double")
    tr = F.col("y") - F.col("seasonal")   # trend + residual
    sr = F.col("y") - F.col("trend")      # seasonal + residual
    agg = dec.agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    ).crossJoin(
        F.broadcast(
            used.agg(
                F.count(F.lit(1)).alias("n_used"),
                F.sum(r).alias("sr1"),
                F.sum(r * r).alias("sr2"),
                F.sum(tr).alias("st1"),
                F.sum(tr * tr).alias("st2"),
                F.sum(sr).alias("ss1"),
                F.sum(sr * sr).alias("ss2"),
            )
        )
    )
    n = F.col("n_used").cast("double")
    vr = F.when(n > 2, (F.col("sr2") - F.col("sr1") * F.col("sr1") / n) / (n - 1))
    vt = F.when(n > 2, (F.col("st2") - F.col("st1") * F.col("st1") / n) / (n - 1))
    vs = F.when(n > 2, (F.col("ss2") - F.col("ss1") * F.col("ss1") / n) / (n - 1))
    # a zero component variance means the component carries no signal
    # at all: strength 0 by convention (NULL only when n_used <= 2)
    ft = F.when(vt > 0, F.greatest(F.lit(1.0) - vr / vt, F.lit(0.0))).when(
        vt.isNotNull(), F.lit(0.0)
    )
    fs = F.when(vs > 0, F.greatest(F.lit(1.0) - vr / vs, F.lit(0.0))).when(
        vs.isNotNull(), F.lit(0.0)
    )
    return agg.select(
        "n_days",
        F.col("n_used").cast("long").alias("n_used"),
        F.round(ft, 6).alias("trend_strength"),
        F.round(fs, 6).alias("seasonal_strength"),
    )


def hurst_exponent(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    block_sizes: Sequence[int] = (5, 10, 15),
) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis over the
    per-day mean series (Hurst 1951; Mandelbrot & Wallis 1969) — the
    long-memory diagnostic: H ≈ 0.5 for a memoryless series, > 0.5
    for trending/persistent metrics (load that stays high once high),
    < 0.5 for mean-reverting ones.  The number that says whether
    "7 bad days in a row" is alarming or expected.

    For each block size n: the series splits into ⌊T/n⌋ COMPLETE
    blocks; per block, R = range of the cumulative deviations from
    the block mean and S = the population standard deviation; blocks
    with S = 0 are skipped.  H is the closed-form OLS slope of
    ``ln(mean R/S)`` on ``ln(n)`` over the block sizes that produced
    at least one usable block.  Returns ONE row ``(n_days, n_scales,
    hurst, r2)`` rounded to 6 — NULL when fewer than 2 usable scales.

    Scale shape: the corpus collapses to |days| rows FIRST; each
    block size costs two |days|-row windows (block-mean join +
    within-block cumulative deviation) and a |blocks|-row rollup; the
    final fit is one aggregation over |block_sizes| points."""
    sizes = sorted(set(int(b) for b in block_sizes))
    if len(sizes) < 2 or sizes[0] < 2:
        raise ValueError(
            f"need >= 2 distinct block sizes, all >= 2, got {block_sizes}"
        )
    day = F.to_date(F.col(ts_col))
    daily = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(day.alias("d"))
        .agg(F.avg(F.col(value_col).cast("double")).alias("x"))
    )
    w = Window.orderBy("d")
    # every block size branches off the indexed series; persist the
    # |days|-row frame so the daily aggregation runs once, not per scale
    seq = daily.withColumn("__i", F.row_number().over(w) - 1).persist()
    n_days = seq.agg(F.count(F.lit(1)).alias("n_days"))
    per_scale = []
    for nsz in sizes:
        blk = seq.select(
            F.floor(F.col("__i") / nsz).alias("b"),
            "__i",
            "x",
        ).withColumn(
            "__bn",
            F.count(F.lit(1)).over(
                Window.partitionBy("b").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        ).where(F.col("__bn") == nsz)
        bm = blk.withColumn(
            "__mean",
            F.avg("x").over(
                Window.partitionBy("b").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        cum = bm.withColumn(
            "__cd",
            F.sum(F.col("x") - F.col("__mean")).over(
                Window.partitionBy("b").orderBy("__i")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        per_block = cum.groupBy("b").agg(
            (F.max("__cd") - F.min("__cd")).alias("__r"),
            # population std; clamp the float-cancellation negative
            F.sqrt(
                F.greatest(
                    F.avg(F.col("x") * F.col("x"))
                    - F.avg("x") * F.avg("x"),
                    F.lit(0.0),
                )
            ).alias("__s"),
        )
        rs = per_block.where(F.col("__s") > 0).agg(
            F.avg(F.col("__r") / F.col("__s")).alias("__rs"),
            F.count(F.lit(1)).alias("__nb"),
        ).select(
            F.lit(float(nsz)).alias("__n"),
            "__rs",
            "__nb",
        )
        per_scale.append(rs)
    pts = per_scale[0]
    for extra in per_scale[1:]:
        pts = pts.unionAll(extra)
    pts = pts.where((F.col("__nb") > 0) & (F.col("__rs") > 0)).select(
        F.log("__n").alias("lx"), F.log("__rs").alias("ly")
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    ).crossJoin(F.broadcast(n_days))
    k = F.col("k").cast("double")
    dx = k * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = k * F.col("syy") - F.col("sy") * F.col("sy")
    num = k * F.col("sxy") - F.col("sx") * F.col("sy")
    h = F.when((F.col("k") > 1) & (dx > 0), num / dx)
    r2 = F.when((F.col("k") > 1) & (dx > 0) & (dy > 0), num * num / (dx * dy))
    return agg.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("n_scales"),
        F.round(h, 6).alias("hurst"),
        F.round(r2, 6).alias("r2"),
    )


def gpd_tail_fit(
    df: DataFrame,
    value_col: str,
    threshold: float,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Generalized-Pareto tail fit of the exceedances over a FIXED
    threshold by probability-weighted moments (Hosking & Wallis 1987
    — the closed-form peaks-over-threshold estimator): the
    extreme-value answer to "how bad is the p99.99 latency really",
    where empirical quantiles run out of data.  ``ξ`` (shape) > 0
    means a heavy/polynomial tail, ≈ 0 exponential, < 0 bounded;
    ``σ`` scales it.  ``ξ = 2 − b0/(b0 − 2·b1)``,
    ``σ = 2·b0·b1/(b0 − 2·b1)`` from the first two PWMs of the
    exceedances ``y = x − u``.

    The threshold is an explicit caller-chosen constant (pick it from
    a quantile sketch upstream) so the fit is deterministic and
    engine-replayable — no approximate-quantile divergence.  Returns
    ONE row ``(n_exceed, b0, xi, sigma)`` rounded to 6 — NULL ξ/σ on
    a degenerate tail (b0 = 2·b1 or < 2 exceedances).

    Scale shape: the b1 order statistic runs over DISTINCT exceedance
    values with tie runs folded in closed form (the ks_test cell
    contract, ``max_distinct`` ENFORCED) — one value-keyed count
    aggregation + one ordered |distinct|-row window, never a raw-row
    sort."""
    v = F.col(value_col).cast("double")
    exc = df.where(v.isNotNull() & (v > threshold)).select(
        (v - F.lit(float(threshold))).alias("y")
    )
    ndv = exc.agg(F.approx_count_distinct("y").alias("__ndv")).first()["__ndv"]
    if ndv > max_distinct:
        raise ValueError(
            f"gpd_tail_fit: ~{ndv} distinct exceedances > "
            f"max_distinct={max_distinct}; raise the threshold (the "
            "point of POT is a sparse tail) or quantize upstream."
        )
    cells = exc.groupBy("y").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = cells.select(
        "y",
        "c",
        F.coalesce(F.sum("c").over(wc), F.lit(0)).alias("__le"),
        F.sum("c").over(wall).alias("__n"),
    )
    tot = staged.agg(
        F.max("__n").alias("n"),
        F.sum(F.col("y") * F.col("c")).alias("__sy"),
        # sum over ranks i (ascending, 1-based) of (n - i) * y_(i),
        # tie runs folded: sum_{i in run} (n - i)
        #   = c*n - c*le - c*(c+1)/2   with le = count before the run
        F.sum(
            F.col("y")
            * (
                F.col("c") * F.col("__n")
                - F.col("c") * F.col("__le")
                - F.col("c") * (F.col("c") + 1) / 2
            )
        ).alias("__b1num"),
    )
    n = F.col("n").cast("double")
    b0 = F.col("__sy") / n
    b1 = F.when(n > 1, F.col("__b1num") / (n * (n - 1)))
    staged2 = tot.select(
        F.col("n").cast("long").alias("n_exceed"),
        b0.alias("__b0"),
        b1.alias("__b1"),
    )
    den = F.col("__b0") - 2 * F.col("__b1")
    xi = F.when(F.abs(den) > 0, F.lit(2.0) - F.col("__b0") / den)
    sigma = F.when(F.abs(den) > 0, 2 * F.col("__b0") * F.col("__b1") / den)
    return staged2.select(
        "n_exceed",
        F.round("__b0", 6).alias("b0"),
        F.round(xi, 6).alias("xi"),
        F.round(sigma, 6).alias("sigma"),
    )


def wilson_ci_by_group(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Per-group binomial proportion with the Wilson score interval
    (Wilson 1927 — the interval Brown, Cai & DasGupta 2001 recommend
    over the Wald default, which collapses at p near 0/1 and small
    n): conversion / defect / dup-rate dashboards per segment, with
    honest uncertainty at every group size.

    ``success_col`` is 0/1 (castable); NULL groups/successes are
    dropped.  Returns one row per group ``(group, n, successes, rate,
    ci_low, ci_high)`` rounded to 6, bounds clamped to [0, 1].

    Scale shape: ONE group-keyed conditional aggregation (map-side
    combined); the interval algebra runs on |groups| rows."""
    if z <= 0:
        raise ValueError(f"z must be > 0, got {z}")
    s = F.col(success_col).cast("double")
    per = (
        df.where(F.col(group_col).isNotNull() & s.isNotNull())
        .groupBy(F.col(group_col).cast("string").alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(s).alias("__s"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("__s") / n
    z2 = F.lit(float(z) * float(z))
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
        / denom
    )
    return per.select(
        "group",
        F.col("n").cast("long").alias("n"),
        F.col("__s").cast("long").alias("successes"),
        F.round(p, 6).alias("rate"),
        F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("ci_low"),
        F.round(F.least(center + half, F.lit(1.0)), 6).alias("ci_high"),
    )


def dominant_period(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 14,
) -> DataFrame:
    """Dominant-period detection from the daily autocorrelation
    function (:func:`acf_daily`): the lag in 1..``max_lag`` with the
    highest ACF, gated on the standard Bartlett large-sample
    significance bound ``|r| > 1.96/√n`` — the one-row answer to
    "what period should I hand :func:`seasonal_decompose`?", and a
    monitor for cadence changes (a weekly batch job appearing flips
    ``best_lag`` to 7).

    Returns ONE row ``(n_days, best_lag, best_acf, acf_threshold,
    significant)`` rounded to 6 — ties break to the LOWEST lag (the
    fundamental beats its harmonics).

    Scale shape: ONE corpus aggregation builds the |days| rollup
    (persisted — the ACF's four branches AND the Bartlett day count
    all ride it; before round 10 this plan re-scanned the corpus 5x);
    the argmax is one ordered pick over ≤ ``max_lag`` rows."""
    day = F.to_date(F.col(ts_col))
    v = F.col(value_col).cast("double")
    daily = (
        df.groupBy(day.alias("d"))
        .agg(
            F.avg(v).alias("v"),
            # rows whose ts AND value are both non-null — d is non-null
            # iff ts is, so within a non-null day this counts non-null
            # values (the distinct-day filter the Bartlett bound needs)
            F.count(F.when(v.isNotNull(), F.lit(1))).alias("__nnz"),
        )
        .persist()
    )
    acf = acf_over_daily(daily.select("d", "v"), max_lag=max_lag)
    nd = (
        daily.where(F.col("d").isNotNull() & (F.col("__nnz") > 0))
        .agg(F.count(F.lit(1)).alias("n_days"))
    )
    w = Window.orderBy(F.col("acf").desc(), F.col("lag").asc())
    best = (
        acf.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.lit(1).alias("__k"),
            F.col("lag").alias("best_lag"),
            F.col("acf").alias("best_acf"),
        )
    )
    # n_days > 0 gate keeps thr NULL (not a div-by-zero artifact) on an
    # all-NULL series; the count aggregate itself ALWAYS yields one row
    thr = F.when(
        F.col("n_days") > 0,
        F.lit(1.96) / F.sqrt(F.col("n_days").cast("double")),
    )
    # nd (a global count — exactly one row by construction) DRIVES the
    # join: a series too short for acf_daily to emit any lag rows still
    # returns the documented ONE row, with NULL best_lag/best_acf,
    # instead of silently returning zero rows
    return (
        nd.withColumn("__k", F.lit(1))
        .join(F.broadcast(best), "__k", "left")
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("best_lag").cast("long").alias("best_lag"),
            "best_acf",
            F.round(thr, 6).alias("acf_threshold"),
            (F.col("best_acf") > thr).alias("significant"),
        )
    )



def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Mood's median test (Brown & Mood 1951) — "do these k groups
    share a common median?", the counting (not ranking) member of the
    k-group location family: find the GRAND weighted median, classify
    every observation as above vs at-or-below it, and Pearson-χ² the
    resulting k×2 table with k−1 dof (the Wilson-Hilferty tail,
    :func:`_chi2_upper_p`).
    Less powerful than Kruskal-Wallis under normal-ish shifts but
    far more robust to heavy tails and outliers — the right screen
    for latency/size metrics.

    The grand median is the LOWER weighted median (the smallest value
    whose cumulative count reaches half of n — engine-replayable,
    no interpolation).  Returns ONE row ``(k, n, grand_median,
    n_above, chi2, dof, p_value)`` rounded to 6.

    Scale shape: one (group, value) cell aggregation (map-side
    combined) collapses the corpus; the median scan and the k×2 fold
    are windows/rollups over those cells — the same single-task
    |distinct values| contract as :func:`ks_test`, ENFORCED by the
    ``max_distinct`` pre-check (quantize continuous columns
    upstream)."""
    v = F.col(value_col).cast("double")
    # NULL values drop up front (the kruskal_wallis rationale: NULL
    # ordering diverges across engines and would shift the median)
    df = df.where(v.isNotNull() & F.col(group_col).isNotNull())
    ndv = df.agg(F.approx_count_distinct(v).alias("__ndv")).first()["__ndv"]
    if ndv > max_distinct:
        raise ValueError(
            f"mood_median_test: {value_col!r} has ~{ndv} distinct values "
            f"> max_distinct={max_distinct}; quantize upstream (the "
            "median scan is ONE task over the distinct values)."
        )
    # |cells| <= max_distinct x |groups| rows; the median scan, the
    # per-group fold, and their rollups all branch off this frame --
    # persist it so the corpus aggregation runs ONCE, not per branch
    per = df.groupBy(
        v.alias("v"), F.col(group_col).cast("string").alias("g")
    ).agg(F.count(F.lit(1)).alias("c")).persist()
    tv = per.groupBy("v").agg(F.sum("c").alias("t"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = tv.select(
        "v", "t", F.sum("t").over(wcum).alias("cumt")
    ).withColumn("__n", F.sum("t").over(Window.partitionBy()))
    med = cum.where(
        F.col("cumt") * 2 >= F.col("__n")
    ).agg(F.min("v").alias("m"), F.max("__n").alias("n"))
    cells = (
        per.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("v") > F.col("m"), F.col("c")).otherwise(0))
            .alias("above"),
            F.sum("c").alias("ng"),
            F.max("m").alias("m"),
            F.max("n").alias("n"),
        )
        .persist()  # |groups| rows, read by tot AND the chi2 fold
    )
    tot = cells.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("above").alias("tot_above"),
        F.max("n").alias("n"),
        F.max("m").alias("m"),
    )
    n = F.col("n").cast("double")
    ta = F.col("tot_above").cast("double")
    ng = F.col("ng").cast("double")
    ea = ng * ta / n
    eb = ng * (n - ta) / n
    oa = F.col("above").cast("double")
    ob = ng - oa
    contrib = F.when(ea > 0, (oa - ea) * (oa - ea) / ea).otherwise(
        F.lit(0.0)
    ) + F.when(eb > 0, (ob - eb) * (ob - eb) / eb).otherwise(F.lit(0.0))
    agg = (
        cells.crossJoin(
            F.broadcast(tot.select("k", "tot_above"))
        )
        .agg(
            F.max("k").alias("k"),
            F.max("n").alias("n"),
            F.max("m").alias("m"),
            F.max("tot_above").alias("tot_above"),
            F.sum(contrib).alias("__chi2"),
        )
        .withColumn("__dof", (F.col("k") - 1).cast("double"))
    )
    p = _chi2_upper_p(F.col("__chi2"), F.col("__dof"))
    return agg.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round("m", 6).alias("grand_median"),
        F.col("tot_above").cast("long").alias("n_above"),
        F.round("__chi2", 6).alias("chi2"),
        F.col("__dof").cast("long").alias("dof"),
        F.round(p, 6).alias("p_value"),
    )


def cvm_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion (Anderson 1962) — the
    whole-distribution drift test that weights EVERY quantile, where
    :func:`ks_test` sees only the single largest ECDF gap (KS is
    blunt in the tails; CvM integrates the squared gap, catching
    dispersed small shifts KS misses).  Computed on value cells via
    the ECDF form ``T = (n·m/N²) Σ_v t_v (F_a(v) − F_b(v))²`` summed
    over distinct values with combined multiplicity ``t_v`` (equal to
    Anderson's rank formula when ties are absent; its natural
    tie-weighted generalization otherwise — stated because the rank
    form is ill-defined under ties).

    The verdict compares T against the asymptotic α = 0.05 critical
    value 0.461 (Anderson-Darling 1952 table for the limiting
    ω²-distribution; :func:`_verdict`).  Returns ONE row ``(n_a, n_b,
    t_stat, critical_05, reject)`` rounded to 6; an empty group
    raises ``ValueError``.

    Scale shape: the :func:`ks_test` cells and window contract
    (:func:`_drift_cells`), ``max_distinct`` ENFORCED."""
    cells = _drift_cells(
        df, group_col, value_col, group_a, group_b, "cvm_two_sample",
        max_distinct=max_distinct,
    )
    s = cells.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(_cvm_term(F.col)).alias("__s"),
    )
    return _verdict(s, "t_stat", 0.461)


def ad_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    max_distinct: int = 100_000,
) -> DataFrame:
    """Two-sample Anderson-Darling test (Pettitt 1976; the k = 2
    right-continuous case of Scholz & Stephens 1987) — the
    TAIL-WEIGHTED member completing the drift triple next to
    :func:`ks_test` (largest ECDF gap) and :func:`cvm_two_sample`
    (integrated squared gap): the same integrated gap, but divided by
    ``H(1−H)`` of the POOLED ECDF, which blows the weight up near the
    distribution's extremes — the test that catches a tail-only shift
    (latency p99 regressions, score-ceiling saturation) that KS and
    CvM both dilute.

    Computed on value cells via the ECDF form
    ``A² = (n·m/N²) Σ_v t_v (F_a(v) − F_b(v))² / (H_v(1−H_v))``
    summed over distinct values with combined multiplicity ``t_v``
    and pooled ECDF ``H_v``, excluding the largest value (H = 1 —
    the standard N−1 truncation; equal to Pettitt's rank formula
    without ties and to Scholz-Stephens' discrete A²kN with them).
    Verdict against the asymptotic α = 0.05 critical value 2.492
    (Pettitt 1976: A²mn shares the one-sample A² limit law).  Returns
    ONE row ``(n_a, n_b, a2_stat, critical_05, reject)`` rounded to
    6; an empty group raises ``ValueError``.

    Scale shape: the :func:`cvm_two_sample` shape."""
    cells = _drift_cells(
        df, group_col, value_col, group_a, group_b, "ad_two_sample",
        max_distinct=max_distinct,
    )
    s = cells.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(_ad_term(F.col)).alias("__s"),
    )
    return _verdict(s, "a2_stat", 2.492)


def _gamma1p(x):
    """``Γ(1+x)`` for a column ``0 ≤ x ≤ 1`` — the Abramowitz-Stegun
    6.1.36 polynomial (|ε| ≤ 3e-7, inside the 6-decimal output
    rounding), pure replayable arithmetic like the Φ polynomial
    (:func:`_two_sided_normal_p`)."""
    return (
        F.lit(1.0)
        + x
        * (
            F.lit(-0.577191652)
            + x
            * (
                F.lit(0.988205891)
                + x
                * (
                    F.lit(-0.897056937)
                    + x
                    * (
                        F.lit(0.918206857)
                        + x
                        * (
                            F.lit(-0.756704078)
                            + x
                            * (
                                F.lit(0.482199394)
                                + x
                                * (
                                    F.lit(-0.193527818)
                                    + x * F.lit(0.035868343)
                                )
                            )
                        )
                    )
                )
            )
        )
    )


def gev_block_maxima_fit(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    return_period: int = 20,
) -> DataFrame:
    """Generalized-extreme-value fit to DAILY BLOCK MAXIMA by
    probability-weighted moments (Hosking, Wallis & Wood 1985) — the
    Fisher-Tippett sibling of :func:`gpd_tail_fit` (GPD models the
    excesses over a high threshold; GEV models the per-block maxima —
    "how bad is the worst value a typical day/month produces, and
    what does a 1-in-``return_period``-block day look like?").

    Closed-form PWM estimation: unbiased sample PWMs b0/b1/b2 over
    the ORDERED block maxima, Hosking's ``k`` from the rational
    approximation ``k = 7.8590c + 2.9554c²`` with
    ``c = (2b1−b0)/(3b2−b0) − ln2/ln3``, then scale/location through
    ``Γ(1+k)`` (the shared A&S polynomial, :func:`_gamma1p`; the
    reflection ``Γ(1+k) = Γ(2+k)/(1+k)`` covers k < 0).  Reported
    ``shape`` uses the modern ξ = −k sign convention (ξ > 0 =
    heavy/Fréchet tail).  ``|k| < 1e-6`` degrades to the Gumbel PWM
    fit (σ = (2b1−b0)/ln2, μ = b0 − γσ) — the k → 0 limit.  The
    return level is the GEV quantile at non-exceedance 1 − 1/T.
    Returns ONE row ``(n_blocks, shape, scale, location,
    return_level, return_period)`` rounded to 6; needs ≥ 3 blocks
    (NULLs otherwise).  A CONSTANT maxima series also yields NULLs
    even at n ≥ 3: ``3b2 − b0 = 0`` exactly, so the guarded ``c``
    (and everything downstream) is NULL — a degenerate series has no
    spread for the PWM moments to fit.

    Scale shape: the corpus collapses to |days| block maxima FIRST
    (one aggregation); the order-statistic weights are one window
    over that calendar-bounded rollup, then ONE moment aggregation —
    weights within tied maxima permute freely but their SUMS are
    permutation-invariant, so the estimate is engine-replayable."""
    if return_period < 2:
        raise ValueError(
            f"return_period must be >= 2, got {return_period}"
        )
    day = F.to_date(F.col(ts_col))
    v = F.col(value_col).cast("double")
    maxima = (
        df.where(F.col(ts_col).isNotNull() & v.isNotNull())
        .groupBy(day.alias("d"))
        .agg(F.max(v).alias("x"))
    )
    w = Window.orderBy("x", "d")
    idx = maxima.select(
        "x", (F.row_number().over(w) - 1).cast("double").alias("i")
    )
    n = F.col("n").cast("double")
    agg = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("__s0"),
        F.sum(F.col("i") * F.col("x")).alias("__s1"),
        F.sum(F.col("i") * (F.col("i") - 1) * F.col("x")).alias("__s2"),
    )
    # The scalar algebra below is staged through lazy localCheckpoints
    # of the ONE-row frame: Catalyst's CollapseProject otherwise
    # re-inlines every intermediate, duplicating the Γ polynomial and
    # the k rational into a >64 KB codegen method (janino refuses and
    # Spark falls back to interpreted eval — measured 5-10 s on a
    # 1-row frame).  Each barrier is a sub-100 ms job; the corpus-side
    # work above is untouched, and the arithmetic (hence the oracle
    # hash) is identical.
    # staged columns evaluate EAGERLY (no lazy CASE short-circuit), so
    # every division is guarded for the degenerate n < 3 / constant
    # cases ANSI mode would otherwise turn into DIVIDE_BY_ZERO errors;
    # the NULLs flow through to the few-blocks guard at the end
    b0 = F.when(n > 0, F.col("__s0") / n)
    b1 = F.when(n > 1, F.col("__s1") / (n * (n - 1)))
    b2 = F.when(n > 2, F.col("__s2") / (n * (n - 1) * (n - 2)))
    st1 = agg.select(
        "n", b0.alias("b0"), b1.alias("b1"), b2.alias("b2")
    ).localCheckpoint(eager=False)
    b0c, b1c, b2c = F.col("b0"), F.col("b1"), F.col("b2")
    cden = 3 * b2c - b0c
    c = F.when(cden != 0, (2 * b1c - b0c) / cden) - F.lit(
        0.6309297535714574
    )  # ln2/ln3
    st2 = st1.select(
        "n", "b0", "b1",
        (F.lit(7.8590) * c + F.lit(2.9554) * c * c).alias("k"),
    ).localCheckpoint(eager=False)
    k = F.col("k")
    gamma1pk = F.when(
        k >= 0, _gamma1p(k)
    ).otherwise(_gamma1p(F.lit(1.0) + k) / (F.lit(1.0) + k))
    st3 = st2.select(
        "n", "b0", "k", gamma1pk.alias("gam"),
        ((2 * F.col("b1") - F.col("b0")) / F.lit(0.6931471805599453))
        .alias("sgum"),  # Gumbel-limit scale, (2b1 - b0)/ln 2
        F.when(
            F.abs(k) >= 1e-6,  # the Gumbel branch never reads sgev
            (2 * F.col("b1") - F.col("b0"))
            * k
            / (gamma1pk * (F.lit(1.0) - F.pow(F.lit(2.0), -k))),
        ).alias("sgev"),
    ).localCheckpoint(eager=False)
    gumbel = F.abs(F.col("k")) < 1e-6
    shape = F.when(gumbel, F.lit(0.0)).otherwise(-F.col("k"))
    sigma = F.when(gumbel, F.col("sgum")).otherwise(F.col("sgev"))
    mu = F.when(
        gumbel,
        F.col("b0") - F.lit(0.5772156649015329) * F.col("sgum"),
    ).otherwise(
        F.col("b0")
        + F.col("sgev") * (F.col("gam") - F.lit(1.0)) / F.col("k")
    )
    st4 = st3.select(
        "n",
        gumbel.alias("gum"),
        shape.alias("shape"),
        sigma.alias("sigma"),
        mu.alias("mu"),
    ).localCheckpoint(eager=False)
    y = F.lit(-1.0) * F.log(
        F.lit(1.0) - F.lit(1.0) / F.lit(float(return_period))
    )  # -ln(p), p = 1 - 1/T
    rl = F.when(
        F.col("gum"), F.col("mu") - F.col("sigma") * F.log(y)
    ).otherwise(
        F.col("mu")
        + F.col("sigma")
        * (F.pow(y, -F.col("shape")) - F.lit(1.0))
        / F.col("shape")
    )
    few = F.col("n") < 3
    return st4.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.when(few, F.lit(None))
        .otherwise(F.round("shape", 6))
        .alias("shape"),
        F.when(few, F.lit(None))
        .otherwise(F.round("sigma", 6))
        .alias("scale"),
        F.when(few, F.lit(None)).otherwise(F.round("mu", 6)).alias(
            "location"
        ),
        F.when(few, F.lit(None)).otherwise(F.round(rl, 6)).alias(
            "return_level"
        ),
        F.lit(return_period).cast("long").alias("return_period"),
    )


def hist_cvm_ranges(
    sketches: DataFrame,
    range_a: tuple,
    range_b: tuple,
) -> DataFrame:
    """Cramér-von Mises drift between two DATE RANGES computed from
    the :func:`hist_daily_sketches` rollup ALONE — the binned
    :func:`cvm_two_sample`, completing the rollup-only drift triple
    (:func:`hist_ks_ranges` = largest ECDF gap, :func:`hist_psi_ranges`
    = share-ratio magnitude, this = the INTEGRATED squared gap, which
    catches dispersed small shifts KS's single max misses): merge each
    range's day arrays (lossless), build both binned ECDFs, and sum
    ``T = (n_a·n_b/N²) Σ_bin t_bin (F_a − F_b)²`` with combined bin
    multiplicity ``t_bin`` (zero-count bins contribute 0, so the
    binned sum equals the distinct-value form up to the bin-width
    discretization the rollup already carries).  Verdict against the
    asymptotic α = 0.05 critical value 0.461, the
    :func:`cvm_two_sample` contract.

    Returns ONE row ``(n_a, n_b, t_stat, critical_05, reject)``; a
    range matching no rollup rows gives NULL ``t_stat``/``reject``.
    Scale shape: two filtered sums over the |days|-row rollup + array
    expressions over ``nbins`` values — never touches the raw log."""
    r = _drift_ranges(sketches, range_a, range_b)
    return _verdict(
        r.select("n_a", "n_b", _fold_cells(_cvm_term).alias("__s")),
        "t_stat",
        0.461,
    )


def hist_ad_ranges(
    sketches: DataFrame,
    range_a: tuple,
    range_b: tuple,
) -> DataFrame:
    """Anderson-Darling drift between two DATE RANGES computed from
    the :func:`hist_daily_sketches` rollup ALONE — the binned
    :func:`ad_two_sample`, extending the rollup-only drift family to
    a QUARTET (:func:`hist_ks_ranges` = largest ECDF gap,
    :func:`hist_cvm_ranges` = integrated squared gap,
    :func:`hist_psi_ranges` = share-ratio magnitude, this = the
    TAIL-WEIGHTED integrated gap): merge each range's day arrays
    (lossless), build both binned ECDFs plus the POOLED one, and sum
    ``A² = (n_a·n_b/N²) Σ_bin t_bin (F_a − F_b)² / (H(1−H))`` over
    bins with pooled mass and H < 1 (empty bins contribute 0; the
    last nonempty bin is the standard N−1 truncation — equal to the
    distinct-value form up to the bin-width discretization the rollup
    already carries).  Verdict against the asymptotic α = 0.05
    critical value 2.492, the :func:`ad_two_sample` contract.

    Returns ONE row ``(n_a, n_b, a2_stat, critical_05, reject)``; a
    range matching no rollup rows gives NULL ``a2_stat``/``reject``.
    Scale shape: two filtered sums over the |days|-row rollup + array
    expressions over ``nbins`` values — never touches the raw log."""
    r = _drift_ranges(sketches, range_a, range_b)
    return _verdict(
        r.select("n_a", "n_b", _fold_cells(_ad_term).alias("__s")),
        "a2_stat",
        2.492,
    )


def friedman_daily(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    max_groups: int = 100,
) -> DataFrame:
    """Friedman rank test over daily blocks (Friedman 1937) — "do
    these k treatments differ, controlling for the day?": each
    COMPLETE day (all k groups observed) is a block, the per-(day,
    group) mean is ranked WITHIN its day (average ranks for ties),
    and the tie-corrected statistic ``Q = [12/(nk(k+1)) Σ_j R_j² −
    3n(k+1)] / [1 − Σ(t³−t)/(nk(k²−1))]`` is χ²(k−1) under the null
    (the Wilson-Hilferty tail, :func:`_chi2_upper_p`).  The
    within-block design removes day-level drift that would swamp
    :func:`kruskal_wallis` — the right screen when every group moves
    with the daily level and the question is their RELATIVE order.

    Incomplete days are DROPPED (the classical complete-block
    requirement; a group missing one day would otherwise bias its
    rank sum).  Returns ONE row ``(k, n_blocks, q_stat, dof,
    kendall_w, p_value)`` rounded to 6 — ``kendall_w`` is Kendall &
    Babington Smith's 1939 coefficient of concordance ``W =
    Q/(n(k−1))`` in [0, 1], the EFFECT SIZE the χ² verdict lacks
    (how consistently the blocks agree on the ordering, not just
    whether they do).

    Scale shape: one (day, group) mean aggregation collapses the
    corpus; ranks are per-DAY windows (partitioned — never a global
    sort) over the |days|·k cell frame (persisted: the completeness
    filter, tie rollup, and rank sums all branch off it); the
    ``max_groups`` pre-check bounds k."""
    if max_groups < 2:
        raise ValueError(f"max_groups must be >= 2, got {max_groups}")
    day = F.to_date(F.col(ts_col))
    v = F.col(value_col).cast("double")
    cells = (
        df.where(
            F.col(ts_col).isNotNull()
            & v.isNotNull()
            & F.col(group_col).isNotNull()
        )
        .groupBy(day.alias("d"), F.col(group_col).cast("string").alias("g"))
        .agg(F.avg(v).alias("x"))
        .persist()
    )
    k_all = cells.select("g").distinct().count()
    if k_all > max_groups:
        raise ValueError(
            f"friedman_daily: {k_all} groups > max_groups={max_groups}; "
            "bucket or filter the grouping column upstream."
        )
    if k_all < 2:
        raise ValueError(f"friedman_daily: need >= 2 groups, got {k_all}")
    wday = Window.partitionBy("d")
    complete = cells.withColumn(
        "__kd", F.count(F.lit(1)).over(wday)
    ).where(F.col("__kd") == k_all)
    wrank = Window.partitionBy("d").orderBy("x")
    wtie = Window.partitionBy("d", "x")
    ranked = complete.select(
        "d",
        "g",
        "x",
        (
            F.rank().over(wrank)
            + (F.count(F.lit(1)).over(wtie) - 1) / F.lit(2.0)
        ).alias("r"),
        ((F.count(F.lit(1)).over(wtie)).cast("double")).alias("__t"),
    )
    per_g = ranked.groupBy("g").agg(F.sum("r").alias("rj"))
    # tie mass: each (d, x) tie group of size t contributes t^3 - t;
    # every row in the group carries __t, so sum (t*t - 1) per row
    # equals sum over groups of t*(t^2 - 1) = t^3 - t
    ties = ranked.agg(
        F.sum(F.col("__t") * F.col("__t") - 1).alias("__tie_mass"),
        (F.count(F.lit(1)) / F.lit(float(k_all))).alias("__n"),
    )
    agg = per_g.crossJoin(F.broadcast(ties)).agg(
        F.count(F.lit(1)).alias("k"),
        F.max("__n").alias("n"),
        F.sum(F.col("rj") * F.col("rj")).alias("__s"),
        F.max("__tie_mass").alias("__tm"),
    )
    n = F.col("n")
    kk = F.col("k").cast("double")
    q_raw = (
        F.lit(12.0) / (n * kk * (kk + 1)) * F.col("__s")
        - F.lit(3.0) * n * (kk + 1)
    )
    corr = F.lit(1.0) - F.col("__tm") / (n * kk * (kk * kk - 1))
    q = F.when(corr > 0, F.greatest(q_raw / corr, F.lit(0.0))).otherwise(
        F.lit(0.0)
    )
    staged = agg.withColumn("__q", q).withColumn(
        "__dof", (F.col("k") - 1).cast("double")
    )
    p = _chi2_upper_p(F.col("__q"), F.col("__dof"))
    w_conc = F.when(
        (n > 0) & (F.col("k") > 1),
        F.col("__q") / (n * (F.col("k").cast("double") - 1)),
    )
    return staged.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n_blocks"),
        F.round("__q", 6).alias("q_stat"),
        F.col("__dof").cast("long").alias("dof"),
        F.round(w_conc, 6).alias("kendall_w"),
        F.round(p, 6).alias("p_value"),
    )


def kpss_level_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_bandwidth: int = 30,
) -> DataFrame:
    """KPSS level-stationarity test over the per-day mean
    (Kwiatkowski, Phillips, Schmidt & Shin 1992) — the null-reversed
    companion of the trend family: :func:`trend_tests` asks "is there
    a trend?" (null = none), KPSS asks "is the level STATIONARY?"
    (null = yes), so a series failing BOTH is the classic
    unit-root/random-walk signature.  ``η = n⁻² Σ S_t² / σ̂²_lrv``
    with ``S_t`` the partial sums of demeaned values and the
    long-run variance Bartlett-weighted over the standard KPSS
    bandwidth ``L = ⌊4(n/100)^¼⌋``: ``σ̂² = γ₀ + 2Σ_{l≤L}(1 −
    l/(L+1))γ_l``.  The verdict compares η against the published 5%
    critical value 0.463 (KPSS Table 1; the limiting distribution is
    a Brownian-bridge functional with no replayable closed form, the
    :func:`cvm_two_sample` convention).  Returns ONE row ``(n_days,
    eta, bandwidth, critical_05, reject_stationarity)`` rounded to 6;
    NULL eta when fewer than 3 days.

    Scale shape: the corpus collapses to the |days| rollup FIRST
    (one aggregation, persisted); the partial sums and every lagged
    autocovariance are ``max_bandwidth`` ordered-window lag columns
    over that calendar-bounded frame, with Bartlett weights clamped
    to 0 beyond the data-driven L — one moment aggregation ends the
    plan, no collect."""
    if max_bandwidth < 1:
        raise ValueError(
            f"max_bandwidth must be >= 1, got {max_bandwidth}"
        )
    day = F.to_date(F.col(ts_col))
    v = F.col(value_col).cast("double")
    daily = (
        df.where(F.col(ts_col).isNotNull() & v.isNotNull())
        .groupBy(day.alias("d"))
        .agg(F.avg(v).alias("x"))
        .persist()
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    word = Window.orderBy("d")
    staged = daily.withColumn("__e", F.col("x") - F.avg("x").over(wall))
    staged = staged.withColumn("__s", F.sum("__e").over(wcum))
    lag_cols = [
        (F.col("__e") * F.lag("__e", lag).over(word)).alias(f"__p{lag}")
        for lag in range(1, max_bandwidth + 1)
    ]
    staged = staged.select("__e", "__s", *lag_cols)
    agg = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__s") * F.col("__s")).alias("__ss"),
        F.sum(F.col("__e") * F.col("__e")).alias("__g0"),
        *[
            F.sum(f"__p{lag}").alias(f"__g{lag}")
            for lag in range(1, max_bandwidth + 1)
        ],
    )
    n = F.col("n").cast("double")
    bw = F.floor(
        F.lit(4.0) * F.pow(n / F.lit(100.0), F.lit(0.25))
    ).cast("double")
    # Bartlett weights clamp to 0 beyond the data-driven L, so the
    # static max_bandwidth lag columns reproduce the exact KPSS sum
    # as long as L <= max_bandwidth (L = 30 needs ~80 years of days)
    lrv = F.col("__g0") / n
    lrv_terms = [
        F.lit(2.0)
        * F.greatest(
            F.lit(0.0),
            F.lit(1.0) - F.lit(float(lag)) / (bw + 1),
        )
        * (F.coalesce(F.col(f"__g{lag}"), F.lit(0.0)) / n)
        for lag in range(1, max_bandwidth + 1)
    ]
    for term in lrv_terms:
        lrv = lrv + term
    eta = F.when(
        (F.col("n") >= 3) & (lrv > 0),
        (F.col("__ss") / (n * n)) / lrv,
    )
    crit = F.lit(0.463)
    staged2 = agg.withColumn("__eta", eta).withColumn("__bw", bw)
    return staged2.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("__eta", 6).alias("eta"),
        F.col("__bw").cast("long").alias("bandwidth"),
        F.round(crit, 6).alias("critical_05"),
        (F.col("__eta") > crit).alias("reject_stationarity"),
    )


def partial_correlation(
    df: DataFrame,
    col_x: str,
    col_y: str,
    col_z: str,
) -> DataFrame:
    """First-order partial correlation of ``x`` and ``y`` CONTROLLING
    for ``z`` (Yule 1907; the recursion Fisher 1924 standardized):
    ``r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))`` — the
    one-number answer to "does x relate to y, or do both just follow
    z?", the confounder check :func:`correlation_matrix`'s raw
    pairwise entries cannot give.  Significance via the Fisher
    z-transform with one controlled variable, ``z = atanh(r)·√(n−4)``,
    through the shared Φ polynomial.

    Rows with ANY of the three NULL are dropped (complete-case — the
    three marginal correlations must share one sample for the
    recursion to hold).  Returns ONE row ``(n, r_xy, r_xz, r_yz,
    partial_r, z, p_value)`` rounded to 6; NULL partial_r when either
    control correlation is ±1 (z collinear with a margin — the
    recursion divides by zero honestly), NULL z/p when n ≤ 4.

    Scale shape: ONE ten-sum moment aggregation (map-side combined)
    collapses the corpus; everything after is scalar algebra on the
    1-row frame."""
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    z = F.col(col_z).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull() & z.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(z * z).alias("szz"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * z).alias("sxz"),
        F.sum(y * z).alias("syz"),
    )
    n = F.col("n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        den2 = (n * F.col(saa) - F.col(sa) * F.col(sa)) * (
            n * F.col(sbb) - F.col(sb) * F.col(sb)
        )
        return F.when(
            den2 > 0,
            (n * F.col(sab) - F.col(sa) * F.col(sb)) / F.sqrt(den2),
        )

    st = agg.select(
        "n",
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    pden2 = (F.lit(1.0) - F.col("rxz") * F.col("rxz")) * (
        F.lit(1.0) - F.col("ryz") * F.col("ryz")
    )
    pr = F.when(
        pden2 > 0,
        (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(pden2),
    )
    st2 = st.withColumn("pr", pr)
    r = F.col("pr")
    zstat = F.when(
        (F.col("n") > 4) & (F.abs(r) < 1),
        F.lit(0.5)
        * F.log((F.lit(1.0) + r) / (F.lit(1.0) - r))
        * F.sqrt(F.col("n").cast("double") - 4),
    )
    st3 = st2.withColumn("z", zstat)
    # least() skips NULLs, so gate explicitly: no z, no p
    p = F.when(
        F.col("z").isNotNull(),
        F.least(_two_sided_normal_p(F.abs(F.col("z"))), F.lit(1.0)),
    )
    return st3.select(
        F.col("n").cast("long").alias("n"),
        F.round("rxy", 6).alias("r_xy"),
        F.round("rxz", 6).alias("r_xz"),
        F.round("ryz", 6).alias("r_yz"),
        F.round("pr", 6).alias("partial_r"),
        F.round("z", 6).alias("z"),
        F.round(p, 6).alias("p_value"),
    )


def _qdigest_compress(
    counts: DataFrame, depth: int, k: int
) -> DataFrame:
    """Level-synchronous q-digest compression (Shrivastava, Buragohain,
    Agrawal & Suri 2004) of exact per-group leaf counts: ``counts`` is
    ``(day, id, cnt)`` with heap-numbered LEAF ids in
    ``[2^depth, 2^(depth+1))``; for each level from the leaves up, a
    sibling pair and its parent collapse into the parent whenever
    their combined count fits under the per-group threshold
    ``⌊n/k⌋`` — counts only ever move to ANCESTORS, so a value's rank
    estimate errs by at most the mass parked on its search path:
    ≤ depth·n/k (the published log(σ)·n/k bound; the error-bound
    pytest asserts it on adversarial shapes).  Deterministic: integer
    counts, no sampling, order-independent — the same multiset always
    compresses to the same digest, which is what makes the sketch
    hash-gateable across engines and byte-stable under exactly-once
    streaming replays.

    Scale shape: the per-day leaf profile is BOUNDED at ``2^depth``
    rows (≤ 4096 at the default depth 12; ≤ 1M at the capped depth
    20) regardless of corpus size — the corpus is collapsed by the
    one leaf-count aggregation upstream — so compression is a local
    per-group algorithm: ONE ``applyInPandas`` group map runs all
    ``depth`` levels in-process per day.  The earlier implementation
    unrolled the levels as ~depth × (aggregate + join + union) Spark
    rounds over the same rollup (≥ 24 sequential shuffle stages and a
    janino-method-limit hazard); one grouped Arrow pass computes the
    identical digest (integer arithmetic, no floats except the
    threshold's float division kept bit-for-bit) in a single shuffle.
    Pinned node-for-node against the pure-Python published algorithm
    in tests/test_operators.py."""
    import math

    import pandas as pd

    kf = float(k)

    def compress(pdf: "pd.DataFrame") -> "pd.DataFrame":
        day = pdf["day"].iloc[0]
        cur = dict(zip(pdf["id"].tolist(), pdf["cnt"].tolist()))
        n = sum(cur.values())
        # floor(sum/float(k)) — same float division as the SQL form
        # (F.floor(sum/lit(float(k)))) so thresholds agree bit-for-bit
        t = math.floor(n / kf)
        for lvl in range(depth, 0, -1):
            lo_id, hi_id = 1 << lvl, 1 << (lvl + 1)
            fams: dict[int, list[int]] = {}
            nxt: dict[int, int] = {}
            for i, c in cur.items():
                if lo_id <= i < hi_id:
                    fams.setdefault(i >> 1, [0, 0])[0] += c
                elif (lo_id >> 1) <= i < (hi_id >> 1):
                    fams.setdefault(i, [0, 0])[1] += c
                else:
                    nxt[i] = nxt.get(i, 0) + c
            for fam, (cc, pc) in fams.items():
                if cc + pc <= t:
                    nxt[fam] = nxt.get(fam, 0) + cc + pc
                else:
                    for i in (2 * fam, 2 * fam + 1):
                        if lo_id <= i < hi_id and i in cur:
                            nxt[i] = nxt.get(i, 0) + cur[i]
                    if (lo_id >> 1) <= fam < (hi_id >> 1) and fam in cur:
                        nxt[fam] = nxt.get(fam, 0) + cur[fam]
            cur = nxt
        ids = sorted(cur)
        return pd.DataFrame(
            {"day": [day] * len(ids), "id": ids, "cnt": [cur[i] for i in ids]}
        )

    return counts.groupBy("day").applyInPandas(
        compress, schema="day string, id long, cnt long"
    )


def qdigest_daily_sketches(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    depth: int = 12,
    k: int = 64,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day Q-DIGEST rollup of ``value_col`` — the mergeable RANK
    sketch next to the histogram ledger (:func:`hist_daily_sketches`):
    the histogram's quantile error is one fixed bin width in VALUE
    space, while the q-digest adapts its resolution to where the mass
    is and carries a proven RANK bound (error ≤ depth·n/k per digest,
    additive under merges) with a ledger row bounded by ~3k nodes
    regardless of the value distribution.  Chosen over KLL/t-digest
    deliberately: those need random compaction coins / centroid
    heuristics, while the q-digest is a pure deterministic function of
    the day's multiset — replayable in SQL (the extras oracle unrolls
    the ``depth`` compression levels) and byte-stable under
    exactly-once streaming replays.

    Values quantize to ``2^depth`` leaves over the fixed ``[lo, hi)``
    grid (out-of-range values dropped — the histogram-family range
    contract), then compress (:func:`_qdigest_compress`).  Returns
    ``(day, nodes: array<struct<id long, cnt long>>, n long)`` with
    nodes sorted by id; ``n`` is the day's in-range row count (node
    counts conserve mass exactly).

    Scale shape: ONE map-side-combined (day, leaf) corpus aggregation;
    compression and probes touch only the rollup."""
    cells = _qdigest_cells(value_col, lo, hi, depth, k)
    return (
        cells(df, F.to_date(F.col(ts_col)).cast("string"))
        .groupBy("day")
        .agg(*_qdigest_nodes())
    )


def _qdigest_cells(value_col: str, lo: float, hi: float, depth: int, k: int):
    """The q-digest grid: checks ``depth``, ``k`` and ``[lo, hi)``,
    then returns ``cells(df, day) -> (day, id, cnt)``, each day's
    compressed digest nodes (:func:`_qdigest_compress` over the
    ``2^depth`` leaf counts of ``df``'s in-range values).
    :func:`qdigest_daily_sketches` keys it by date, the streaming
    q-digest ledger by its batch, and both assemble the nodes with
    :func:`_qdigest_nodes`."""
    if depth < 2 or depth > 20:
        raise ValueError(f"depth must be in [2, 20], got {depth}")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    nleaves = 2 ** depth
    w = (hi - lo) / nleaves
    x = F.col(value_col).cast("double")

    def cells(df: DataFrame, day) -> DataFrame:
        leaves = (
            df.where((x >= lo) & (x < hi))
            .select(
                day.alias("day"),
                (
                    F.lit(nleaves)
                    + F.least(F.floor((x - lo) / w), F.lit(nleaves - 1))
                ).cast("long").alias("id"),
            )
            .groupBy("day", "id")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return _qdigest_compress(leaves, depth, k)

    return cells


def _qdigest_nodes() -> list:
    """Aggregate a group of :func:`_qdigest_cells` rows into ``nodes:
    array<struct<id long, cnt long>>`` sorted by id and the mass ``n``
    (empty nodes and ``n = 0`` for a group with no cells)."""
    return [
        F.sort_array(
            F.collect_list(F.struct(F.col("id"), F.col("cnt")))
        ).alias("nodes"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
    ]


def qdigest_quantile_range(
    sketches: DataFrame,
    qs: list,
    lo: float,
    hi: float,
    depth: int = 12,
    start_day: str | None = None,
    end_day: str | None = None,
) -> DataFrame:
    """Quantile estimates over a day range from a
    :func:`qdigest_daily_sketches` rollup: filter the rollup, sum node
    counts by id (the q-digest merge — pure count addition), walk the
    nodes in POSTORDER (upper leaf bound ascending, smaller span
    first) accumulating counts, and report each ``q``'s value as the
    upper edge of the first node whose cumulative count reaches
    ``max(⌈q·N⌉, 1)``.  Rank error ≤ depth·N/k for the merged range
    (per-day bounds are additive because counts only move to
    ancestors).  Returns ``(q, n, est)`` rounded to 6, ``qs`` in
    (0, 1].

    Scale shape: the probe touches only the rollup — |days|·O(3k)
    node rows, one ordered window over the merged ≤ O(3k·depth)
    ids."""
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    filt = _day_range(sketches, start_day, end_day)
    nleaves = 2 ** depth
    wleaf = (hi - lo) / nleaves
    merged = (
        filt.select(F.explode("nodes").alias("nd"))
        .select(F.col("nd.id").alias("id"), F.col("nd.cnt").alias("cnt"))
        .groupBy("id")
        .agg(F.sum("cnt").alias("cnt"))
    )
    lvl = F.floor(F.log2("id"))
    span = F.pow(F.lit(2.0), F.lit(depth) - lvl).cast("long")
    lo_leaf = ((F.col("id") - F.pow(F.lit(2.0), lvl)) * span).cast("long")
    geo = merged.select(
        "cnt",
        span.alias("span"),
        (lo_leaf + span - 1).alias("hi_leaf"),
    )
    wcum = Window.orderBy("hi_leaf", "span").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    staged = geo.select(
        "hi_leaf",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    expanded = staged.select(
        "*",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    pick = (
        expanded.where(
            F.col("cum")
            >= F.greatest(F.ceil(F.col("q") * F.col("n")), F.lit(1))
        )
        .groupBy("q")
        .agg(F.min("hi_leaf").alias("hl"), F.max("n").alias("n"))
    )
    return pick.select(
        "q",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.lit(lo) + (F.col("hl") + 1) * F.lit(wleaf), 6
        ).alias("est"),
    ).orderBy("q")
