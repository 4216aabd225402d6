"""Privacy auditing and anonymization over release candidates.

A training-data pipeline that publishes aggregates or curated corpora
needs a pre-release privacy pass: re-identification risk is a property
of QUASI-IDENTIFIER combinations (Sweeney 2002's k-anonymity — zip +
birthdate + sex re-identified 87% of the US population), and published
statistics need calibrated noise (Dwork et al. 2006's differential
privacy, the Laplace mechanism).  These operators are that pass:

- ``k_anonymity_audit`` — equivalence-class sizes over the QI columns
  with the violation flag; the release gate's evidence table.
- ``k_suppress`` — the standard remediation: drop every row whose QI
  class is smaller than k (suppression; generalization is upstream
  feature engineering — bucket the column first, then re-audit).
- ``dp_noisy_counts`` — per-group counts + Laplace(sensitivity/ε)
  noise.  The noise draw is md5-DERIVED AND DETERMINISTIC per
  (group, seed): this makes the ε-noise pipeline unit-testable and
  engine-replayable (the DuckDB oracle reproduces the exact noise),
  which is the property every other sketch in this engine buys with
  md5.  It is therefore NOT a secure DP release by itself — an
  adversary who knows the seed can subtract the noise.  For a real
  release, swap the uniform draw for a secure RNG at the one marked
  expression; ε accounting and the mechanism shape stay valid.

Scale shapes: every operator is one QI/group-keyed aggregation
(map-side combined); ``k_suppress`` adds one join of the data against
its own class-size table on the same key (co-partitioned by the
groupBy's shuffle, no second shuffle of the big side under AQE).
Nothing collects; class tables can be arbitrarily large.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plda_spark._exprs import md5_long

__all__ = [
    "k_anonymity_audit",
    "k_suppress",
    "dp_noisy_counts",
    "l_diversity_audit",
    "rand_response_estimate",
    "dp_quantile",
]

_TWO_60 = float(1 << 60)


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Equivalence-class sizes over the quasi-identifier combination:
    one row per distinct QI tuple with ``n`` (class size) and
    ``violates = n < k``.  A release is k-anonymous iff no row
    violates; the violating classes are exactly the rows
    :func:`k_suppress` would drop.

    NULL QI values form their own class (standard practice — NULL is
    itself identifying).  One aggregation, map-side combined."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("violates", F.col("n") < F.lit(k))
    )


def k_suppress(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """Drop every row whose quasi-identifier class has fewer than ``k``
    members — the suppression remediation for a failed
    :func:`k_anonymity_audit`.  The survivors are k-anonymous over
    ``quasi_cols`` by construction.

    One class-size aggregation + one inner join back on the QI key
    (same shuffle key, so AQE co-locates it); null-safe on NULL QI
    values via the join's groupBy-derived key column equality
    (<=> semantics through a composite null-safe condition)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    sizes = (
        df.groupBy(*[F.col(c).alias(f"__qi_{c}") for c in quasi_cols])
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= k)
    )
    cond = None
    for c in quasi_cols:
        term = F.col(c).eqNullSafe(F.col(f"__qi_{c}"))
        cond = term if cond is None else cond & term
    return df.join(sizes, cond, "inner").drop(
        "__n", *[f"__qi_{c}" for c in quasi_cols]
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed: int = 0,
    clamp_nonneg: bool = True,
) -> DataFrame:
    """Laplace-mechanism noisy per-group counts: ``noisy_n = n +
    Laplace(sensitivity/ε)`` — the canonical ε-differentially-private
    count release (Dwork-McSherry-Nissim-Smith 2006), under the usual
    one-row-per-individual sensitivity-1 assumption (a user
    contributing many rows needs ``sensitivity`` raised to that bound).

    The Laplace draw inverts the CDF at a uniform
    ``u = md5(group_key:seed)/2^60``::

        noise = -(s/ε) · sign(u−½) · ln(1 − 2|u−½|)

    DETERMINISM CAVEAT (read before releasing): u is md5-derived so
    the same (group, seed) always draws the same noise — that is what
    lets the DuckDB oracle and tests reproduce the release bit-for-bit,
    and what makes repeated calls NOT burn fresh privacy budget in
    testing.  It also means the draw is predictable to anyone holding
    the seed; a production release must replace the ``u`` expression
    below with a secure RNG (and then account ε per release).  The
    ``ln`` argument is clamped at 1e-18 (u can land exactly on 0 with
    probability 2^-60; the clamp caps |noise| at ~41.4·s/ε).

    Returns one row per group: ``(*group_cols, n, noisy_n)`` with
    noisy_n rounded to 4 (and floored at 0 when ``clamp_nonneg`` —
    counts below zero are noise artifacts consumers rarely want).
    One aggregation; the noise is a projection over |groups| rows."""
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    if sensitivity <= 0:
        raise ValueError(f"sensitivity must be > 0, got {sensitivity}")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    per = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n")
    )
    key = F.concat_ws(
        ":",
        *[F.col(c).cast("string") for c in group_cols],
        F.lit(str(int(seed))),
    )
    # the one expression a secure release swaps for a real RNG:
    u = md5_long(key).cast("double") / F.lit(_TWO_60)
    staged = per.withColumn("__u", u)
    centered = F.col("__u") - F.lit(0.5)
    scale = F.lit(float(sensitivity) / float(epsilon))
    noise = (
        -scale
        * F.signum(centered)
        * F.log(
            F.greatest(
                F.lit(1.0) - F.lit(2.0) * F.abs(centered), F.lit(1e-18)
            )
        )
    )
    noisy = F.col("n") + noise
    if clamp_nonneg:
        noisy = F.greatest(noisy, F.lit(0.0))
    return staged.select(
        *group_cols, "n", F.round(noisy, 4).alias("noisy_n")
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2006): a
    k-anonymous class still leaks when everyone in it shares the same
    SENSITIVE value (the homogeneity attack k-anonymity cannot see) —
    each quasi-identifier class must contain at least ``l`` distinct
    sensitive values.  One row per QI class: ``(*quasi_cols, n,
    n_sensitive, violates)``.

    One aggregation (count + exact countDistinct per class, map-side
    combined).  NULL sensitive values count as a value of their own
    (they are observable)."""
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    s = F.col(sensitive_col)
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.countDistinct(s)
                + F.max(s.isNull().cast("int"))
            ).alias("n_sensitive"),
        )
        .withColumn("violates", F.col("n_sensitive") < F.lit(l))
    )


def rand_response_estimate(
    df: DataFrame,
    cat_col: str,
    id_col: str,
    p: float = 0.75,
    seed: int = 0,
    max_categories: int = 10_000,
) -> DataFrame:
    """k-ary randomized response (Warner 1965, generalized — the
    local-DP mechanism RAPPOR builds on): each row reports its TRUE
    category with probability ``p`` and a uniform category (out of all
    k, including its own) otherwise, then the collector debiases the
    observed counts::

        E[obs_c] = n_c·p + n·(1−p)/k   ⇒   n̂_c = (obs_c − n(1−p)/k)/p

    satisfying ε-local-DP with ε = ln(1 + k·p/(1−p)).

    Same DETERMINISM CAVEAT as :func:`dp_noisy_counts`: both draws
    (keep-vs-perturb, replacement pick) are md5-derived from
    ``(id, seed)``, so the release is engine-replayable and
    unit-testable — and NOT secure until the two marked ``u``
    expressions are swapped for a real RNG.

    Returns one row per category: ``(category, n_true, n_obs,
    n_est)`` — true count (kept for estimator validation; drop it in
    an actual release), observed perturbed count, debiased estimate
    rounded to 4.

    Scale shape: one category aggregation (pre-checked against
    ``max_categories`` — the replacement pick joins a broadcast
    category table), one per-row projection of two md5 draws, one
    report aggregation; the |k|-row index window runs over the
    category table only.  Nothing collects."""
    if not (0.0 < p < 1.0):
        raise ValueError(f"p must be in (0, 1), got {p}")
    if max_categories < 1:
        raise ValueError(f"max_categories must be >= 1, got {max_categories}")
    from pyspark.sql import Window

    c = F.col(cat_col)
    ndv = df.agg(F.approx_count_distinct(c).alias("__ndv")).first()["__ndv"]
    if ndv > max_categories:
        raise ValueError(
            f"rand_response_estimate: {cat_col!r} has ~{ndv} distinct "
            f"categories > max_categories={max_categories}; the "
            "replacement draw broadcasts the category table — bucket "
            "the column first (randomized response is a mechanism over "
            "a small category taxonomy, not arbitrary ids)"
        )
    cats = df.groupBy(c.alias("category")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    # dense 0-based index over the |k|-row category table (tiny window)
    cats_idx = cats.withColumn(
        "__idx",
        F.row_number().over(Window.orderBy("category")) - F.lit(1),
    )
    totals = cats.agg(
        F.sum("n_true").alias("__n"), F.count(F.lit(1)).alias("__k")
    )
    key = F.col("__id_s")
    # the two expressions a secure release swaps for a real RNG:
    u_keep = md5_long(
        F.concat_ws(":", key, F.lit(str(int(seed))), F.lit("keep"))
    ).cast("double") / F.lit(_TWO_60)
    u_pick = md5_long(
        F.concat_ws(":", key, F.lit(str(int(seed))), F.lit("pick"))
    ).cast("double") / F.lit(_TWO_60)
    rows = (
        df.select(
            F.col(id_col).cast("string").alias("__id_s"),
            c.alias("__true"),
        )
        .crossJoin(F.broadcast(totals.select("__k")))
        .select(
            "__true",
            (u_keep < F.lit(float(p))).alias("__keep"),
            F.least(
                F.floor(u_pick * F.col("__k")).cast("int"),
                F.col("__k").cast("int") - F.lit(1),
            ).alias("__pick"),
        )
    )
    reported = rows.join(
        F.broadcast(
            cats_idx.select("__idx", F.col("category").alias("__picked"))
        ),
        F.col("__pick") == F.col("__idx"),
    ).select(
        F.when(F.col("__keep"), F.col("__true"))
        .otherwise(F.col("__picked"))
        .alias("__rep")
    )
    obs = reported.groupBy(F.col("__rep").alias("category")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    return (
        cats.join(obs, "category", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "category",
            "n_true",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            F.round(
                (
                    F.coalesce(F.col("n_obs"), F.lit(0))
                    - F.col("__n") * F.lit(1.0 - float(p)) / F.col("__k")
                ) / F.lit(float(p)),
                4,
            ).alias("n_est"),
        )
    )


def dp_quantile(
    df: DataFrame,
    value_col: str,
    q: float = 0.5,
    epsilon: float = 1.0,
    seed: int = 0,
    max_distinct: int = 10_000,
) -> DataFrame:
    """ε-differentially-private quantile release via the EXPONENTIAL
    MECHANISM (McSherry & Talwar 2007; the DP-median instantiation of
    Smith 2011): candidate values are the column's distinct values,
    utility ``u(v) = −|#{x ≤ v} − q·n|`` (sensitivity 1 under
    add/remove-one), and the release draws v with probability ∝
    ``exp(ε·u/2)`` — values whose rank sits near the target quantile
    dominate the draw, and no single row changes any probability by
    more than e^ε.

    The draw inverts the cumulative weight at a single md5-derived
    uniform — the :func:`dp_noisy_counts` DETERMINISM CAVEAT applies
    verbatim (replayable for the oracle/tests; swap the ``u``
    expression for a secure RNG before a real release and account ε
    per call).  Weights are max-shifted before exp so far candidates
    underflow to 0 instead of poisoning the sum.  Returns ONE row
    ``(n, n_candidates, q, epsilon, exact_value, released_value)`` —
    ``exact_value`` (the true interpolation-free lower quantile) is
    emitted for gate/audit use and is obviously NOT part of a private
    release.

    Scale shape: one value-count aggregation, then every window runs
    over the |distinct values| frame — the :func:`ks_test`
    bounded-cardinality contract, ENFORCED by the ``max_distinct``
    pre-check (quantize continuous columns upstream)."""
    if not (0.0 < q < 1.0):
        raise ValueError(f"q must be in (0, 1), got {q}")
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    clean = df.where(v.isNotNull()).select(v.alias("v"))
    ndv = clean.agg(F.approx_count_distinct("v").alias("__ndv")).first()[
        "__ndv"
    ]
    if ndv > max_distinct:
        raise ValueError(
            f"dp_quantile: {value_col!r} has ~{ndv} distinct values > "
            f"max_distinct={max_distinct}; quantize upstream (every "
            "window here runs over the distinct values)."
        )
    cells = clean.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    staged = cells.select(
        "v",
        F.sum("c").over(wcum).alias("__le"),
        F.sum("c").over(wall).alias("__n"),
        F.count(F.lit(1)).over(wall).alias("__k"),
    )
    util = -F.abs(
        F.col("__le").cast("double") - F.lit(q) * F.col("__n").cast("double")
    )
    staged2 = staged.withColumn("__u", util).withColumn(
        "__umax", F.max(util).over(wall)
    )
    w = F.exp(
        F.lit(float(epsilon)) * (F.col("__u") - F.col("__umax")) / F.lit(2.0)
    )
    staged3 = staged2.withColumn("__w", w).withColumn(
        "__cw", F.sum(w).over(wcum)
    )
    total = F.max(F.col("__cw")).over(wall)
    draw = md5_long(F.lit(f"dpq:{int(seed)}")).cast("double") / F.lit(_TWO_60)
    staged4 = staged3.withColumn("__thr", draw * total)
    # released value: the FIRST candidate whose cumulative weight
    # reaches the threshold; exact value: the first with cum count
    # reaching ceil(q*n) (the lower exact quantile, interpolation-free)
    released = staged4.where(F.col("__cw") >= F.col("__thr")).agg(
        F.min("v").alias("released_value")
    )
    exact = staged4.where(
        F.col("__le") >= F.ceil(F.lit(q) * F.col("__n").cast("double"))
    ).agg(F.min("v").alias("exact_value"))
    meta = staged4.agg(
        F.max("__n").alias("n"), F.max("__k").alias("n_candidates")
    )
    return (
        meta.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(released))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.lit(float(q)).alias("q"),
            F.lit(float(epsilon)).alias("epsilon"),
            F.round("exact_value", 6).alias("exact_value"),
            F.round("released_value", 6).alias("released_value"),
        )
    )
