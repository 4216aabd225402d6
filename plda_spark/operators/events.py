"""Event-stream analytics: conversion funnels and retention cohorts.

The product-analytics twins of the curation operators: both reduce a
large event log to a small per-user intermediate (one shuffle on the
user key, map-side combined where possible) and aggregate that — the
event table itself is never shuffled twice or joined to itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "funnel_progress",
    "funnel",
    "retention_cohorts",
    "rfm_scores",
    "transition_matrix",
    "attribution",
    "forecast_backtest",
    "association_rules",
    "attribution_position",
    "markov_attribution",
    "kaplan_meier",
    "ltv_cohorts",
    "top_paths",
    "sessionize",
    "funnel_latency",
    "point_in_time_features",
    "item_item_cf",
    "retention_decay_fit",
    "bass_diffusion_fit",
    "interevent_burstiness",
]


def funnel_progress(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel progression: how many of ``steps`` the user
    completed **in order**, where step *k+1* must occur STRICTLY after
    the first qualifying occurrence of step *k* (the standard
    first-touch funnel semantic: ``t1 = min ts of step1``,
    ``t2 = min ts of step2 with ts > t1``, …).

    Returns ``(user, steps_completed)`` — 0 if the user never did
    step 1.

    A sequential scan per user cannot be a window aggregate, so the
    plan packs each user's relevant events into one row (events not in
    ``steps`` are filtered BEFORE the shuffle), sorts, and folds a
    (step-pointer, last-ts) state machine with ``aggregate`` — pure JVM
    expressions.  ONE shuffle of (user, ts, step-index) triples;
    per-user event lists must fit a task (the usual per-key contract).
    """
    steps = list(steps)
    if not steps or len(set(steps)) != len(steps):
        raise ValueError("steps must be a non-empty list of distinct types")
    idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    ts_type = events.schema[ts_col].dataType
    packed = (
        events.where(F.col(type_col).isin(steps))
        .select(
            F.col(user_col).alias("user"),
            F.struct(
                F.col(ts_col).alias("ts"),
                idx[F.col(type_col)].alias("step"),
            ).alias("e"),
        )
        .groupBy("user")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
    )
    # state: (next step index to match, ts of the last matched step).
    # last_ts starts NULL (any timestamp type); the ptr == 0 disjunct
    # guarantees it is never compared before first assignment.
    init = F.struct(
        F.lit(0).alias("ptr"), F.lit(None).cast(ts_type).alias("last_ts")
    )
    step_fold = F.aggregate(
        "es",
        init,
        lambda acc, e: F.when(
            (e["step"] == acc["ptr"])
            & ((acc["ptr"] == 0) | (e["ts"] > acc["last_ts"])),
            F.struct((acc["ptr"] + 1).alias("ptr"), e["ts"].alias("last_ts")),
        ).otherwise(acc),
    )
    return packed.select("user", step_fold["ptr"].alias("steps_completed"))


def funnel(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel summary: for each step, how many users reached it (in
    order, first-touch semantics — see :func:`funnel_progress`).

    Returns ``(step_idx, step, n_users)`` — ``n_users`` is
    monotonically non-increasing by construction.

    The per-user reduction is |users| rows; the summary is a broadcast
    spine of |steps| rows joined to a ≤|steps|-row count — nothing past
    the first shuffle scales with event volume.
    """
    prog = funnel_progress(events, steps, user_col, ts_col, type_col)
    reached = (
        prog.groupBy("steps_completed").agg(F.count(F.lit(1)).alias("n"))
    )
    spine = events.sparkSession.createDataFrame(
        [(i, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    # users who completed >= k steps reached step k
    return (
        spine.join(
            F.broadcast(reached),
            F.col("steps_completed") > F.col("step_idx"),
            "left",
        )
        .groupBy("step_idx", "step")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_users"))
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: users cohorted by first-active week;
    for each (cohort_week, weeks_since) the count of cohort members
    active that week — the standard growth-analytics view.

    Returns ``(cohort_week, weeks_since, n_active)`` with
    ``cohort_week`` a string date (Monday) and ``weeks_since >= 0``.

    Scale shape: TWO shuffles total.  The event log collapses to one
    ``collect_set(week)`` row per user (map-side combined partials, each
    bounded by the calendar — weeks, not events), the cohort is
    ``array_min`` on that row (no window, no extra exchange), and the
    exploded (cohort, offset) pairs feed one final aggregation.  No
    self-join of the event table, no per-user window sort.
    """
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    per_user = (
        events.select(F.col(user_col).alias("user"), week.alias("week"))
        .groupBy("user")
        .agg(F.collect_set("week").alias("weeks"))
    )
    return (
        per_user.select(
            F.array_min("weeks").alias("cohort"), F.explode("weeks").alias("week")
        )
        .select(
            F.col("cohort").cast("string").alias("cohort_week"),
            (F.datediff("week", "cohort") / 7).cast("int").alias("weeks_since"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def rfm_scores(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    purchase_type: str = "purchase",
    type_col: str = "event_type",
    n_buckets: int = 5,
    method: str = "ntile",
    max_rows: int = 10_000_000,
) -> DataFrame:
    """RFM behavioral segmentation: per-user Recency (days since last
    event vs the corpus max date), Frequency (event count), Monetary
    (purchase value sum), each scored 1..``n_buckets`` (1 = best).

    Two scoring methods with the same output contract:

    - ``method='ntile'`` — exact quantile buckets via rank windows,
      ties broken by user id so the assignment is engine-replayable
      (the DuckDB-oracle mode).  Needs a total order: a single-task
      sort of the USER-level table — fine to ~10M users, and ENFORCED:
      an ``approx_count_distinct`` pre-check on the user column
      refuses past ``max_rows`` with a pointer to ``method='cuts'``
      (the same self-enforcing contract as ks_test's ``max_distinct``).
    - ``method='cuts'`` — the 100 TB path: ``percentile_approx`` cut
      points (one aggregation, broadcast as literals) and a per-row
      bucket lookup — no global sort, no single-task window, the same
      design as curation.ppl_buckets.  Bucket boundaries are
      approximate where users tie on a metric.  ``max_rows`` is not
      consulted (nothing here scales with the user count).
    """
    if method not in ("ntile", "cuts"):
        raise ValueError("method must be 'ntile' or 'cuts'")
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if max_rows < 1:
        raise ValueError(f"max_rows must be >= 1, got {max_rows}")
    from pyspark.sql import Window

    if method == "ntile":
        n_users = events.agg(
            F.approx_count_distinct(user_col).alias("__n")
        ).first()["__n"]
        if n_users > max_rows:
            raise ValueError(
                f"rfm_scores: ~{n_users} distinct users > "
                f"max_rows={max_rows}; method='ntile' sorts the whole "
                "user-level table in ONE task per metric. Use "
                "method='cuts' (broadcast approx-quantile boundaries, "
                "no global sort) or raise max_rows if the user count "
                "is genuinely bounded."
            )

    mx = events.agg(F.max(F.to_date(ts_col)).alias("__mx"))
    per_user = (
        events.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(F.to_date(ts_col)).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(
                    F.when(F.col(type_col) == purchase_type, F.col(value_col))
                    .otherwise(F.lit(0.0))
                ),
                4,
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff("__mx", "__last").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    metrics = [
        ("recency_days", "r_score", True),   # smaller recency = better
        ("frequency", "f_score", False),
        ("monetary", "m_score", False),
    ]
    if method == "ntile":
        out = per_user
        for col, score, asc in metrics:
            order = [F.asc(col) if asc else F.desc(col), F.asc("user_id")]
            out = out.withColumn(
                score, F.ntile(n_buckets).over(Window.orderBy(*order))
            )
        return out
    # cuts: approx quantile boundaries, bucket = 1 + #cuts passed in the
    # "worse" direction (so 1 stays the best bucket on every metric)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cut_rows = per_user.agg(
        *[
            F.percentile_approx(col, F.lit(qs), F.lit(10_000)).alias(col)
            for col, _, _ in metrics
        ]
    ).collect()[0]
    if cut_rows[metrics[0][0]] is None:
        # empty input: no cut points exist — return the (empty) frame
        # with the same score schema the ntile path produces
        out = per_user
        for _, score, _ in metrics:
            out = out.withColumn(score, F.lit(None).cast("int"))
        return out
    out = per_user
    for col, score, asc in metrics:
        cuts = [float(c) for c in cut_rows[col]]
        b = F.lit(1)
        for c in cuts:
            passed = F.col(col) > F.lit(c) if asc else F.col(col) <= F.lit(c)
            b = b + passed.cast("int")
        out = out.withColumn(score, b)
    return out


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event paths —
    the path-analysis primitive behind funnel discovery: for each
    user's ts-ordered sequence, count ``(event_type -> next)``
    transitions and the per-source probabilities.

    Returns ``(src, dst, n, p)`` where ``p`` is ``n`` over the source
    row total, rounded to 4 decimals.

    Scale shape: ONE window (``lead`` over user partitions) + ONE
    aggregation; ``id_col`` breaks ts ties so the order is total and
    engine-replayable.  The per-``src`` normalization runs over the
    |types|² count table, not the event log.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.col(type_col).alias("src"),
        F.lead(type_col).over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(Window.partitionBy("src")), 4
        ).alias("p"),
    )


def attribution(
    events: DataFrame,
    touch_types: Sequence[str] = ("click", "view"),
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """First-touch / last-touch revenue attribution — the two standard
    marketing models: each conversion is credited to the user's first
    and most recent PRECEDING touch event.

    Returns ``(model, channel, n_purchases, revenue)`` with ``model``
    in ``{first_touch, last_touch}`` and revenue rounded to 4 decimals.

    Scale shape: one window pass (ignore-nulls ``first``/``last`` over
    the user's ts-ordered strict history, conversions excluded from the
    touch stream by the ``when`` guard) + one aggregation per model —
    no self-join, no driver-side state.
    """
    from pyspark.sql import Window

    touch_types = list(touch_types)
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col(type_col).isin(touch_types), F.col(type_col))
    purchases = events.select(
        F.col(id_col),
        F.col(value_col).alias("value"),
        F.col(type_col),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).where(F.col(type_col) == conversion_type)
    out = None
    for model in ("first_touch", "last_touch"):
        agg = (
            purchases.where(F.col(model).isNotNull())
            .groupBy(F.col(model).alias("channel"))
            .agg(
                F.count(F.lit(1)).alias("n_purchases"),
                F.round(F.sum("value"), 4).alias("revenue"),
            )
            .select(
                F.lit(model).alias("model"), "channel", "n_purchases", "revenue"
            )
        )
        out = agg if out is None else out.unionAll(agg)
    return out


def forecast_backtest(
    events: DataFrame,
    ts_col: str = "ts",
    season_lag: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest over the daily event series:
    predict each day's count with the SAME WEEKDAY ``season_lag`` days
    earlier (the standard strong baseline every forecasting system must
    beat), and emit per-day residuals plus the expanding running MAE.

    Returns ``(day, actual, predicted, abs_err, running_mae)`` —
    days whose seasonal predecessor is absent (the first ``season_lag``
    days, and any day whose same-weekday ancestor had zero events) are
    absent.  The predecessor is matched by CALENDAR date arithmetic,
    not row offset: a missing day in the series must not slide every
    later prediction onto the wrong weekday.

    Scale shape: one daily aggregation + one |days|-row self-join on
    the computed predecessor date — the join runs over the
    group-key-sized table, never the event log.
    """
    from pyspark.sql import Window

    if season_lag < 1:
        raise ValueError("season_lag must be >= 1")
    daily = events.groupBy(
        F.to_date(ts_col).cast("string").alias("day")
    ).agg(F.count(F.lit(1)).alias("actual"))
    prev = daily.select(
        F.date_add(F.to_date("day"), season_lag).cast("string").alias("day"),
        F.col("actual").alias("predicted"),
    )
    return (
        daily.join(prev, "day")
        .select(
            "day",
            "actual",
            "predicted",
            F.abs(F.col("actual") - F.col("predicted")).alias("abs_err"),
            F.round(
                F.avg(F.abs(F.col("actual") - F.col("predicted"))).over(
                    Window.orderBy("day").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                ),
                4,
            ).alias("running_mae"),
        )
    )


def _basket_pairs(
    events: DataFrame,
    user_col: str,
    item_col: str,
    min_support: int,
    max_basket_items: int | None,
    min_pair_support: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The per-user basket pipeline :func:`association_rules` and
    :func:`item_item_cf` share: ``(baskets, item_supp, pairs)``.

    ``baskets`` is the distinct ``(user, item)`` set, without the
    baskets of more than ``max_basket_items`` items (``None``: no cap);
    ``item_supp`` is ``(item, n_item)`` for the items in at least
    ``min_support`` baskets; ``pairs`` is ``(item_a, item_b, n_both)``
    with ``item_a < item_b``, counted by ONE self-equi-join on the user
    key over the frequent items only (the a-priori property: an
    infrequent item can't be in a frequent pair), for the pairs in at
    least ``min_pair_support`` baskets.

    The three frames are lazy lineage cuts: ``baskets`` feeds the size
    filter, the support aggregation and both self-join sides;
    ``item_supp`` the frequent filter and the callers' support lookups;
    ``pairs`` both halves of a directed union.  The lookups ride
    broadcast joins, which defeats exchange reuse, so without the cuts
    each consumer re-derived the whole upstream (86 Exchange nodes in
    the rules plan for one dedup + one support agg + one self-join)."""
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    if max_basket_items is not None and max_basket_items < 2:
        raise ValueError("max_basket_items must be >= 2")
    baskets = events.select(
        F.col(user_col).alias("user"), F.col(item_col).alias("item")
    ).distinct().localCheckpoint(eager=False)
    if max_basket_items is not None:
        sizes = baskets.groupBy("user").agg(F.count(F.lit(1)).alias("__bsz"))
        baskets = baskets.join(
            sizes.filter(F.col("__bsz") <= max_basket_items).select("user"),
            "user",
        ).localCheckpoint(eager=False)
    item_supp = (
        baskets.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .filter(F.col("n_item") >= min_support)
        .localCheckpoint(eager=False)
    )
    frequent = baskets.join(F.broadcast(item_supp.select("item")), "item")
    a = frequent.select("user", F.col("item").alias("item_a"))
    b = frequent.select("user", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "user")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_pair_support)
        .localCheckpoint(eager=False)
    )
    return baskets, item_supp, pairs


def association_rules(
    events: DataFrame,
    user_col: str = "user_id",
    item_col: str = "event_type",
    min_support: int = 2,
    max_basket_items: int | None = 500,
) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant a-priori,
    VLDB'94) over per-user item baskets: directed rules ``a -> b`` with
    support, confidence, and lift — the co-engagement miner behind
    "users who did X also did Y".

    A basket is a user's DISTINCT item set.  ``min_support`` prunes at
    BOTH levels (the a-priori property: an infrequent item can't be in
    a frequent pair), so pair generation only ever touches frequent
    items.  Returns one row per ordered pair with ``n_both / n_ant /
    n_cons`` counts and ``support = n_both/n_users``, ``confidence =
    n_both/n_ant``, ``lift = confidence/(n_cons/n_users)`` rounded to 6
    decimals.

    Scale shape: dedup to (user, item) pairs, one item-support
    aggregation, then ONE self-equi-join on the user key restricted to
    frequent items with ``item_a < item_b`` — per-user cost is
    quadratic in basket size, the classic skew point: power users with
    hundreds of distinct frequent items dominate.  ``max_basket_items``
    drops larger baskets up front (standard practice — a basket that
    big is bot traffic, not signal) and DEFAULTS to 500 (≤ ~125k pairs
    per basket) so the quadratic blowup is opt-IN: pass ``None``
    explicitly to mine uncapped.  Rule stats join only the
    |items|-sized support table (broadcast)."""
    baskets, item_supp, pairs = _basket_pairs(
        events, user_col, item_col, min_support, max_basket_items,
        min_pair_support=min_support,
    )
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "n_both",
        )
    )
    n_users = baskets.select("user").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    ant = item_supp.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_ant")
    )
    cons = item_supp.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_cons")
    )
    return (
        directed.join(F.broadcast(ant), "antecedent")
        .join(F.broadcast(cons), "consequent")
        .crossJoin(F.broadcast(n_users))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ant",
            "n_cons",
            F.round(F.col("n_both") / F.col("n_users"), 6).alias("support"),
            F.round(F.col("n_both") / F.col("n_ant"), 6).alias("confidence"),
            F.round(
                F.col("n_both") * F.col("n_users")
                / (F.col("n_ant") * F.col("n_cons")),
                6,
            ).alias("lift"),
        )
    )


def attribution_position(
    events: DataFrame,
    touch_types: Sequence[str] = ("click", "view"),
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    first_w: float = 0.4,
    last_w: float = 0.4,
) -> DataFrame:
    """POSITION-BASED (U-shaped) multi-touch attribution — the third
    standard marketing model after first/last touch
    (:func:`attribution`): each conversion's value splits 40% to the
    first preceding touch, 40% to the last, and the remaining 20%
    evenly across the middle touches (1 touch → 100%, 2 touches →
    50/50 — the standard degenerate cases).

    Returns ``(channel, n_credits, revenue)`` with revenue rounded to
    4 decimals; a conversion with no preceding touch contributes
    nothing (consistent with :func:`attribution`'s NULL drop).

    Scale shape: ONE window pass collects each conversion's preceding
    touch path as (ts, id, channel) structs (array_sort makes the
    order engine-defined, not collect-order-defined), the credit
    vector is a pure JVM array expression over that path, and one
    explode + aggregation finishes — no self-join.  Path length is
    bounded by per-user history, the inherent state of multi-touch
    models; cap upstream sessions if users are unbounded."""
    from pyspark.sql import Window

    touch_types = list(touch_types)
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    if not (0.0 < first_w and 0.0 < last_w and first_w + last_w < 1.0):
        raise ValueError("need first_w > 0, last_w > 0, first_w + last_w < 1")
    mid_w = 1.0 - first_w - last_w
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col(type_col).isin(touch_types),
        F.struct(
            F.col(ts_col).alias("t"),
            F.col(id_col).alias("i"),
            F.col(type_col).alias("ch"),
        ),
    )
    paths = (
        events.select(
            F.col(type_col),
            F.col(value_col).alias("value"),
            F.array_sort(
                F.filter(
                    F.collect_list(touch).over(w), lambda s: s.isNotNull()
                )
            ).alias("path"),
        )
        .where(F.col(type_col) == conversion_type)
        .where(F.size("path") > 0)
    )
    n = F.size("path")
    exploded = paths.select(
        "value",
        F.posexplode(F.transform("path", lambda s: s["ch"])).alias(
            "pos", "channel"
        ),
        n.alias("n"),
    )
    cr = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when(F.col("pos") == 0, F.lit(first_w))
        .when(F.col("pos") == F.col("n") - 1, F.lit(last_w))
        .otherwise(F.lit(mid_w) / (F.col("n") - 2))
    )
    return exploded.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.round(F.sum(cr * F.col("value")), 4).alias("revenue"),
    )


def markov_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    channel_col: str = "event_type",
    order_col: str = "event_id",
    conversion: str = "purchase",
    n_iter: int = 25,
    max_channels: int = 500,
) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2016,
    the data-driven alternative to rule-based first/last/U-shaped
    models): fit a first-order Markov chain over per-user touch
    journeys ``START -> ch_1 -> ... -> ch_n -> CONV|NULL``, then credit
    each channel by how much the chain's conversion probability DROPS
    when that channel is removed (all transitions into it redirected
    to NULL)::

        removal(c)  = max(0, 1 - p_conv(chain without c) / p_conv(chain))
        attribution = removal(c) / sum of removals

    Journey construction: a user's touches are their non-``conversion``
    events strictly BEFORE their first conversion event (ties at the
    exact conversion timestamp are not credited — deterministic);
    non-converters contribute their whole path ending in NULL;
    converters with no prior touch contribute START->CONV (mass no
    channel can claim).  Ordering is (ts, order_col) so replays are
    exact.

    Absorption probabilities run ``n_iter`` synchronous value
    iterations ``V <- c + P·V`` (V(CONV)=1 folded into the constant
    term, V(NULL)=0) — deterministic and geometrically convergent: the
    residual after k iterations is at most (1 - min absorption mass)^k;
    at the default 25 the fixtures agree with the exact solve far
    beyond the 6-decimal rounding.  The DuckDB oracle unrolls the
    IDENTICAL iterations as chained materialized CTEs.

    Returns one row per channel: ``(channel, p_base, p_removed,
    removal_effect, attribution)``, channels sorted.

    Scale shape: the only corpus-scale work is one per-user ordered
    window (partitioned by user — parallel) + ONE transition count
    aggregation.  The transition table is then COLLECTED — it is
    bounded at (|channels|+1)·(|channels|+2) rows by construction
    (``max_channels``, default 500, makes the bound explicit, and an
    ``approx_count_distinct`` pre-check raises BEFORE any transition
    table is built — a high-cardinality misuse never reaches the
    collect) — and
    the |channels|+1 absorption problems run as numpy matrix-vector
    iterations on the driver: microseconds, versus 25 distributed
    join rounds of pure scheduler overhead for a table this small
    (measured ~7 s of job latency at 4 channels).  Same
    bounded-collect contract as the driver-fit k-means in
    dedup_semantic."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if max_channels < 1:
        raise ValueError(f"max_channels must be >= 1, got {max_channels}")
    from pyspark.sql import Window

    u, ts, ch = F.col(user_col), F.col(ts_col), F.col(channel_col)
    # cardinality pre-check BEFORE the transition table exists: the
    # downstream collect is bounded at (|channels|+1)(|channels|+2)
    # rows ONLY when the channel column is a genuine channel taxonomy
    # — a high-cardinality column (URL-as-channel) must raise here,
    # not after pulling an unbounded table to the driver (same
    # pre-check discipline as ks_test's max_distinct guard)
    ndv = events.where(ch != F.lit(conversion)).agg(
        F.approx_count_distinct(ch).alias("__ndv")
    ).first()["__ndv"]
    if ndv > max_channels:
        raise ValueError(
            f"markov_attribution: {channel_col!r} has ~{ndv} distinct "
            f"channels > max_channels={max_channels}; the transition "
            "table and the per-variant absorption solves are "
            "quadratic/cubic in |channels| — bucket the channel column "
            "first (this is an attribution model over CHANNELS, not "
            "over arbitrary ids)"
        )
    conv_ts = (
        events.where(ch == F.lit(conversion))
        .groupBy(u.alias("__u"))
        .agg(F.min(ts).alias("__cts"))
    )
    touches = (
        events.where(ch != F.lit(conversion))
        .select(
            u.alias("__u"), ts.alias("__ts"),
            F.col(order_col).alias("__o"), ch.alias("__ch"),
        )
        .join(conv_ts, "__u", "left")
        .where(F.col("__cts").isNull() | (F.col("__ts") < F.col("__cts")))
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__o")
    seq = touches.select(
        "__u", "__ch",
        F.row_number().over(w).alias("__rn"),
        F.lead("__ch").over(w).alias("__nxt"),
        F.col("__cts").isNotNull().alias("__conv"),
    )
    end_state = F.when(F.col("__conv"), F.lit("CONV")).otherwise(F.lit("NULL"))
    raw = (
        seq.where(F.col("__rn") == 1)
        .select(F.lit("START").alias("s"), F.col("__ch").alias("t"))
        .unionByName(
            seq.select(
                F.col("__ch").alias("s"),
                F.coalesce(F.col("__nxt"), end_state).alias("t"),
            )
        )
        .unionByName(
            # converters with no prior touch: START -> CONV directly
            conv_ts.join(
                touches.select("__u").distinct(), "__u", "left_anti"
            ).select(F.lit("START").alias("s"), F.lit("CONV").alias("t"))
        )
    )
    counts = raw.groupBy("s", "t").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("s")
    # the bounded collect: <= (|channels|+1)(|channels|+2) rows
    base_rows = counts.select(
        "s", "t", (F.col("n") / F.sum("n").over(wp)).alias("p")
    ).collect()

    import numpy as np

    channels = sorted({r["s"] for r in base_rows if r["s"] != "START"})
    spark = events.sparkSession
    schema = (
        "channel string, p_base double, p_removed double, "
        "removal_effect double, attribution double"
    )
    if not channels:
        return spark.createDataFrame([], schema)
    if len(channels) > max_channels:
        raise ValueError(
            f"markov_attribution: {len(channels)} channels > "
            f"max_channels={max_channels}; the transition table and the "
            "per-variant absorption solves are quadratic/cubic in "
            "|channels| — bucket the channel column first (this is an "
            "attribution model over CHANNELS, not over arbitrary ids)"
        )
    idx = {"START": 0}
    for i, c in enumerate(channels):
        idx[c] = i + 1
    n = len(channels) + 1
    P = np.zeros((n, n))
    cvec = np.zeros(n)
    for r in base_rows:
        si = idx[r["s"]]
        if r["t"] == "CONV":
            cvec[si] += r["p"]
        elif r["t"] in idx:  # NULL and unseen targets carry no value
            P[si, idx[r["t"]]] += r["p"]

    def _absorb(mat: "np.ndarray") -> float:
        v = np.zeros(n)
        for _ in range(n_iter):
            v = cvec + mat @ v
        return float(v[0])

    p_base = _absorb(P)
    out = []
    total_rm = 0.0
    for c in channels:
        mat = P.copy()
        mat[:, idx[c]] = 0.0  # inbound edges redirect to NULL
        p_r = _absorb(mat)
        rm = max(0.0, 1.0 - p_r / p_base) if p_base > 0 else 0.0
        total_rm += rm
        out.append((c, p_base, p_r, rm))
    rows = [
        (
            c,
            round(pb, 6),
            round(pr, 6),
            round(rm, 6),
            round(rm / total_rm, 6) if total_rm > 0 else 0.0,
        )
        for c, pb, pr, rm in out
    ]
    return spark.createDataFrame(rows, schema)


def kaplan_meier(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_window_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (Kaplan & Meier
    1958) — THE retention curve done right: a user still active near
    the end of the observation window hasn't churned, they're
    CENSORED, and averaging their (truncated) lifetime in like naive
    retention does biases every estimate down.

    Lifetime = days between a user's first and last event; a user
    whose last event falls within ``censor_window_days`` of the
    corpus's last timestamp is censored (their true lifetime is only
    known to be ≥ observed).  At each distinct lifetime t with at
    least one churn event: ``n_risk`` = users with lifetime ≥ t,
    ``n_events`` = churns at t, and ``S(t) = Π_{t_i ≤ t}
    (1 − d_i/n_i)`` via an exp-sum-log running product.  Returns one
    row per event time: ``(t_days, n_risk, n_events, n_censored,
    survival)`` rounded to 6.

    Scale shape: the corpus collapses to one row per user (ONE
    aggregation), then per-lifetime counts — the curve table is
    bounded by the calendar (|distinct day-lifetimes|), so the ordered
    running-product window is a rollup diagnostic, never a corpus
    sort."""
    if censor_window_days < 0:
        raise ValueError("censor_window_days must be >= 0")
    from pyspark.sql import Window

    per_user = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(F.to_date(F.col(ts_col))).alias("__first"),
        F.max(F.to_date(F.col(ts_col))).alias("__last"),
    )
    study_end = events.agg(
        F.max(F.to_date(F.col(ts_col))).alias("__end")
    )
    staged = per_user.crossJoin(F.broadcast(study_end)).select(
        F.datediff("__last", "__first").alias("t"),
        (
            F.datediff("__end", "__last") >= F.lit(censor_window_days)
        ).cast("long").alias("__event"),
    )
    per_t = staged.groupBy("t").agg(
        F.sum("__event").alias("n_events"),
        F.sum(F.lit(1) - F.col("__event")).alias("n_censored"),
        F.count(F.lit(1)).alias("__leaving"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    risk = per_t.select(
        "t",
        "n_events",
        "n_censored",
        (
            F.sum("__leaving").over(tot)
            - F.sum("__leaving").over(w)
            + F.col("__leaving")
        ).alias("n_risk"),
    )
    # running product via exp(Σ ln): the last time point can drive
    # 1 - d/n to exactly 0 -> survival 0 without ln(0) (ANSI NULL)
    term = F.lit(1.0) - F.col("n_events") / F.col("n_risk").cast("double")
    staged2 = risk.withColumn(
        "__lt", F.when(term > 0, F.log(term))
    )
    surv = F.when(
        F.min(term).over(w) <= 0, F.lit(0.0)
    ).otherwise(F.exp(F.sum("__lt").over(w)))
    return (
        staged2.withColumn("__s", surv)
        .where(F.col("n_events") > 0)
        .select(
            "t",
            F.col("n_risk").cast("long").alias("n_risk"),
            "n_events",
            "n_censored",
            F.round("__s", 6).alias("survival"),
        )
    )


def ltv_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    purchase_type: str = "purchase",
    type_col: str = "event_type",
) -> DataFrame:
    """Cohort LTV triangle: users cohorted by first-active week, and
    for each (cohort, weeks-since) the purchase revenue plus the
    CUMULATIVE revenue per cohort member — the lifetime-value curve
    growth teams read next to the retention triangle
    (:func:`retention_cohorts` says who came back; this says what they
    were worth by week k).

    Returns ``(cohort_week, weeks_since, cohort_users, revenue,
    cum_ltv_per_user)`` — offsets with zero revenue are ABSENT (the
    cumulative value at the next present offset is still exact; join
    a spine or fill_daily_gaps downstream for a dense curve).

    Scale shape: one per-user first-week aggregation, one broadcast-
    friendly cohort-size rollup, purchases join their user's cohort on
    the user key (the same shuffle key as the aggregation), then a
    cumulative window PARTITIONED BY COHORT over the calendar-bounded
    (cohort, offset) rollup."""
    from pyspark.sql import Window

    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    first_week = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(week).alias("__cohort")
    )
    sizes = first_week.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    purchases = events.where(F.col(type_col) == F.lit(purchase_type)).select(
        F.col(user_col).alias("__u"),
        week.alias("__w"),
        F.col(value_col).cast("double").alias("__v"),
    )
    per_cell = (
        purchases.join(first_week, "__u")
        .select(
            "__cohort",
            (F.datediff("__w", "__cohort") / 7).cast("int").alias(
                "weeks_since"
            ),
            "__v",
        )
        .groupBy("__cohort", "weeks_since")
        .agg(F.sum("__v").alias("__rev"))
    )
    w = Window.partitionBy("__cohort").orderBy("weeks_since").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_cell.join(sizes, "__cohort")
        .select(
            F.col("__cohort").cast("string").alias("cohort_week"),
            "weeks_since",
            "cohort_users",
            F.round("__rev", 4).alias("revenue"),
            F.round(
                F.sum("__rev").over(w) / F.col("cohort_users"), 6
            ).alias("cum_ltv_per_user"),
        )
    )


def top_paths(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
    length: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Top-k most frequent CONSECUTIVE event sequences of ``length``
    per user stream — "what do users actually do, in order" (the
    n-gram view of behavior the first-order
    :func:`transition_matrix` marginalizes away; a 3-path separates
    view→click→purchase from click→view→purchase, the matrix cannot).

    Windows slide by one event, ordered by ``(ts, order_col)`` so
    replays are exact; sequences never cross users.  Returns
    ``(path, n)`` with ``path`` the ' > '-joined sequence, top-k by
    ``(n desc, path asc)`` — a total order, engine-replayable.

    Scale shape: ONE user-partitioned window pass building the path
    via ``lead`` (no self-join — the classic formulation joins the
    event table to itself length−1 times), one path-keyed count
    aggregation (map-side combined), and a distributed TakeOrdered."""
    if length < 2:
        raise ValueError(f"length must be >= 2, got {length}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    from pyspark.sql import Window

    w = Window.partitionBy(F.col(user_col)).orderBy(
        F.col(ts_col), F.col(order_col)
    )
    parts = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, length)
    ]
    staged = events.select(
        *[p.alias(f"__p{i}") for i, p in enumerate(parts)]
    ).where(F.col(f"__p{length - 1}").isNotNull())
    path = F.concat_ws(" > ", *[F.col(f"__p{i}") for i in range(length)])
    return (
        staged.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(top_k)
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Batch sessionization — the inactivity-gap session split every
    web/product-analytics stack runs (the batch twin of
    ``streaming/windows.py``'s stateful sessionize: identical > gap_us
    rule, replayable over the static log; ``windows.sessionize_batch``
    is the MINIMAL boundary-only variant kept for the streaming parity
    tests — this operator adds the id tie-break and per-session stats,
    and a parity test pins the two to identical boundaries): a user's
    events are ordered by ``(ts, id_col)`` and a new session starts
    wherever the gap to the previous event exceeds ``gap_minutes``.

    Returns one row per session: ``(user_id, session_seq, start_ts,
    end_ts, n_events, n_types, duration_us, session_value)`` —
    ``session_seq`` is the user's 1-based session index,
    ``duration_us`` is exact integer microseconds (no float drift
    between engines), ``session_value`` the rounded value sum.

    Scale shape: ONE shuffle on the user key feeds both windows (lag +
    running session count share the identical (user)×(ts, id) spec, so
    Spark plans one Exchange/Sort), then one (user, session_seq)
    aggregation — map-side combinable, and co-partitioned work since
    the grouping key extends the window's partition key.  Nothing here
    sorts or broadcasts the corpus; skewed users cost what their own
    event count costs (a bot user with 10M events is one fat partition
    slice — cap upstream if that is a concern).
    """
    if gap_minutes <= 0:
        raise ValueError(f"gap_minutes must be > 0, got {gap_minutes}")
    from pyspark.sql import Window

    gap_us = int(gap_minutes * 60_000_000)
    prep = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        # events commonly land as TIMESTAMP_NTZ from parquet; the session
        # TZ is pinned UTC (plda_spark.get_spark), so the cast is the
        # identity embedding into epoch micros == DuckDB's epoch_us
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.col(id_col).alias("__o"),
        F.col(type_col).alias("__ty"),
        F.col(value_col).cast("double").alias("__v"),
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__o")
    flagged = prep.withColumn(
        "__new",
        F.when(
            F.col("__us") - F.lag("__us").over(w) <= F.lit(gap_us),
            F.lit(0),
        ).otherwise(F.lit(1)),  # NULL lag (first event) -> new session
    )
    sess = flagged.withColumn(
        "__sid",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy(
            F.col("__u").alias(user_col), F.col("__sid").alias("session_seq")
        )
        .agg(
            F.min("__ts").alias("start_ts"),
            F.max("__ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("__ty").alias("n_types"),
            (F.max("__us") - F.min("__us")).alias("duration_us"),
            F.round(F.sum("__v"), 4).alias("session_value"),
        )
    )


def funnel_latency(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-transition conversion latency for the first-touch funnel —
    the "how long does each step take" companion to :func:`funnel`
    (same semantics: ``t_{k+1}`` = min ts of step k+1 STRICTLY after
    ``t_k``): for each consecutive step pair, the users completing the
    transition and exact interpolated quantiles of the transition time.

    Returns one row per transition: ``(step_idx, from_step, to_step,
    n_users, median_sec, p90_sec)`` — seconds from exact integer
    microseconds, quantiles via ANSI ``percentile_cont`` interpolation
    so both engines agree.

    Scale shape: the same ONE-shuffle pack-and-fold as
    :func:`funnel_progress`, with the state machine additionally
    carrying the matched timestamps (a ≤|steps|-long micros array per
    user); transitions explode from that |users|-row frame and feed
    one |steps|-group aggregation.  The event table is filtered to the
    step types BEFORE the shuffle and never joined to itself."""
    steps = list(steps)
    if len(steps) < 2 or len(set(steps)) != len(steps):
        raise ValueError("steps must be >= 2 distinct event types")
    idx = F.create_map(
        *[x for i, st in enumerate(steps) for x in (F.lit(st), F.lit(i))]
    )
    ts_type = events.schema[ts_col].dataType
    packed = (
        events.where(F.col(type_col).isin(steps))
        .select(
            F.col(user_col).alias("user"),
            F.struct(
                F.col(ts_col).alias("ts"),
                idx[F.col(type_col)].alias("step"),
            ).alias("e"),
        )
        .groupBy("user")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
    )
    # state: (next step to match, ts of the last match, matched micros)
    init = F.struct(
        F.lit(0).alias("ptr"),
        F.lit(None).cast(ts_type).alias("last_ts"),
        F.lit(None).cast("array<long>").alias("hits"),
    )
    fold = F.aggregate(
        "es",
        init,
        lambda acc, e: F.when(
            (e["step"] == acc["ptr"])
            & ((acc["ptr"] == 0) | (e["ts"] > acc["last_ts"])),
            F.struct(
                (acc["ptr"] + 1).alias("ptr"),
                e["ts"].alias("last_ts"),
                F.concat(
                    F.coalesce(acc["hits"], F.array().cast("array<long>")),
                    F.array(F.unix_micros(e["ts"].cast("timestamp"))),
                ).alias("hits"),
            ),
        ).otherwise(acc),
    )
    hits = packed.select(fold["hits"].alias("hits")).where(
        F.size("hits") >= 2
    )
    trans = hits.select(
        F.posexplode(
            # slice() is 1-based, x = hits[i+1] in 0-based terms, so the
            # predecessor is hits[i] ([] is 0-based in Spark SQL)
            F.expr(
                "transform(slice(hits, 2, size(hits) - 1),"
                " (x, i) -> x - hits[i])"
            )
        ).alias("step_idx", "lat_us")
    )
    spine = events.sparkSession.createDataFrame(
        [(i, steps[i], steps[i + 1]) for i in range(len(steps) - 1)],
        "step_idx int, from_step string, to_step string",
    )
    lat_sec = F.col("lat_us").cast("double") / F.lit(1e6)
    per = trans.groupBy("step_idx").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.percentile(lat_sec, F.lit(0.5)), 6).alias("median_sec"),
        F.round(F.percentile(lat_sec, F.lit(0.9)), 6).alias("p90_sec"),
    )
    return spine.join(F.broadcast(per), "step_idx", "left").select(
        "step_idx", "from_step", "to_step",
        F.coalesce(F.col("n_users"), F.lit(0)).alias("n_users"),
        "median_sec", "p90_sec",
    )


def point_in_time_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_days: int = 7,
    anchor_type: str | None = None,
    type_col: str = "event_type",
) -> DataFrame:
    """Leakage-free point-in-time feature extraction — the
    feature-store primitive for training-data assembly: for each
    anchor event, the user's activity count and value sum over the
    HALF-OPEN trailing window ``(ts − window_days, ts)`` — STRICTLY
    before the anchor, so a model trained on these features never sees
    the label instant itself (the train-serve-skew discipline
    point-in-time joins exist for).

    Implemented as ONE value-based RANGE window over integer
    microseconds — no as-of self-join: the frame
    ``RANGE BETWEEN (w·86400e6 − 1) PRECEDING AND 1 PRECEDING``
    is exactly the half-open interval, and because it is value-based,
    same-timestamp peers of the anchor are excluded identically in
    both engines regardless of tie order.  ``anchor_type`` filters the
    OUTPUT to one event type (e.g. label rows) while the features
    still aggregate over ALL events.

    Returns ``(event_id-ish passthrough columns, n_prev, value_prev)``
    — count and rounded value sum over the window, 0 when empty.

    Scale shape: one user-keyed exchange + one RANGE-frame window;
    the anchor filter happens AFTER the frame (it must — features read
    all activity) but costs a projection, not a second shuffle."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    span = window_days * 86_400_000_000
    w = (
        Window.partitionBy(F.col(user_col))
        .orderBy(us)
        .rangeBetween(-(span - 1), -1)
    )
    out = events.select(
        "*",
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias("n_prev"),
        F.round(
            F.coalesce(F.sum(F.col(value_col).cast("double")).over(w), F.lit(0.0)),
            4,
        ).alias("value_prev"),
    )
    if anchor_type is not None:
        out = out.where(F.col(type_col) == F.lit(anchor_type))
    return out


def item_item_cf(
    events: DataFrame,
    user_col: str = "user_id",
    item_col: str = "event_type",
    k: int = 5,
    min_support: int = 2,
    max_basket_items: int | None = 500,
) -> DataFrame:
    """Item-item collaborative-filtering neighbors (Sarwar et al.
    WWW'01; the Amazon item-to-item recommender, Linden et al. IEEE
    IC'03) over the same per-user baskets as :func:`association_rules`
    — but where rules answer "which co-engagements are SURPRISING?"
    (lift vs independence), this answers "which k items are NEAREST?"
    (cosine over the binary user-item matrix: ``cos(a, b) = n_both /
    √(n_a·n_b)``), the form a retrieval stage consumes directly.

    Returns the top-``k`` neighbors per item: ``(item, neighbor,
    n_both, n_item, n_neighbor, cosine, rank)`` with cosine rounded to
    6 and rank dense over (cosine DESC, neighbor ASC) — integer-count
    arithmetic both engines replay exactly, so the ordering is
    deterministic cross-engine.

    Scale shape: identical to :func:`association_rules` (the a-priori
    discipline): dedup to (user, item), ``min_support`` prunes items
    BEFORE the one self-equi-join on the user key, ``max_basket_items``
    (default 500) caps the per-basket quadratic blowup, supports join
    back broadcast.  The final top-k is a rank window keyed by item —
    |items| groups of ≤|items| rows, never user-scale data."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _, item_supp, pairs = _basket_pairs(
        events, user_col, item_col, min_support, max_basket_items,
        min_pair_support=1,
    )
    directed = pairs.select(
        F.col("item_a").alias("item"), F.col("item_b").alias("neighbor"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"), F.col("item_a").alias("neighbor"),
            "n_both",
        )
    )
    supp_i = item_supp.select(
        F.col("item"), F.col("n_item")
    )
    supp_n = item_supp.select(
        F.col("item").alias("neighbor"), F.col("n_item").alias("n_neighbor")
    )
    scored = (
        directed.join(F.broadcast(supp_i), "item")
        .join(F.broadcast(supp_n), "neighbor")
        .withColumn(
            "cosine",
            F.round(
                F.col("n_both")
                / F.sqrt(
                    F.col("n_item").cast("double") * F.col("n_neighbor")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "item", "neighbor", "n_both", "n_item", "n_neighbor",
            "cosine", "rank",
        )
    )


def retention_decay_fit(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period_days: int = 7,
    max_periods: int = 12,
) -> DataFrame:
    """Exponential-decay fit of the retention curve: compute per-period
    retention (fraction of the cohort active in period p after their
    first event), then least-squares ``ln(retention) = a + b·p`` —
    the one-number summary ``halflife = −ln2/b`` that turns a
    retention triangle into "we lose half the remaining users every
    N periods" (the standard churn model; see Fader & Hardie's sBG
    line of work for the richer parametric family).

    Periods are ``floor(days_since_first / period_days)``; periods
    0..``max_periods`` INCLUSIVE are fitted (so ``max_periods + 1``
    candidate points); period 0 is 1.0 by construction and anchors
    the intercept; zero-retention periods are excluded from the log
    fit (they are −∞).  Each period's denominator is
    RIGHT-CENSORING-AWARE: only users whose first event is at least
    ``p·period_days`` before the last day in the data window — users
    who COULD have been observed in period p — count, so a growing
    cohort no longer biases late-period retention low and halflife
    short.  Returns ONE row ``(n_users, n_periods, slope, intercept,
    halflife_periods, r2)`` rounded to 6 — ``n_users`` is the full
    cohort; ``halflife_periods`` is NULL when the fitted slope is ≥ 0
    (no decay to halve).

    Scale shape: one per-user min aggregation (first day), one
    user-keyed join back, one distinct (user, period) aggregation →
    per-period counts; the observable-cohort denominators come from a
    |periods|-bucket histogram of per-user observable spans joined
    against the (≤ max_periods+1)-row period spine — both tiny.  The
    log-linear fit is the :func:`~plda_spark.operators.stats.ols2`-
    style closed form from ONE aggregation over |periods| rows."""
    if period_days < 1:
        raise ValueError(f"period_days must be >= 1, got {period_days}")
    if max_periods < 2:
        raise ValueError(f"max_periods must be >= 2, got {max_periods}")
    day = F.to_date(F.col(ts_col))
    base = events.where(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(F.col(user_col).alias("u"), day.alias("d"))
    first = base.groupBy("u").agg(F.min("d").alias("d0"))
    cohort = first.agg(F.count(F.lit(1)).alias("n_users"))
    bounds = base.agg(F.max("d").alias("dmax"))
    # per-user observable span in periods, capped at max_periods so
    # the histogram stays <= max_periods+1 buckets
    hist = (
        first.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor(F.datediff("dmax", "d0") / period_days),
                F.lit(max_periods).cast("bigint"),
            ).alias("mp")
        )
        .groupBy("mp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = (
        base.join(first, "u")
        .select(
            "u",
            F.floor(F.datediff("d", "d0") / period_days).alias("p"),
        )
        .where(F.col("p") <= max_periods)
        .distinct()
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("up"))
    )
    # observable cohort per period: #users with mp >= p (a user active
    # in period p is observable by construction, so numerator <= obs)
    obs = (
        per.select("p")
        .crossJoin(F.broadcast(hist))
        .where(F.col("mp") >= F.col("p"))
        .groupBy("p")
        .agg(F.sum("c").alias("obs"))
    )
    rates = (
        per.join(obs, "p")
        .crossJoin(F.broadcast(cohort))
        .select(
            F.col("p").cast("double").alias("x"),
            F.log(
                F.col("up").cast("double") / F.col("obs").cast("double")
            ).alias("y"),
            "n_users",
        )
        .where((F.col("up") > 0) & (F.col("obs") > 0))
    )
    agg = rates.agg(
        F.max("n_users").alias("n_users"),
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    k = F.col("k").cast("double")
    dx = k * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = k * F.col("syy") - F.col("sy") * F.col("sy")
    num = k * F.col("sxy") - F.col("sx") * F.col("sy")
    b = F.when(dx > 0, num / dx)
    staged = agg.select(
        "n_users",
        "k",
        b.alias("__b"),
        ((F.col("sy") - b * F.col("sx")) / k).alias("__a"),
        F.when((dx > 0) & (dy > 0), num * num / (dx * dy)).alias("__r2"),
    )
    hl = F.when(
        F.col("__b") < 0, -F.log(F.lit(2.0)) / F.col("__b")
    )
    return staged.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("n_periods"),
        F.round("__b", 6).alias("slope"),
        F.round("__a", 6).alias("intercept"),
        F.round(hl, 6).alias("halflife_periods"),
        F.round("__r2", 6).alias("r2"),
    )


def bass_diffusion_fit(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Bass diffusion-model fit of the adoption curve (Bass 1969,
    Management Science — the canonical new-product growth model):
    daily NEW adopters (first-event day per user) follow
    ``n_t = p·(m − N) + (q/m)·N·(m − N)`` where ``m`` is the ultimate
    market size, ``p`` the innovation (external) coefficient, ``q``
    the imitation (word-of-mouth) coefficient, and ``N`` the
    cumulative adopters BEFORE day t.  Expanding gives the discrete
    Bass regression ``n_t = a + b·N + c·N²`` with ``a = p·m``,
    ``b = q − p``, ``c = −q/m`` — a TWO-REGRESSOR least squares
    problem, solved closed-form exactly like
    :func:`~plda_spark.operators.stats.ols2`, then inverted:
    ``m = (−b − √(b² − 4ac))/(2c)``, ``p = a/m``, ``q = −c·m``
    (Bass's own estimation procedure, §6 of the paper).

    Returns ONE row ``(n_days, adopters, m, p, q, peak_day)`` rounded
    to 6 — ``peak_day = ln(q/p)/(p+q)`` (days from launch to peak
    adoption rate; the model's headline planning number), NULL along
    with m/p/q when the fit is degenerate (collinear design, c ≥ 0 =
    no saturation in sight, or b² < 4ac).

    Scale shape: one per-user min aggregation (first day), one daily
    count → |days| rows, one cumulative window over that rollup, ONE
    9-sum aggregation + scalar Cramer/quadratic arithmetic.  Nothing
    about the corpus survives the second aggregation."""
    day = F.to_date(F.col(ts_col))
    base = events.where(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(F.col(user_col).alias("u"), day.alias("d"))
    from pyspark.sql import Window

    first = base.groupBy("u").agg(F.min("d").alias("d0"))
    daily = first.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("nt")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # N = cumulative adopters BEFORE day t = running sum minus today
    series = daily.withColumn(
        "bigN", F.sum("nt").over(w) - F.col("nt")
    )
    x1 = F.col("bigN")
    x2 = F.col("bigN") * F.col("bigN")
    y = F.col("nt")
    agg = series.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("sy"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
    )
    n = F.col("n").cast("double")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    bb = F.when((n > 3) & (det > 0), (c1y * c22 - c2y * c12) / det)
    cc = F.when((n > 3) & (det > 0), (c2y * c11 - c1y * c12) / det)
    aa = (F.col("sy") - bb * F.col("s1") - cc * F.col("s2")) / n
    staged = agg.select(
        F.col("n").cast("long").alias("n_days"),
        (F.col("sy")).cast("long").alias("adopters"),
        aa.alias("__a"),
        bb.alias("__b"),
        cc.alias("__c"),
    )
    disc = F.col("__b") * F.col("__b") - 4 * F.col("__a") * F.col("__c")
    # saturation requires c < 0 and a real positive root
    mm = F.when(
        (F.col("__c") < 0) & (disc > 0) & (F.col("__a") > 0),
        (-F.col("__b") - F.sqrt(disc)) / (2 * F.col("__c")),
    )
    staged2 = staged.withColumn("__m", mm)
    pp = F.when(F.col("__m") > 0, F.col("__a") / F.col("__m"))
    qq = F.when(F.col("__m") > 0, -F.col("__c") * F.col("__m"))
    staged3 = staged2.withColumn("__p", pp).withColumn("__q", qq)
    peak = F.when(
        (F.col("__p") > 0) & (F.col("__q") > 0),
        F.log(F.col("__q") / F.col("__p"))
        / (F.col("__p") + F.col("__q")),
    )
    return staged3.select(
        "n_days",
        "adopters",
        F.round("__m", 6).alias("m"),
        F.round("__p", 6).alias("p"),
        F.round("__q", 6).alias("q"),
        F.round(peak, 6).alias("peak_day"),
    )


def interevent_burstiness(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Goh-Barabási burstiness of per-user inter-event times (Goh &
    Barabási 2008, EPL): over every consecutive same-user gap,
    ``B = (σ − μ)/(σ + μ)`` — −1 for a metronome, 0 for a Poisson
    process, → +1 for extreme burstiness — plus the memory
    coefficient ``M`` (the Pearson correlation of consecutive gaps:
    do long waits follow long waits?).  THE two-number
    characterization of human/bot temporal signatures: organic users
    are bursty with weak memory, schedulers are periodic (B ≈ −1),
    naive replayed-traffic bots sit at Poisson.

    Returns ONE row ``(n_gaps, mean_s, sd_s, burstiness, memory)``
    rounded to 6 — ``memory`` NULL with < 2 consecutive-gap pairs or
    zero variance.

    Scale shape: ONE user-keyed exchange feeds both lag windows
    (gap = lag(ts), then lag(gap) for the memory pairs — the second
    window reuses the first's partitioning, no extra shuffle); one
    moment aggregation ends the plan.  Gaps ride integer epoch-micros
    (the funnel-latency convention), so both engines replay the exact
    arithmetic."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = events.where(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(F.col(user_col).alias("u"), us.alias("__us"))
    w = Window.partitionBy("u").orderBy("__us")
    gaps = base.withColumn(
        "__gap",
        (F.col("__us") - F.lag("__us").over(w)) / F.lit(1_000_000.0),
    ).where(F.col("__gap").isNotNull())
    pairs = gaps.withColumn("__prev", F.lag("__gap").over(w))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__gap").alias("s1"),
        F.sum(F.col("__gap") * F.col("__gap")).alias("s2"),
        F.sum((F.col("__prev").isNotNull()).cast("long")).alias("np"),
        F.sum(F.when(F.col("__prev").isNotNull(), F.col("__gap"))).alias("px"),
        F.sum(F.when(F.col("__prev").isNotNull(), F.col("__prev"))).alias("py"),
        F.sum(
            F.when(F.col("__prev").isNotNull(), F.col("__gap") * F.col("__gap"))
        ).alias("pxx"),
        F.sum(
            F.when(F.col("__prev").isNotNull(), F.col("__prev") * F.col("__prev"))
        ).alias("pyy"),
        F.sum(
            F.when(F.col("__prev").isNotNull(), F.col("__gap") * F.col("__prev"))
        ).alias("pxy"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    var = F.when(n > 1, (F.col("s2") - F.col("s1") * mu) / (n - 1))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    b = F.when((sd + mu) > 0, (sd - mu) / (sd + mu))
    np_ = F.col("np").cast("double")
    cxx = np_ * F.col("pxx") - F.col("px") * F.col("px")
    cyy = np_ * F.col("pyy") - F.col("py") * F.col("py")
    cxy = np_ * F.col("pxy") - F.col("px") * F.col("py")
    m = F.when((F.col("np") > 1) & (cxx > 0) & (cyy > 0),
               cxy / F.sqrt(cxx * cyy))
    return agg.select(
        F.col("n").cast("long").alias("n_gaps"),
        F.round(mu, 6).alias("mean_s"),
        F.round(sd, 6).alias("sd_s"),
        F.round(b, 6).alias("burstiness"),
        F.round(m, 6).alias("memory"),
    )
