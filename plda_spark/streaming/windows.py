"""Structured Streaming windowed aggregations over event streams.

The reference is strictly batch-iterative (SURVEY.md §2.2: streaming
absent), so this module is the engine's streaming extension: tumbling /
sliding window counts+sums with event-time watermarks, plus a stateful
per-user sessionization built on ``applyInPandasWithState``.

Each streaming query has a batch twin (same expressions on a static
DataFrame) used by the DuckDB oracle and by tests: run the stream from a
file source to completion with ``availableNow`` and compare to the twin.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import TimestampNTZType

from plda_spark._exprs import epoch_secs

__all__ = [
    "tumbling_counts",
    "sliding_value_sums",
    "tumbling_counts_batch",
    "sliding_value_sums_batch",
    "sessionize",
    "sessionize_batch",
    "session_window_counts",
    "stream_dedup",
    "stream_dedup_batch",
    "windowed_top_users",
    "windowed_top_users_batch",
    "top_k_per_window",
    "interval_join",
    "interval_join_batch",
    "run_stream_available_now",
    "incremental_exact_dedup",
    "incremental_minhash_dedup",
    "compact_dedup_ledger",
    "incremental_decayed_counts",
    "decayed_counts_from_ledger",
    "incremental_hist_ledger",
    "hist_ks_from_ledger",
    "enrich",
    "hist_psi_from_ledger",
    "ab_ledger_partials",
    "incremental_ab_ledger",
    "abtest_from_ledger",
    "srm_from_ledger",
    "bayes_from_ledger",
]


def _is_ntz(df: DataFrame, col: str = "ts") -> bool:
    return isinstance(df.schema[col].dataType, TimestampNTZType)


def _for_watermark(events: DataFrame, col: str = "ts") -> tuple[DataFrame, bool]:
    """Watermarks require TIMESTAMP; parquet written without a timezone
    reads as TIMESTAMP_NTZ under Spark 4's NTZ inference.  Cast the
    event-time column up for the watermark and remember the original type
    so outputs can be cast back (wall-clock preserving in-session, and it
    keeps the streaming result's schema identical to the batch twin's)."""
    if _is_ntz(events, col):
        return events.withColumn(col, F.col(col).cast("timestamp")), True
    return events, False


def _restore_ntz(df: DataFrame, cols: list[str], was_ntz: bool) -> DataFrame:
    if not was_ntz:
        return df
    return df.select(
        *[
            F.col(c).cast("timestamp_ntz").alias(c) if c in cols else F.col(c)
            for c in df.columns
        ]
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes") -> DataFrame:
    """Per-(window, event_type) counts with a late-data watermark."""
    events, ntz = _for_watermark(events)
    out = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return _restore_ntz(out, ["window_start"], ntz)


def sliding_value_sums(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Sliding-window value sums per event type.

    Sums run over ``decimal(18,6)`` so results are exact and independent
    of partitioning / aggregation order (bit-stable vs the batch twin and
    the DuckDB oracle; double sums are order-dependent).
    """
    events, ntz = _for_watermark(events)
    out = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "total_value")
    )
    return _restore_ntz(out, ["window_start"], ntz)


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user session aggregation with Spark's NATIVE
    ``session_window`` — the declarative twin of the
    ``applyInPandasWithState`` sessionizer (:func:`sessionize`):
    Catalyst's session-window state store does the merging, no Python
    state code, and the SAME function runs on a streaming frame (with
    the watermark bounding state) or a batch frame (one shuffle + sort
    per key).  Semantics: a session extends while the next event falls
    AT or before ``last + gap`` — Spark merges adjacent session windows,
    so an event exactly ``gap`` later still merges (probe-verified;
    equivalently, a break requires ``diff > gap``); ``session_end`` is
    the last event time plus the gap, matching the stateful
    sessionizer's timeout convention.

    Returns ``(user_id, session_start, session_end, n_events)``.
    """
    ev, ntz = _for_watermark(events)
    if ev.isStreaming:
        ev = ev.withWatermark("ts", watermark)
    out = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _restore_ntz(out, ["session_start", "session_end"], ntz)


def windowed_top_users(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming heavy hitters, stage 1: watermarked per-(window, user)
    counts — bounded state (rows expire when the watermark passes their
    window), map-side combined, append-mode so each window's counts emit
    exactly once, when it closes.

    Streaming aggregations cannot host a rank window function (ranking
    is a global statement about a window's FINAL contents), so the
    top-k cut runs on the closed windows this stream emits — apply
    :func:`top_k_per_window` in ``foreachBatch`` (or on the sink table).
    That split is the standard recipe: the unbounded part is a plain
    watermarked aggregate, the rank touches only finalized rows.
    """
    events, ntz = _for_watermark(events)
    out = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
    )
    return _restore_ntz(out, ["window_start"], ntz)


def top_k_per_window(counts: DataFrame, k: int = 3) -> DataFrame:
    """Rank ``(window_start, user_id, n_events)`` rows to the top-``k``
    per window (ties broken by user for determinism).  Partitioned rank
    — each window sorts only its own users."""
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def windowed_top_users_batch(events: DataFrame, k: int = 3) -> DataFrame:
    """Batch twin of the streaming top-k pipeline (hourly tumble)."""
    counts = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return top_k_per_window(counts, k)


def tumbling_counts_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`tumbling_counts` (hourly tumble)."""
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def sliding_value_sums_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`sliding_value_sums`: each event lands in the
    two half-hour-aligned 1h windows that contain it."""
    # Window starts: floor(ts, 30min) and floor(ts, 30min) - 30min.
    # timestampadd/date_trunc-style integer math on unix_micros keeps the
    # result in the SAME timestamp family as the input (to_timestamp /
    # from_unixtime would force TIMESTAMP and diverge from an NTZ source).
    ntz = _is_ntz(events)
    mk = F.timestamp_micros if not ntz else (lambda c: F.timestamp_micros(c).cast("timestamp_ntz"))
    us = F.unix_micros(F.col("ts").cast("timestamp")) if ntz else F.unix_micros(F.col("ts"))
    step = 1800 * 1_000_000
    floor30 = us - us % step
    starts = F.array(mk(floor30), mk(floor30 - step))
    return (
        events.select(
            F.explode(starts).alias("window_start"), "event_type", "value"
        )
        .groupBy("window_start", "event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"))
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch gap-based sessionization (SQL-expressible twin of
    :func:`sessionize`): a new session starts whenever the gap to the
    previous event of the same user exceeds ``gap_minutes``.

    Classic lag + cumulative-sum sessionization: one shuffle on
    ``user_id`` shared by both window passes and the final groupBy (the
    partitioning is reused, so at scale this is a single exchange).
    Gaps compare exact microsecond integers — no float time math.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp")) if _is_ntz(events) else F.unix_micros(F.col("ts"))
    prev_us = F.lag(ts_us).over(w)
    flagged = events.select(
        "user_id",
        "ts",
        F.when(ts_us - prev_us > gap_us, 1).otherwise(0).alias("new_sess"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    return (
        flagged.withColumn("session_id", F.sum("new_sess").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events int"
_STATE_SCHEMA = "start long, last long, n int"


def _session_fn(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Gap-based sessionization: a session closes after 30 min idle.

    State timestamps are kept at full microsecond precision so a drained
    run (emitted sessions + :func:`open_sessions`) is value-identical to
    :func:`sessionize_batch` — no truncation gap between the streaming
    and batch twins.
    """
    gap_us = 30 * 60 * 1_000_000
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n],
            }
        )
        return
    rows = pd.concat(list(pdfs))
    ts = rows["ts"].astype("int64") // 10**3  # ns → us
    ts = ts.sort_values()
    out = []
    if state.exists:
        start, last, n = state.get
    else:
        start = last = int(ts.iloc[0])
        n = 0
    for t in ts:
        t = int(t)
        if t - last > gap_us:
            out.append((start, last, n))
            start, n = t, 0
        else:
            # a cross-microbatch late event that still merges into the
            # open session must be able to LOWER its start, or the
            # emitted session diverges from the batch twin's
            start = min(start, t)
        last = max(last, t)
        n += 1
    state.update((start, last, n))
    state.setTimeoutDuration(30 * 60 * 1000)  # processing-time ms
    if out:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in out],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in out],
                "n_events": [n for _, _, n in out],
            }
        )


def stream_dedup(events: DataFrame, keys: list[str] | None = None, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact deduplication: keep the first event per key within
    the watermark horizon (``dropDuplicatesWithinWatermark`` bounds the
    dedup state by event time, so state size tracks the horizon, not the
    stream length — the streaming twin of the batch ``exact_dedup``)."""
    keys = keys or ["event_id"]
    events, ntz = _for_watermark(events)
    out = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return _restore_ntz(out, ["ts"], ntz)


def stream_dedup_batch(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Batch twin: one row per key (first by timestamp, ties by event_id)."""
    from pyspark.sql import Window

    keys = keys or ["event_id"]
    w = Window.partitionBy(*keys).orderBy("ts", "event_id")
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _interval_join_frames(
    purchases: DataFrame, errors: DataFrame, how: str = "inner"
) -> DataFrame:
    """Shared join expression for the stream-stream interval join and
    its batch twin: for each purchase, the errors by the SAME user in
    the preceding 30 minutes (the "did an error precede this purchase"
    enrichment).  Time-bound equality join — the bound is what lets
    Structured Streaming expire join state behind the watermark.
    ``how='leftOuter'`` keeps unmatched purchases (null error columns)."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    e = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("e_ts") < F.col("p_ts")),
        how,
    )
    return joined.select(
        F.col("p_user").alias("user_id"), "purchase_id", "error_id", "p_ts", "e_ts"
    )


def interval_join(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream interval join: purchases ⋈ same-user errors within
    the preceding 30 minutes.

    Both sides carry event-time watermarks; with the time-range
    predicate, Spark bounds the join state to watermark + 30 minutes
    per side — O(recent events), never the whole stream.
    """
    events, ntz = _for_watermark(events)
    purchases = events.where(F.col("event_type") == "purchase").withWatermark(
        "ts", watermark
    )
    errors = events.where(F.col("event_type") == "error").withWatermark(
        "ts", watermark
    )
    return _restore_ntz(_interval_join_frames(purchases, errors), ["p_ts", "e_ts"], ntz)


def interval_join_batch(events: DataFrame) -> DataFrame:
    """Batch twin of ``interval_join`` (same expressions, no watermark)."""
    return _interval_join_frames(
        events.where(F.col("event_type") == "purchase"),
        events.where(F.col("event_type") == "error"),
    )


def interval_join_outer(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    matched rows as they arrive, UNMATCHED purchases with null error
    columns once the watermark proves no in-window error can still
    arrive.  This is the outer-join surface Structured Streaming added
    on top of the inner time-bound join: same bounded state (watermark
    + 30 min per side); the null-padded rows are the part that NEEDS
    the watermark, because "no match" is only decidable once the error
    side's event-time frontier has passed the purchase's window."""
    events, ntz = _for_watermark(events)
    purchases = events.where(F.col("event_type") == "purchase").withWatermark(
        "ts", watermark
    )
    errors = events.where(F.col("event_type") == "error").withWatermark(
        "ts", watermark
    )
    return _restore_ntz(
        _interval_join_frames(purchases, errors, how="leftOuter"),
        ["p_ts", "e_ts"],
        ntz,
    )


def interval_join_outer_batch(events: DataFrame) -> DataFrame:
    """Batch twin of ``interval_join_outer`` (plain left join)."""
    return _interval_join_frames(
        events.where(F.col("event_type") == "purchase"),
        events.where(F.col("event_type") == "error"),
        how="leftOuter",
    )


def run_stream_available_now(
    df: DataFrame, out_path: str, checkpoint_path: str, timeout_s: float = 300.0
) -> None:
    """Run a streaming DataFrame to a parquet sink with availableNow and
    return once all available data is processed.

    Plain windowed queries self-terminate, but a stateful query with
    ``ProcessingTimeTimeout`` keeps running cleanup batches until every
    state entry times out (wall-clock!), so ``awaitTermination`` alone
    would block for the full timeout duration.  We poll the query status
    and stop as soon as it reports only state cleanup remains.
    """
    import time

    if timeout_s <= 0:
        raise ValueError(f"timeout_s must be positive, got {timeout_s}")
    q = (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.time()
    grace_deadline = None
    while q.isActive and time.time() - t0 < timeout_s:
        # "No new data but cleaning up state" is shown both by the final
        # watermark-emission batch of a windowed query (which then
        # self-terminates — must NOT be stopped mid-flight) and by the
        # ProcessingTimeTimeout cleanup loop of a stateful query (which
        # would spin until every timeout fires, i.e. wall-clock gap
        # time).  So on first sighting, grant a grace period for
        # self-termination and only stop a query that is still spinning.
        if q.lastProgress is not None and q.status.get("message", "").startswith(
            "No new data but cleaning up state"
        ):
            if grace_deadline is None:
                grace_deadline = time.time() + 10.0
            elif time.time() > grace_deadline:
                break
        q.awaitTermination(1)
    if q.isActive:
        q.stop()
    q.awaitTermination(timeout_s)


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: 30-minute-gap user sessions via
    ``applyInPandasWithState`` (processing-time timeout closes idle
    sessions)."""
    events, ntz = _for_watermark(events)
    out = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    return _restore_ntz(out, ["session_start", "session_end"], ntz)


def open_sessions(spark: SparkSession, checkpoint_path: str, ntz: bool = False) -> DataFrame:
    """Drain still-open sessions from a :func:`sessionize` checkpoint.

    In append mode a session only emits when its gap timeout fires, so
    after an ``availableNow`` run the trailing session of every active
    user is still sitting in operator state.  Spark's state-store data
    source reads the last committed state version straight from the
    checkpoint — distributed, no driver collect — so

    ``emitted ∪ open_sessions(ckpt)  ≡  sessionize_batch(events)``

    exactly (pinned in tests/test_streaming.py).  This is the streaming
    operator's "end of stream" flush, done Spark-side instead of with a
    custom sentinel event.
    """
    st = spark.read.format("statestore").load(checkpoint_path)
    g = F.col("value.groupState")
    out = st.select(
        F.col("key.user_id").alias("user_id"),
        F.timestamp_micros(g["start"]).alias("session_start"),
        F.timestamp_micros(g["last"]).alias("session_end"),
        g["n"].alias("n_events"),
    )
    # Pass ntz=True when the source event stream was TIMESTAMP_NTZ so the
    # drained rows union cleanly with sessionize()'s output.
    return _restore_ntz(out, ["session_start", "session_end"], ntz)


def stage_parity_waves(
    events: DataFrame, src_path: str, key_col: str = "event_id", waves: int = 2
):
    """Write every ``key_col % waves`` parity wave's files in ONE
    source scan, staged under ``<src_path>_staged/__wave=<k>``; returns
    ``deliver(wave)`` which MOVES (renames) wave ``k``'s files into
    ``src_path`` — a micro-batch wave "arriving" without re-scanning
    the source per wave (the two-wave ingest rigs previously paid one
    full source scan PER wave; guide §1.2 "remove unnecessary passes").

    Row-for-row the delivered files hold exactly the rows the old
    ``where(key % waves == k)`` append wrote — only intra-wave file
    layout/order differs, so this is ONLY for ledgers whose per-batch
    partials are exact (integer counts/max, digests, q-digest
    multiset folds); float-summing ledgers keep the per-wave scan.
    Renames are metadata-only on a local filesystem; files are
    prefixed ``w<k>-`` because tasks emit identical basenames into
    every wave's staging directory."""
    import os as _os

    staging = src_path.rstrip("/") + "_staged"
    (
        events.withColumn(
            "__wave", (F.col(key_col) % F.lit(waves)).cast("int")
        )
        .write.partitionBy("__wave")
        .mode("overwrite")
        .parquet(staging)
    )

    def deliver(wave: int) -> None:
        _os.makedirs(src_path, exist_ok=True)
        wdir = _os.path.join(staging, f"__wave={wave}")
        if not _os.path.isdir(wdir):
            return  # empty wave: nothing arrived (matches an empty append)
        for fn in sorted(_os.listdir(wdir)):
            if fn.startswith(("_", ".")):
                continue
            _os.rename(
                _os.path.join(wdir, fn), _os.path.join(src_path, f"w{wave}-{fn}")
            )

    return deliver


def _query_token(spark: SparkSession, checkpoint_path: str) -> str:
    """This checkpoint generation's persistent streaming-query id (from
    the checkpoint's ``metadata`` file, written at query start — i.e.
    before any ``foreachBatch`` call).  Replay markers are keyed on it
    so a wiped/recreated checkpoint — whose batch ids restart at 0 —
    can never be mistaken for a replay of an old run's batch 0 (which
    would silently drop the new increment)."""
    import json as _json

    txt = "".join(
        r["value"] for r in spark.read.text(f"{checkpoint_path}/metadata").collect()
    )
    return str(_json.loads(txt)["id"])


def _overwrite_batch_partition(
    df: DataFrame, path: str, run_id: str, batch_id: int
) -> None:
    """Idempotent per-batch write: dynamic partition overwrite of ONLY
    this run's ``run_id=<query-id>/batch_id=<n>`` partition — a replayed
    batch rewrites the identical content instead of appending a
    duplicate copy.  ``run_id`` is the checkpoint generation's streaming
    query id: a wiped/recreated checkpoint restarts batch ids at 0, and
    without the run dimension its batch 0 would OVERWRITE (destroy) the
    old generation's batch 0 in both the output and the ledger."""
    (
        df.withColumn("run_id", F.lit(run_id))
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .write.partitionBy("run_id", "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )


def _ledger_query(
    stream: DataFrame, checkpoint_path: str, timeout_s: float, step
) -> None:
    """The one streaming driver of every ledger writer: run ``stream``
    to completion with ``availableNow``, calling ``step(batch, token,
    batch_id)`` per micro-batch with this checkpoint generation's
    :func:`_query_token`.  Waits ``timeout_s`` seconds (a float is
    honoured, not truncated) and stops a query still running after
    that, so a timed-out writer never leaves a query behind; the
    interrupted batch replays on the next call, and every ledger write
    is a per-batch partition overwrite, so the replay is exactly-once."""
    if not timeout_s > 0:
        raise ValueError(f"timeout_s must be positive, got {timeout_s}")

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        step(batch, _query_token(spark, checkpoint_path), batch_id)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:
            q.stop()


def _append_ledger(
    stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    timeout_s: float,
    partials,
) -> None:
    """Pure-partials ledger writer: each micro-batch's ``partials(batch)``
    lands as a dynamic overwrite of its ``run_id/batch_id`` partition.
    The partials are a pure function of the batch (no prior state is
    read), so a crash-replay rewrites identical content and no commit
    marker is needed."""
    _ledger_query(
        stream,
        checkpoint_path,
        timeout_s,
        lambda batch, token, batch_id: _overwrite_batch_partition(
            partials(batch), state_path, token, batch_id
        ),
    )


def _one_row_per(df: DataFrame, key_cols: list, order_col: str) -> DataFrame:
    """Collapse to exactly ONE row per ``key_cols``, fully
    deterministically: the surviving row minimizes ``(order_col,
    md5(to_json(all columns)))``.  Plain ``dropDuplicates`` picks an
    arbitrary row among ties that differ only in auxiliary columns, so
    a crash-replay could rewrite a batch partition with different
    auxiliary content than the first attempt; the row-hash tie-break
    makes replay content bit-stable.  One map-side-combinable aggregate
    (no join), so it is also cheaper than the semi-join + drop shape it
    replaces."""
    row = F.struct(*[F.col(c) for c in df.columns])
    tie = F.struct(F.col(order_col).alias("o"), F.md5(F.to_json(row)).alias("h"))
    return (
        df.groupBy(*key_cols)
        .agg(F.min_by(row, tie).alias("__row"))
        .select("__row.*")
    )


def _read_prior(spark: SparkSession, path: str, what: str) -> DataFrame | None:
    """The parquet ``what`` (ledger or output) already at ``path``, or
    None when the path does not exist yet (the first batch).  Only a
    MISSING path means "first batch": any other failure (corrupt files,
    bad schema, permissions) raises, because silently skipping the
    anti-join would re-admit every duplicate in history as if it were
    new.  An existing one must carry the ``run_id`` partition column
    (:func:`_require_run_id_layout`)."""
    from pyspark.errors import AnalysisException

    try:
        prior = spark.read.parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise
    _require_run_id_layout(prior, path, what)
    return prior


def _require_run_id_layout(
    ledger: DataFrame, path: str, what: str = "ledger"
) -> None:
    """Fail loudly on a ledger or output written by the pre-``run_id``
    layout (partitioned by ``batch_id`` only).  Proceeding would crash
    later with an opaque unresolved-column error — or worse, mix the two
    partition layouts under one root so the NEXT read fails partition
    discovery.  Migration: rewrite the old ledger/output once with a
    constant ``run_id`` directory (e.g. ``run_id=migrated``), or start
    fresh state/output paths; state_path and out_path must be migrated
    together."""
    if "run_id" not in ledger.columns:
        raise RuntimeError(
            f"{what} at {path} uses the old batch_id-only layout "
            "(no run_id partition column); rewrite it under a run_id= "
            "directory or point state_path/out_path at fresh locations"
        )


def _dedup_ledger(
    stream: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint_path: str,
    timeout_s: float,
    marker_schema: str,
    marker,
    admit,
) -> None:
    """Set-ledger writer shared by both dedup ledgers.  Per batch: skip
    it when this run's commit marker ``marker(token)`` (one row of
    ``marker_schema``, never equal to a real ledger key) is already in
    its ``run_id/batch_id`` partition; otherwise ``admit(batch, ledger)``
    returns ``(output rows, ledger key rows)`` against the prior ledger
    (None on the first batch).  Output FIRST, ledger keys plus the
    marker LAST, both as dynamic per-(run, batch) partition overwrites:
    a crash between them replays the batch, recomputes the identical
    survivors (the ledger still lacks this batch) and OVERWRITES the
    same partitions — never appending duplicates."""
    checked: list = []

    def step(batch: DataFrame, token: str, batch_id: int) -> None:
        spark = batch.sparkSession
        if not checked:
            _read_prior(spark, out_path, "output")
            checked.append(out_path)
        ledger = _read_prior(spark, state_path, "ledger")
        mark = spark.createDataFrame([marker(token)], marker_schema)
        if ledger is not None and (
            ledger.where(
                (F.col("run_id") == token) & (F.col("batch_id") == batch_id)
            )
            .join(mark, mark.columns, "left_semi")
            .limit(1)
            .count()
            > 0
        ):
            return  # this run already fully committed this batch
        out, keys = admit(batch, ledger)
        _overwrite_batch_partition(out, out_path, token, batch_id)
        _overwrite_batch_partition(
            keys.unionByName(mark), state_path, token, batch_id
        )

    _ledger_query(stream, checkpoint_path, timeout_s, step)


def incremental_exact_dedup(
    stream_docs: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_s: float = 300.0,
) -> None:
    """Continuously ingest a document stream, dropping exact duplicates
    both WITHIN each micro-batch and AGAINST everything already ingested
    — the standard crawl-increment pattern (each new dump is deduped
    against the accumulated corpus, not just itself).

    ``foreachBatch`` keeps the history as a parquet digest ledger at
    ``state_path`` (one ``(digest, run_id, batch_id)`` row per admitted
    doc, partitioned by run and batch).  Per batch: min-``id_col``
    representative per digest within the batch (ties on the id broken
    by a full-row hash, so the representative — auxiliary columns
    included — is deterministic under replay), then a left-anti join
    against the ledger (ALL runs — history survives checkpoint
    generations), then the survivors land in ``out_path`` and their
    digests in the ledger.  Exactly-once under any crash point: both
    writes are dynamic partition OVERWRITES of this run's
    ``run_id=<query-id>/batch_id=<n>`` partition (a replay rewrites the
    same partition with identical content, never appends twice), and a
    fully-committed batch is skipped via a marker row keyed on
    (run_id, batch_id).  The run id comes from the CHECKPOINT metadata,
    so a wiped/new checkpoint — whose batch ids restart at 0 — writes
    to fresh ``run_id=`` partitions and can neither be mistaken for a
    replay of an old run NOR destroy the old run's batch-0 output and
    ledger partitions.  Outputs carry ``run_id``/``batch_id`` partition
    columns.

    Scale shape: the anti-join is a shuffle equi-join on digest — the
    ledger is one slim row per distinct document ever admitted, far
    smaller than the corpus text, and AQE broadcasts the BATCH side when
    the increment is small.  No unbounded executor state: history lives
    in the parquet ledger, not the state store, so a year of increments
    costs the same per batch as day one.
    """

    def admit(batch: DataFrame, ledger: DataFrame | None) -> tuple:
        # One row per digest: min-id representative, ties (the same URL
        # crawled twice in one dump, or rows differing only in auxiliary
        # columns) broken by a full-row hash so a crash-replay rewrites
        # the batch partition with BIT-IDENTICAL content.
        fresh = _one_row_per(
            batch.withColumn("__digest", F.md5(F.col(text_col))),
            ["__digest"],
            id_col,
        )
        if ledger is not None:
            fresh = fresh.join(
                # marker digests can never equal a real md5, so they are
                # inert in the anti-join; digests from ALL runs reject —
                # history survives checkpoint generations
                ledger.select(F.col("digest").alias("__digest")),
                "__digest",
                "left_anti",
            )
        fresh = fresh.localCheckpoint(eager=True)  # stabilize before double write
        return fresh.drop("__digest"), fresh.select(
            F.col("__digest").alias("digest")
        )

    # Marker digest "run:<query-id>" — prefixed so it can never collide
    # with a real 32-hex md5; the query id is this CHECKPOINT's
    # persistent identity.
    _dedup_ledger(
        stream_docs, out_path, state_path, checkpoint_path, timeout_s,
        "digest string", lambda token: (f"run:{token}",), admit,
    )


def enrich(events: DataFrame, dim: DataFrame, on: str, broadcast_dim: bool = True) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to an
    event stream (user → account tier, product → category) — the
    standard streaming-ETL enrich stage.

    Works identically on a streaming or batch ``events`` frame (it is
    its own batch twin; the streaming parity test drains a real
    ``readStream`` through it).  Stream-static joins are STATELESS in
    Structured Streaming — no watermark, no state store — and the
    static side is re-scanned each micro-batch, so dimension updates
    are picked up live.  ``broadcast_dim`` (default) pins the hash join
    to a broadcast so the unbounded stream side never shuffles; turn it
    off only for dimension tables too large to replicate, which then
    need the storage layer (bucketing) to avoid a per-batch shuffle.

    Left join: events with no dimension row keep NULL attributes rather
    than silently dropping (the audit-friendly default).
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return events.join(d, on, "left")


def minhash_band_rows(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc LSH band buckets ``(doc_id, band, bucket)`` — the
    canonical bucket formula from :func:`plda_spark.operators.dedup.
    band_rows`, so the incremental ledger and the batch
    ``minhash_lsh_pairs`` audits can never drift apart."""
    from plda_spark.operators.dedup import band_rows, minhash_signatures, shingles

    sig = minhash_signatures(shingles(docs, n, text_col, id_col), num_hashes)
    return band_rows(sig, num_hashes, bands)


def incremental_minhash_dedup(
    stream_docs: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_s: float = 300.0,
) -> None:
    """NEAR-duplicate twin of :func:`incremental_exact_dedup`:
    continuously ingest documents, dropping any doc whose MinHash-LSH
    band bucket collides with an already-admitted doc — within the
    micro-batch (a doc sharing a bucket with a smaller-``id_col`` batch
    doc is dropped) or against the accumulated parquet bucket ledger.

    This is the crawl-scale approximate gate (bucket collision ⇒ assumed
    near-dup, no verification pass): false positives at the LSH
    collision rate are the accepted trade for never re-scanning or
    re-shingling history.  Tune ``bands``/``num_hashes`` for the
    precision/recall point; use the batch ``minhash_lsh_pairs`` +
    verification for audits.

    Ledger rows are ``(band, bucket, run_id, batch_id)`` per admitted
    doc — slim, partitioned by run and batch; exactly-once uses the same
    recipe as the exact ledger (per-(run, batch) dynamic partition
    overwrites + a ``band = -1`` marker row whose bucket is this
    checkpoint's streaming-query id — a wiped/new checkpoint writes to
    fresh ``run_id=`` partitions instead of destroying the old
    generation's).  Outputs carry ``run_id``/``batch_id`` partition
    columns.  Scale shape per batch: shingle+sign the INCREMENT only,
    one left-anti equi-join on ``(band, bucket)`` against the ledger
    (AQE broadcasts the increment side), two partition writes.  No
    state store, no unbounded executor state.
    """

    def admit(batch: DataFrame, ledger: DataFrame | None) -> tuple:
        bb = minhash_band_rows(batch, num_hashes, bands, n, text_col, id_col)
        # Within-batch rule: drop any doc sharing a bucket with a
        # smaller-id doc (deterministic, partition-invariant; stricter
        # than sequential greedy admission on collision chains).
        bucket_min = bb.groupBy("band", "bucket").agg(
            F.min("doc_id").alias("__min_id")
        )
        losers = (
            bb.join(bucket_min, ["band", "bucket"])
            .where(F.col("doc_id") > F.col("__min_id"))
            .select("doc_id")
            .distinct()
        )
        if ledger is not None:
            hit = bb.join(
                # marker rows (band = -1) can never match bb (bands >= 0)
                ledger.select("band", "bucket").dropDuplicates(),
                ["band", "bucket"],
                "left_semi",
            ).select("doc_id").distinct()
            losers = losers.union(hit).distinct()
        admitted_ids = (
            bb.select("doc_id").distinct().join(losers, "doc_id", "left_anti")
        )
        # Docs with no shingles (too short) have no buckets: admit them
        # (nothing to collide on), like the exact ledger admits uniques.
        no_sh = batch.select(F.col(id_col).alias("doc_id")).join(
            bb.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        keep = admitted_ids.union(no_sh).localCheckpoint(eager=True)
        fresh = _one_row_per(
            # the semi-join admits every row carrying an admitted id —
            # the same id twice in one dump would land twice; collapse
            # to one row per id, row-hash tie-broken so replays rewrite
            # bit-identical content (same rationale as the exact ledger)
            batch.join(
                keep.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
            ),
            [id_col],
            id_col,
        ).localCheckpoint(eager=True)
        return fresh, bb.join(keep, "doc_id", "left_semi").select(
            "band", "bucket"
        )

    # The marker row (band = -1, bucket = query id) doubles as the
    # commit record AND covers batches whose admitted docs are all
    # bucketless (which write zero bucket rows).
    _dedup_ledger(
        stream_docs, out_path, state_path, checkpoint_path, timeout_s,
        "band int, bucket string", lambda token: (-1, token), admit,
    )


def compact_dedup_ledger(
    spark: SparkSession, state_path: str, out_path: str
) -> dict:
    """Compact an incremental-dedup ledger (exact or MinHash — schema is
    sniffed) that has accreted one ``run_id=…/batch_id=…`` partition per
    micro-batch: after months of increments the per-batch anti-join pays
    listing + footer cost for thousands of tiny partitions that each
    hold a handful of digest rows.

    All REAL rows (digests / band-buckets) rewrite into a single
    ``run_id=compacted/batch_id=0`` partition — the anti-join semantics
    only need the SET of historical keys, not their batch lineage —
    while every COMMIT-MARKER row keeps its original ``(run_id,
    batch_id)`` partition untouched, because replay detection looks
    markers up under the live checkpoint's own run id (a streaming
    query id is a UUID, so the literal ``compacted`` run id can never
    collide with one).  Rewrites to ``out_path`` and refuses in-place
    (same rationale as :func:`plda_spark.sources.compact.
    compact_parquet`); swap paths after the report comes back clean.
    Returns ``{real_rows, marker_rows, runs_before}``.
    """
    if state_path.rstrip("/") == out_path.rstrip("/"):
        raise ValueError(
            "compact_dedup_ledger refuses in-place compaction; write to "
            "a sibling path and swap afterwards"
        )
    ledger = spark.read.parquet(state_path)
    _require_run_id_layout(ledger, state_path)
    if "digest" in ledger.columns:
        is_marker = F.col("digest").startswith("run:")
    elif "band" in ledger.columns:
        is_marker = F.col("band") == -1
    else:
        raise ValueError(
            f"ledger at {state_path} has neither a digest nor a band "
            "column — not an incremental-dedup ledger"
        )
    runs_before = ledger.select("run_id").distinct().count()
    markers = ledger.where(is_marker)
    reals = (
        ledger.where(~is_marker)
        .drop("run_id", "batch_id")
        .dropDuplicates()
        .withColumn("run_id", F.lit("compacted"))
        .withColumn("batch_id", F.lit(0).cast("long"))
    )
    out = reals.unionByName(markers)
    out.write.partitionBy("run_id", "batch_id").mode("overwrite").parquet(
        out_path
    )
    compacted = spark.read.parquet(out_path)
    n_markers = compacted.where(is_marker).count()
    return {
        "real_rows": compacted.count() - n_markers,
        "marker_rows": n_markers,
        "runs_before": runs_before,
    }


def incremental_decayed_counts(
    stream_events: DataFrame,
    state_path: str,
    checkpoint_path: str,
    key_cols: list[str],
    ts_col: str = "ts",
    half_life_days: float = 7.0,
    epoch: str = "2024-01-01 00:00:00",
    timeout_s: float = 300.0,
    value_col: str | None = None,
) -> None:
    """Continuously maintain exponentially TIME-DECAYED per-key counts
    (the streaming twin of ``operators/stats.py decayed_counts``)
    without ever rescaling stored state.

    The trick that makes the ledger APPEND-ONLY: store each event's
    mass RELATIVE to a fixed ``epoch`` — ``2^((t - epoch)/h)`` — so
    per-key masses are plain additive sums; the decayed value at any
    reference instant T is just ``mass · 2^(-(T - epoch)/h)``, applied
    once at READ time (:func:`decayed_counts_from_ledger`).  A naive
    "decayed state" ledger would need every key rescaled every batch —
    a full-state rewrite per micro-batch; this one appends one slim
    aggregate row per (key, batch).

    Exactly-once: each batch's per-key partials land as a dynamic
    OVERWRITE of this run's ``run_id=<query-id>/batch_id=<n>``
    partition.  The batch aggregate is a pure function of the batch
    (unlike the dedup ledgers, it never reads prior state), so a
    crash-replay rewrites the same partition with identical content —
    no commit marker needed.

    Numeric headroom: exponents grow as (t - epoch)/h — at h=7 days,
    a decade of stream is 2^521 and overflows; re-base the ledger to a
    newer epoch (multiply masses by 2^(-Δ/h), rewrite) every few years
    of stream time, the same maintenance cadence as ledger compaction.

    Scale shape: one map-side-combined aggregation per micro-batch,
    |keys-in-batch| rows appended; reads touch the ledger only.

    ``value_col`` additionally accumulates the value-weighted mass
    ``Σ 2^((t-epoch)/h) · x`` per key (``rel_mass_x``), giving the fold
    the decayed SUM and decayed MEAN of a measure (the mean is
    scale-free — the epoch factor cancels in the ratio — so ledgers
    never need to agree on "now" to agree on the mean).
    """
    if half_life_days <= 0:
        raise ValueError("half_life_days must be positive")
    rel_days = (
        epoch_secs(F.col(ts_col)) - epoch_secs(F.lit(epoch).cast("timestamp"))
    ) / F.lit(86400.0)
    w = F.pow(F.lit(2.0), rel_days / F.lit(half_life_days))
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(w).alias("rel_mass"),
        F.max(F.col(ts_col)).alias("max_ts"),
    ]
    if value_col is not None:
        aggs.append(
            F.sum(w * F.col(value_col).cast("double")).alias("rel_mass_x")
        )
    _append_ledger(
        stream_events, state_path, checkpoint_path, timeout_s,
        lambda batch: batch.groupBy(*[F.col(c) for c in key_cols]).agg(*aggs),
    )


def _single_generation(
    spark: SparkSession, state_path: str, run_id: str | None
) -> DataFrame:
    """Load an ADDITIVE ledger restricted to one checkpoint generation.
    Multiple generations + no explicit ``run_id`` is an error: each
    generation re-covered the input, so folding them together double-
    counts (loud failure beats a silently doubled metric).  The guard
    scans the ``run_id`` column only; the returned frame re-reads the
    ledger when the caller acts on it, so it sees the ledger as it is
    then, and persists nothing."""
    ledger = spark.read.parquet(state_path)
    if run_id is not None:
        return ledger.where(F.col("run_id") == run_id)
    runs = [r["run_id"] for r in ledger.select("run_id").distinct().collect()]
    if len(runs) > 1:
        raise ValueError(
            f"ledger at {state_path} holds {len(runs)} checkpoint "
            f"generations {sorted(runs)}; each re-covered the input, so an "
            "additive fold across them double-counts — pass run_id=... to "
            "pick one, or vacuum the stale generation"
        )
    return ledger


def _ledger_rollup(
    spark: SparkSession,
    state_path: str,
    run_id: str | None,
    *batch_ranges,
    col: str = "bin_counts",
) -> tuple:
    """One generation of a sketch ledger as a day-keyed rollup, so the
    ``operators/stats.py`` range readers fold it verbatim: returns
    ``(rollup, *ranges)`` where ``rollup`` is ``(day, col)`` with the
    batch id zero-padded to 10 digits as ``day`` (string order ==
    numeric order) and each inclusive ``(lo, hi)`` batch-id range is
    padded the same way."""
    rollup = _single_generation(spark, state_path, run_id).select(
        F.lpad(F.col("batch_id").cast("string"), 10, "0").alias("day"), col
    )
    return (rollup,) + tuple(
        (str(int(lo)).zfill(10), str(int(hi)).zfill(10))
        for lo, hi in batch_ranges
    )


def decayed_counts_from_ledger(
    spark: SparkSession,
    state_path: str,
    key_cols: list[str],
    half_life_days: float = 7.0,
    epoch: str = "2024-01-01 00:00:00",
    ref_ts=None,
    run_id_filter: str | None = None,
) -> DataFrame:
    """Fold the :func:`incremental_decayed_counts` ledger into current
    ``(key..., n_events, decayed_count)`` values: sum the per-batch
    partials per key, then apply the single epoch-relative scale at
    ``ref_ts`` (default: the newest event the ledger has seen).
    Touches only the ledger — one slim row per (key, batch), compacted
    like the dedup ledgers when batch count grows.

    ``run_id`` selects one checkpoint GENERATION.  A wiped/recreated
    checkpoint re-reads the whole input under a new query id, so a
    ledger holding two generations covers the same events twice — the
    dedup ledgers survive that via set semantics, but an ADDITIVE fold
    would double-count, so with multiple generations present and no
    ``run_id`` this raises instead of silently doubling."""
    ledger = _single_generation(spark, state_path, run_id_filter)
    if ref_ts is None:
        # the ledger is |keys|x|batches| rows — derive the reference
        # instant as a broadcast 1-row aggregate rather than a global
        # window (which would funnel the whole ledger through one task)
        src = ledger.crossJoin(
            F.broadcast(ledger.agg(F.max("max_ts").alias("__ref")))
        )
    else:
        src = ledger.withColumn("__ref", F.lit(ref_ts).cast("timestamp"))
    ref = F.col("__ref")
    scale = F.pow(
        F.lit(2.0),
        -(epoch_secs(ref) - epoch_secs(F.lit(epoch).cast("timestamp")))
        / F.lit(86400.0)
        / F.lit(half_life_days),
    )
    aggs = [
        F.sum("n_events").alias("n_events"),
        F.round(F.sum(F.col("rel_mass") * F.col("__scale")), 4).alias(
            "decayed_count"
        ),
    ]
    if "rel_mass_x" in ledger.columns:
        aggs += [
            F.round(
                F.sum(F.col("rel_mass_x") * F.col("__scale")), 4
            ).alias("decayed_sum"),
            F.round(
                F.sum(F.col("rel_mass_x") * F.col("__scale"))
                / F.sum(F.col("rel_mass") * F.col("__scale")),
                4,
            ).alias("decayed_mean"),
        ]
    return (
        src.withColumn("__scale", scale)
        .groupBy(*[F.col(c) for c in key_cols])
        .agg(*aggs)
    )


def incremental_hist_ledger(
    stream_events: DataFrame,
    state_path: str,
    checkpoint_path: str,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    timeout_s: float = 300.0,
) -> None:
    """Continuously maintain a mergeable HISTOGRAM ledger over a value
    stream — the streaming twin of ``operators/stats.py
    hist_daily_sketches``, and the input to
    :func:`hist_ks_from_ledger`'s drift alerts ("has the score
    distribution of the last N micro-batches shifted vs the reference
    window?" without ever re-reading the stream).

    Each micro-batch appends ONE row ``(bin_counts: array<long>)`` for
    its own data — a pure function of the batch, so the dynamic
    ``run_id/batch_id`` partition overwrite makes crash-replays rewrite
    identical bytes (the decayed-ledger exactly-once contract, no
    markers needed).  Histogram merging is lossless, so any batch-range
    fold equals binning those batches in one pass.

    Scale shape: one map-side-combined (bin) aggregation per batch,
    ``nbins`` longs appended; drift probes touch only the ledger."""
    from plda_spark.operators.stats import _dense_array, _hist_cells

    cells = _hist_cells(value_col, lo, hi, nbins)
    _append_ledger(
        stream_events, state_path, checkpoint_path, timeout_s,
        lambda batch: cells(batch, F.lit("0")).agg(
            _dense_array("bin", "n", nbins).alias("bin_counts")
        ),
    )


def hist_ks_from_ledger(
    spark: SparkSession,
    state_path: str,
    batches_a,
    batches_b,
    run_id_filter: str | None = None,
) -> DataFrame:
    """KS drift statistic between two BATCH-ID ranges of the
    :func:`incremental_hist_ledger` — the streaming drift alert: fold
    each range's per-batch histograms (lossless), then delegate to the
    same binned-ECDF + asymptotic-p arithmetic as
    ``operators/stats.py hist_ks_ranges``.  ``batches_a``/``batches_b``
    are inclusive ``(lo, hi)`` batch-id tuples.  Touches only the
    ledger: |batches| rows of nbins longs.  Same single-generation
    contract as :func:`decayed_counts_from_ledger` — batch ids are only
    meaningful within one checkpoint generation."""
    from plda_spark.operators.stats import hist_ks_ranges

    return hist_ks_ranges(
        *_ledger_rollup(spark, state_path, run_id_filter, batches_a, batches_b)
    )


def hist_psi_from_ledger(
    spark: SparkSession,
    state_path: str,
    batches_a,
    batches_b,
    run_id_filter: str | None = None,
    min_share: float = 1e-4,
) -> DataFrame:
    """PSI between two BATCH-ID ranges of the
    :func:`incremental_hist_ledger` — the drift-MAGNITUDE alert next
    to :func:`hist_ks_from_ledger`'s significance, delegating to
    ``operators/stats.py hist_psi_ranges`` over the identical batch-id
    fold.  Touches only the ledger; same single-generation
    contract."""
    from plda_spark.operators.stats import hist_psi_ranges

    return hist_psi_ranges(
        *_ledger_rollup(spark, state_path, run_id_filter, batches_a, batches_b),
        min_share=min_share,
    )


def ab_ledger_partials(
    events: DataFrame,
    user_col: str = "user_id",
    success_col: str = "converted",
) -> DataFrame:
    """Per-user conversion partial of ONE micro-batch — the shared
    aggregation of :func:`incremental_ab_ledger` and any batch
    backfill: ``(user, converted=max(success), n_events)``."""
    return events.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.col(success_col).cast("int")).alias("converted"),
        F.count(F.lit(1)).alias("n_events"),
    )


def incremental_ab_ledger(
    stream_events: DataFrame,
    state_path: str,
    checkpoint_path: str,
    user_col: str = "user_id",
    success_col: str = "converted",
    timeout_s: float = 300.0,
) -> None:
    """Continuously maintain the per-user conversion ledger an A/B
    readout needs (the streaming twin of the ``events_abtest`` batch
    pipeline): each micro-batch appends its per-user partials; the
    experiment verdict is computed at READ time by
    :func:`abtest_from_ledger`.

    The ledger has SET semantics, not additive semantics: the readout
    folds ``max(converted)`` per user, which is idempotent — a user
    re-touched in ten batches, a crash-replayed batch, even a wiped
    checkpoint re-covering the whole input under a new run_id cannot
    double-count anyone (the dedup-ledger property; contrast the
    additive decayed-counts ledger, which must guard generations).
    Exactly-once still matters for ledger SIZE, so each batch lands as
    a dynamic overwrite of its ``run_id/batch_id`` partition like
    every other ledger here.

    ``success_col`` must be a 0/1 (or boolean) per-event flag the
    caller precomputes — the binomial-unit contract lives in the
    readout, where users dedup.

    Scale shape: one map-side-combined per-user aggregation per
    micro-batch; |users-in-batch| slim rows appended; reads touch only
    the ledger.  Compact with the same cadence as the dedup ledgers
    when batch count grows."""
    _append_ledger(
        stream_events, state_path, checkpoint_path, timeout_s,
        lambda batch: ab_ledger_partials(batch, user_col, success_col),
    )


def abtest_from_ledger(
    spark: SparkSession,
    state_path: str,
    variant_a: str = "A",
    variant_b: str = "B",
    buckets: int = 2,
    run_id_filter: str | None = None,
) -> DataFrame:
    """Fold the :func:`incremental_ab_ledger` into the live experiment
    verdict: per-user ``max(converted)`` across every batch (set
    semantics — see the writer's docstring for why generations are
    harmless here), deterministic md5 variant assignment
    (:func:`~plda_spark.operators.sampling.hash_bucket` — the
    assignment is a pure function of the user id, so the ledger never
    stores it), then the pooled-SE two-proportion z-test + Wald CI
    (:func:`~plda_spark.operators.stats.two_proportion_ztest`).

    One ledger aggregation + one conditional aggregation — the raw
    event stream is never re-read."""
    from plda_spark.operators.stats import two_proportion_ztest

    return two_proportion_ztest(
        _ab_users(spark, state_path, variant_a, variant_b, buckets, run_id_filter),
        "variant", "converted", variant_a, variant_b,
    )


def _ab_users(
    spark: SparkSession,
    state_path: str,
    variant_a: str,
    variant_b: str,
    buckets: int,
    run_id_filter: str | None,
) -> DataFrame:
    """The one read of the :func:`incremental_ab_ledger` behind every
    A/B readout: per-user ``(variant, converted)`` rows.  Reads the
    ledger (one ``run_id`` when given), folds each user's
    ``max(converted)`` across batches (set semantics) and assigns
    ``hash_bucket(user, buckets) == 0`` to ``variant_a``, the rest to
    ``variant_b``.  ``buckets < 2`` would put every user in A, so it
    raises before any read."""
    from plda_spark.operators.sampling import hash_bucket

    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    ledger = spark.read.parquet(state_path)
    if run_id_filter is not None:
        ledger = ledger.where(F.col("run_id") == run_id_filter)
    return (
        ledger.groupBy("user")
        .agg(F.max("converted").alias("converted"))
        .select(
            F.when(hash_bucket(F.col("user"), buckets) == 0, variant_a)
            .otherwise(variant_b)
            .alias("variant"),
            "converted",
        )
    )


def srm_from_ledger(
    spark: SparkSession,
    state_path: str,
    buckets: int = 2,
    variant_a: str = "A",
    variant_b: str = "B",
    alpha: float = 0.001,
    run_id_filter: str | None = None,
) -> DataFrame:
    """Streaming sample-ratio-mismatch guardrail over the SAME
    :func:`incremental_ab_ledger` state the A/B verdict reads: fold
    the ledger to per-user rows (set semantics), md5-assign variants
    with the identical pure-function assignment
    (:func:`~plda_spark.operators.sampling.hash_bucket`), and run
    :func:`~plda_spark.operators.stats.ab_srm_check` against the
    designed uniform split — the health check that should gate every
    :func:`abtest_from_ledger` readout, because a biased or
    partially-logged assignment biases the verdict silently.  On a
    healthy md5 assignment this PASSES by construction; what it
    catches is ingest bugs — a wave that dropped one arm's users, a
    run_id filter that split generations unevenly.

    One ledger aggregation + one variant-keyed count — the raw event
    stream is never re-read."""
    from plda_spark.operators.stats import ab_srm_check

    # the designed split under hash_bucket(user, buckets) == 0 -> A is
    # P(A) = 1/buckets, NOT 50/50 — expected weights must mirror the
    # assignment or the guardrail fires on perfectly healthy data for
    # any buckets != 2
    return ab_srm_check(
        _ab_users(spark, state_path, variant_a, variant_b, buckets, run_id_filter),
        "variant",
        {variant_a: 1.0, variant_b: float(buckets - 1)},
        alpha=alpha,
    )


def bayes_from_ledger(
    spark: SparkSession,
    state_path: str,
    variant_a: str = "A",
    variant_b: str = "B",
    buckets: int = 2,
    prior_alpha: float = 1.0,
    prior_beta: float = 1.0,
    run_id_filter: str | None = None,
) -> DataFrame:
    """The Bayesian live verdict over the SAME
    :func:`incremental_ab_ledger` state :func:`abtest_from_ledger`
    reads: per-user ``max(converted)`` fold (set semantics),
    deterministic md5 variant assignment, then the Beta-Binomial
    posterior P(B beats A)
    (:func:`~plda_spark.operators.stats.bayes_ab_beta`).  Because the
    posterior probability — unlike the fixed-horizon z-test p-value —
    carries no stopping-rule fine print, this is the readout a
    continuously-refreshed dashboard can show between batches without
    the peeking caveat the z verdict needs (pair with
    :func:`srm_from_ledger` as the health gate either way).

    One ledger aggregation + one conditional aggregation — the raw
    event stream is never re-read."""
    from plda_spark.operators.stats import bayes_ab_beta

    return bayes_ab_beta(
        _ab_users(spark, state_path, variant_a, variant_b, buckets, run_id_filter),
        "variant", "converted", variant_a, variant_b,
        prior_alpha=prior_alpha, prior_beta=prior_beta,
    )


def incremental_daily_moments(
    stream_events: DataFrame,
    state_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    value_col: str = "value",
    timeout_s: float = 300.0,
) -> None:
    """Continuously maintain a mergeable DAILY-MOMENTS ledger over a
    value stream — per micro-batch, one slim row per touched day
    ``(d, s1, n)`` (sum and count of ``value_col``) — the input
    :func:`page_hinkley_from_ledger` folds into the live drift
    monitor without ever re-reading the stream.  Moments are additive
    across batches (a day split over ten micro-batches sums exactly),
    so this is the ADDITIVE-ledger family: each batch's rows are a
    pure function of the batch and land as a dynamic overwrite of the
    ``run_id/batch_id`` partition (crash replays rewrite identical
    bytes), and readers must stay within ONE checkpoint generation
    (:func:`_single_generation`) exactly like the decayed-counts
    ledger.

    Scale shape: one map-side-combined per-day aggregation per
    micro-batch; |days-in-batch| slim rows appended; reads touch only
    the ledger."""
    x = F.col(value_col).cast("double")
    _append_ledger(
        stream_events, state_path, checkpoint_path, timeout_s,
        lambda batch: batch.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("d"))
        .agg(F.sum(x).alias("s1"), F.count(F.lit(1)).alias("n")),
    )


def page_hinkley_from_ledger(
    spark: SparkSession,
    state_path: str,
    delta: float = 0.005,
    lam: float = 0.5,
    run_id_filter: str | None = None,
) -> DataFrame:
    """Streaming Page-Hinkley drift monitor over the
    :func:`incremental_daily_moments` ledger — the canonical "did this
    metric drift upward and stay there?" alarm
    (``operators/stats.py page_hinkley``, Page 1954 / Gama et al.
    2004) computed live from ledger rows instead of a corpus rescan:
    fold the per-batch day moments to the daily mean
    ``x = Σs1 / Σn`` (exact — moments are additive), then run the
    IDENTICAL window arithmetic via
    :func:`~plda_spark.operators.stats.page_hinkley_over_daily` (the
    same shared-arithmetic parity contract as the KS/PSI ledger
    twins).

    One ledger aggregation (|days| rows) + four ordered windows over
    that rollup — the raw event stream is never re-read.  Same
    single-generation contract as :func:`decayed_counts_from_ledger`."""
    from plda_spark.operators.stats import page_hinkley_over_daily

    ledger = _single_generation(spark, state_path, run_id_filter)
    daily = ledger.groupBy("d").agg(
        (F.sum("s1") / F.sum("n").cast("double")).alias("x")
    )
    return page_hinkley_over_daily(daily, delta=delta, lam=lam)


def hist_cvm_from_ledger(
    spark: SparkSession,
    state_path: str,
    batches_a,
    batches_b,
    run_id_filter: str | None = None,
) -> DataFrame:
    """Cramér-von Mises drift between two BATCH-ID ranges of the
    :func:`incremental_hist_ledger` — completing the ledger drift
    triple next to :func:`hist_ks_from_ledger` (largest gap) and
    :func:`hist_psi_from_ledger` (magnitude): the integrated squared
    ECDF gap, delegating to ``operators/stats.py hist_cvm_ranges``
    over the identical batch-id fold.  Touches only the ledger; same
    single-generation contract."""
    from plda_spark.operators.stats import hist_cvm_ranges

    return hist_cvm_ranges(
        *_ledger_rollup(spark, state_path, run_id_filter, batches_a, batches_b)
    )


def hist_ad_from_ledger(
    spark: SparkSession,
    state_path: str,
    batches_a,
    batches_b,
    run_id_filter: str | None = None,
) -> DataFrame:
    """Anderson-Darling drift between two BATCH-ID ranges of the
    :func:`incremental_hist_ledger` — the TAIL-WEIGHTED member of the
    ledger drift family next to :func:`hist_ks_from_ledger` (largest
    gap), :func:`hist_cvm_from_ledger` (integrated gap), and
    :func:`hist_psi_from_ledger` (magnitude): delegates to
    ``operators/stats.py hist_ad_ranges`` over the identical batch-id
    fold, so a p99-only latency regression alerts even when the bulk
    of the distribution is unmoved.  Touches only the ledger; same
    single-generation contract."""
    from plda_spark.operators.stats import hist_ad_ranges

    return hist_ad_ranges(
        *_ledger_rollup(spark, state_path, run_id_filter, batches_a, batches_b)
    )


def incremental_qdigest_ledger(
    stream_events: DataFrame,
    state_path: str,
    checkpoint_path: str,
    value_col: str,
    lo: float,
    hi: float,
    depth: int = 12,
    k: int = 64,
    timeout_s: float = 300.0,
) -> None:
    """Continuously maintain a mergeable Q-DIGEST ledger over a value
    stream — the RANK-sketch twin of :func:`incremental_hist_ledger`
    (``operators/stats.py qdigest_daily_sketches``): where the
    histogram ledger's quantile error is one fixed bin width, the
    q-digest adapts resolution to the mass and carries the proven
    ``depth·n/k`` rank bound with a row bounded by ~3k nodes.

    Each micro-batch appends ONE row ``(nodes: array<struct<id long,
    cnt long>>, n long)`` — the batch's own digest, a DETERMINISTIC
    pure function of the batch multiset (no sampling — the reason
    q-digest was chosen over KLL/t-digest), so the dynamic
    ``run_id/batch_id`` partition overwrite makes crash-replays
    rewrite identical bytes: the exactly-once ledger contract with no
    markers.  Merging is count addition, so any batch-range fold's
    rank error is the sum of the folded digests' bounds.

    Scale shape: one map-side-combined (leaf) aggregation per batch +
    ``depth`` rollup-frame compression rounds; probes touch only the
    ledger."""
    from plda_spark.operators.stats import _qdigest_cells, _qdigest_nodes

    cells = _qdigest_cells(value_col, lo, hi, depth, k)
    _append_ledger(
        stream_events, state_path, checkpoint_path, timeout_s,
        lambda batch: cells(batch, F.lit("0")).agg(*_qdigest_nodes()),
    )


def qdigest_quantiles_from_ledger(
    spark: SparkSession,
    state_path: str,
    batches,
    qs: list,
    lo: float,
    hi: float,
    depth: int = 12,
    run_id_filter: str | None = None,
) -> DataFrame:
    """Quantile estimates over an inclusive BATCH-ID range of the
    :func:`incremental_qdigest_ledger` — delegate to
    ``operators/stats.py qdigest_quantile_range`` over the batch-id
    fold (batch ids stand in for days, zero-padded so string order ==
    numeric order).  Touches only the ledger; same single-generation
    contract as the other ledgers."""
    from plda_spark.operators.stats import qdigest_quantile_range

    rollup, (first, last) = _ledger_rollup(
        spark, state_path, run_id_filter, batches, col="nodes"
    )
    return qdigest_quantile_range(
        rollup, qs, lo, hi, depth=depth, start_day=first, end_day=last
    )
