"""Event-time operators for event streams (extension stratum — the
reference has no event-time semantics, SURVEY.md §2 scope fence; these are
the Structured Streaming capabilities a training-data pipeline needs on
top: windowed aggregation with late-data handling, and gap sessionization).

Batch and streaming share one definition: the batch form is the oracle for
the streaming form (same groupBy(window(...)) expression tree), so tests
can assert stream≡batch on a drained feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from couch_to_postgres_spark.session import event_timestamp


def with_event_time(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """timestamp-like ts (native timestamp or ns-long) → proper event-time
    column (type-adaptive, see session.event_timestamp)."""
    return events.withColumn("event_time", event_timestamp(events, ts_col))


def windowed_type_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts per event type. With ``watermark`` set (on a
    streaming DataFrame) late rows beyond the bound are dropped and window
    state is reclaimed — the knob that keeps unbounded streams at bounded
    state. Works identically on batch DataFrames (watermark is a no-op
    there), which is how tests oracle it."""
    df = with_event_time(events, ts_col)
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(F.window("event_time", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def interval_join(
    events: DataFrame,
    horizon_minutes: int = 60,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Click→purchase interval join: pair each click with the same user's
    purchases landing within ``[click, click + horizon]``. One definition
    for batch and streams (the batch form is the oracle).

    On a streaming input this is a genuine STREAM-STREAM join: both sides
    get watermarks and the join condition ranges over the watermarked
    event-time columns, which is exactly what lets Spark expire buffered
    join state past ``click_time + horizon + watermark`` — bounded state on
    unbounded streams. Without the event-time range the state would grow
    forever. The gap is computed on ``unix_micros`` of the (µs-truncated)
    event times so it matches an oracle that subtracts ``epoch_us`` values.
    """
    df = with_event_time(events, ts_col)
    clicks = df.filter(F.col("event_type") == "click").select(
        F.col(key_col).alias("_ck"),
        F.col("event_id").alias("click_id"),
        F.col("event_time").alias("click_time"),
    )
    purchases = df.filter(F.col("event_type") == "purchase").select(
        F.col(key_col).alias("_pk"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_time").alias("purchase_time"),
    )
    if df.isStreaming:
        clicks = clicks.withWatermark("click_time", watermark)
        purchases = purchases.withWatermark("purchase_time", watermark)
    cond = (
        (F.col("_ck") == F.col("_pk"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (
            F.col("purchase_time")
            <= F.col("click_time") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return clicks.join(purchases, cond).select(
        F.col("_ck").alias(key_col),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_time") - F.unix_micros("click_time")).alias(
            "gap_us"
        ),
    )


def session_rollup_native(
    events: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Gap sessionization via Spark's built-in ``session_window`` — the
    idiomatic engine-native path. One definition for batch and streams;
    on a stream the watermark finalizes and evicts closed sessions, so
    state is bounded by the active-session set, not history.

    Boundary semantics: touching windows MERGE — an inter-event gap
    exactly equal to ``gap`` stays one session, so a NEW session needs a
    strictly greater gap. Identical to ``sessionize_batch``'s ``>`` walk
    (pinned in test_event_time).
    """
    df = with_event_time(events, ts_col)
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("event_time", watermark)
    return (
        df.groupBy(
            F.col(key_col),
            F.session_window("event_time", f"{gap_minutes} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("event_time")).alias("session_start_us"),
            F.unix_micros(F.max("event_time")).alias("session_end_us"),
        )
        .select(
            key_col, "n_events", "session_start_us", "session_end_us"
        )
    )


def sessionize_batch(
    events: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization, batch form: a new session starts when the
    gap to the previous event of the same key exceeds ``gap_minutes``.
    Classic lag + running-sum window pipeline — one shuffle on the key,
    then two window passes over the same partitioning (Spark reuses the
    sort). Returns per-session rollups."""
    from pyspark.sql import Window

    from couch_to_postgres_spark.session import ts_micros

    events = events.withColumn("_ts_us", ts_micros(events, ts_col))
    w = Window.partitionBy(key_col).orderBy("_ts_us")
    gap_us = gap_minutes * 60 * 1_000_000
    marked = events.withColumn(
        "new_session",
        (
            F.col("_ts_us") - F.lag("_ts_us").over(w) > F.lit(gap_us)
        ).cast("int"),
    ).withColumn(
        "session_no",
        F.sum(F.coalesce(F.col("new_session"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return marked.groupBy(key_col, "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("_ts_us").alias("session_start_us"),
        F.max("_ts_us").alias("session_end_us"),
    )

def sessionize_batch_skew_safe(
    events: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
    bucket_minutes: int | None = None,
) -> DataFrame:
    """:func:`sessionize_batch` for skewed keys — EXACTLY the same output,
    different physical plan.

    The plain form partitions the window by ``key_col``; one hot key (a
    bot producing 1% of a 100 TB event stream) funnels all its events
    into a single task. This variant chunks time into coarse buckets
    (``bucket_minutes``, default 16x the gap) and sessionizes per
    (key, bucket) — a hot key spanning T minutes now spreads across
    T/bucket_minutes tasks — then merges sessions that straddle a bucket
    boundary with the same gap rule, operating on SESSION rows (orders of
    magnitude fewer than events, so the per-key sequential merge stage is
    session-count-bounded, not event-count-bounded).

    Exactness argument: global sessionization breaks exactly at gaps >
    threshold. Bucketing preserves every within-bucket adjacency; the
    only adjacencies it severs are across bucket boundaries, and the
    merge stage re-evaluates precisely those with the same rule (two
    adjacent chunk-sessions of one key merge iff the boundary gap <=
    threshold). Pinned against the plain form by a planted-hot-key test.
    """
    from pyspark.sql import Window

    from couch_to_postgres_spark.session import ts_micros

    if bucket_minutes is None:
        bucket_minutes = gap_minutes * 16
    gap_us = gap_minutes * 60 * 1_000_000
    bucket_us = bucket_minutes * 60 * 1_000_000
    ev = events.withColumn("_ts_us", ts_micros(events, ts_col)).withColumn(
        "_bucket", (F.col("_ts_us") - F.col("_ts_us") % F.lit(bucket_us))
    )
    w = Window.partitionBy(key_col, "_bucket").orderBy("_ts_us")
    marked = ev.withColumn(
        "new_session",
        (
            F.col("_ts_us") - F.lag("_ts_us").over(w) > F.lit(gap_us)
        ).cast("int"),
    ).withColumn(
        "chunk_session",
        F.sum(F.coalesce(F.col("new_session"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    chunk_sessions = marked.groupBy(key_col, "_bucket", "chunk_session").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("_ts_us").alias("session_start_us"),
        F.max("_ts_us").alias("session_end_us"),
    )
    # boundary merge over session rows: same lag+running-sum shape, but
    # the partition carries one row per chunk-session, not per event
    ws = Window.partitionBy(key_col).orderBy("session_start_us")
    merged = chunk_sessions.withColumn(
        "new_chain",
        (
            F.col("session_start_us") - F.lag("session_end_us").over(ws)
            > F.lit(gap_us)
        ).cast("int"),
    ).withColumn(
        "session_no",
        F.sum(F.coalesce(F.col("new_chain"), F.lit(1))).over(
            ws.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return merged.groupBy(key_col, "session_no").agg(
        F.sum("n_events").alias("n_events"),
        F.min("session_start_us").alias("session_start_us"),
        F.max("session_end_us").alias("session_end_us"),
    )


def fano_burstiness(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Temporal burstiness per event type: the Fano factor
    (variance/mean) of HOURLY counts over the full observed hour grid —
    missing hours count as zeros, which is exactly what separates bursty
    bot traffic (fano ≫ 1) from a steady Poisson-like stream (fano ≈ 1)
    and a constant drumbeat (fano ≈ 0). Emits
    ``(type, n_hours, n_events, fano)``.

    Exact-integer moments: fano = (H·Σc² − (Σc)²) / (H·Σc) with one
    final double division, so the statistic is engine- and order-exact.
    The grid is types × hours (tiny); the corpus sees one (type, hour)
    count aggregation."""
    from couch_to_postgres_spark.session import ts_micros

    # exact integer FLOOR division (t - pmod(t, L)) / L: a double
    # divide + cast truncates toward zero, which disagrees with the
    # oracle's floor (//) for pre-1970 (negative-epoch) timestamps
    t = ts_micros(events, ts_col)
    L = 3_600_000_000
    hour = ((t - F.pmod(t, F.lit(L))) / F.lit(L)).cast("long")
    with_h = events.select(F.col(type_col), hour.alias("h"))
    counts = with_h.groupBy(type_col, "h").agg(F.count(F.lit(1)).alias("c"))
    bounds = with_h.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        counts.select(type_col).distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            type_col,
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    filled = grid.join(counts, [type_col, "h"], "left").select(
        type_col, F.coalesce("c", F.lit(0)).alias("c")
    )
    agg = filled.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    # all-double before multiplying: H*scc and sc*sc in LONG wrap once
    # per-type event counts pass ~3e9 (the sums themselves stay exact
    # integers; only the final products go through double)
    h_d = F.col("n_hours").cast("double")
    sc_d = F.col("sc").cast("double")
    scc_d = F.col("scc").cast("double")
    fano = (h_d * scc_d - sc_d * sc_d) / (h_d * sc_d)
    return agg.select(
        type_col,
        "n_hours",
        F.col("sc").alias("n_events"),
        F.round(fano, 4).alias("fano"),
    )
