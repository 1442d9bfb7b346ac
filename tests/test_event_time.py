"""Event-time operators: windowed counts (stream ≡ batch), gap
sessionization (session_window stream ≡ batch oracle)."""

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.session import load_table
from couch_to_postgres_spark.streaming.windows import (
    interval_join,
    sessionize_batch,
    windowed_type_counts,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


@pytest.fixture(scope="module")
def events_stream_dir(spark, events, tmp_path_factory):
    """3 seq-ordered files with increasing mtimes → 3 micro-batches in
    event order under maxFilesPerTrigger=1 (the file source orders by
    modification time; same-mtime files would arrive in arbitrary order,
    which an ordered feed must not do)."""
    import json as _json
    import os

    d = tmp_path_factory.mktemp("evstream") / "events"
    os.makedirs(d, exist_ok=True)
    rows = [r.asDict() for r in events.orderBy("event_id").collect()]
    n = len(rows)
    for i in range(3):
        chunk = rows[i * n // 3 : (i + 1) * n // 3]
        path = d / f"batch-{i}.json"
        with open(path, "w") as f:
            for r in chunk:
                # native-timestamp ts serializes as ISO-8601, which the
                # schema'd JSON reader parses back to timestamp
                f.write(_json.dumps(r, default=lambda o: o.isoformat()) + "\n")
        os.utime(path, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    return str(d)


def read_events_stream(spark, events, path):
    return (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


def test_windowed_counts_stream_equals_batch(spark, events, events_stream_dir):
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_type_counts(events, "6 hours").collect()
    }
    stream = read_events_stream(spark, events, events_stream_dir)
    q = (
        windowed_type_counts(stream, "6 hours", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == batch


def test_interval_join_stream_equals_batch(spark, events, events_stream_dir):
    """Stream-stream self-join (clicks × purchases within 1 h) drained over
    the file feed must emit exactly the batch join's pairs. Watermarks are
    generous relative to the feed's disorder, so no state is evicted before
    its match arrives."""
    batch = {
        (r["user_id"], r["click_id"], r["purchase_id"], r["gap_us"])
        for r in interval_join(events, horizon_minutes=60).collect()
    }
    assert batch, "fixture should produce at least one click→purchase pair"
    stream = read_events_stream(spark, events, events_stream_dir)
    q = (
        interval_join(stream, horizon_minutes=60, watermark="12 hours")
        .writeStream.format("memory")
        .queryName("pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"], r["gap_us"])
        for r in spark.sql("SELECT * FROM pairs").collect()
    }
    assert got == batch


def test_interval_join_horizon_zero_and_bounds(spark, events):
    """Pairs respect the closed interval: gap 0 allowed, gaps beyond the
    horizon absent; every gap non-negative."""
    rows = interval_join(events, horizon_minutes=60).collect()
    assert all(0 <= r["gap_us"] <= 3_600_000_000 for r in rows)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 1h watermark: an event arriving a
    micro-batch later but 10h behind event time lands beyond the watermark
    and is dropped — the bounded-state guarantee (batch mode would count
    it; streaming must not)."""
    import json as _json
    import os

    base_ns = 1_700_000_000_000_000_000
    hour_ns = 3_600 * 1_000_000_000

    def ev(event_id, hours, etype="click"):
        return {
            "event_id": event_id,
            "ts": base_ns + int(hours * hour_ns),
            "user_id": 1,
            "event_type": etype,
            "value": 1.0,
            "props": "{}",
        }

    d = tmp_path / "late"
    os.makedirs(d)
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def write_file(name, batch):
        p = d / name
        with open(p, "w") as f:
            f.writelines(_json.dumps(e) + "\n" for e in batch)

    def run(table):
        emitted = []

        def _capture(batch, _eid):
            emitted.extend(
                (r["window_start"].isoformat(), r["n"]) for r in batch.collect()
            )

        stream = spark.readStream.schema(schema).json(str(d))
        q = (
            windowed_type_counts(stream, "1 hour", watermark="1 hour")
            .writeStream.foreachBatch(_capture)
            .outputMode("update")  # update mode enforces late-row dropping
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return set(emitted)

    # run 1: on-time data through hour 10 → watermark persists at ~hour 9
    write_file("b0.json", [ev(i, h) for i, h in enumerate([0.1, 0.2, 5.0, 10.0])])
    first = run("late_run1")
    assert sum(n for _w, n in first) == 4

    # run 2 from the same checkpoint: one row 10h late, one on time
    write_file("b1.json", [ev(100, 0.5), ev(101, 10.5)])
    second = run("late_run2")
    # the late row's window must receive NO update — it was dropped at
    # the watermark; the on-time row (hour 10.5) lands in hour-10.0's
    # window (both fall in the same wall-clock hour) bumping it to 2
    windows_updated = dict(second)
    first_window = min(w for w, _n in first)
    assert first_window not in windows_updated, (first, second)
    assert list(windows_updated.values()) == [2], second


def test_sessionize_batch_properties(spark, events):
    sess = sessionize_batch(events, gap_minutes=60).cache()
    # every event lands in exactly one session
    assert sess.agg(F.sum("n_events")).first()[0] == events.count()
    # sessions are disjoint, ordered per user
    row = sess.filter(F.col("session_end_us") < F.col("session_start_us")).count()
    assert row == 0


def test_session_window_native_stream_equals_batch(
    spark, events, events_stream_dir
):
    """Built-in session_window: the stream drained over the ordered feed
    (complete mode — session windows reject update; complete keeps all
    session state and re-emits, so the final table IS the full result)
    must equal the batch rollup."""
    from couch_to_postgres_spark.streaming.windows import session_rollup_native

    batch = {
        (r["user_id"], r["session_start_us"]): (
            r["n_events"], r["session_end_us"],
        )
        for r in session_rollup_native(events, gap_minutes=60).collect()
    }
    stream = read_events_stream(spark, events, events_stream_dir)
    q = (
        session_rollup_native(stream, gap_minutes=60)
        .writeStream.format("memory")
        .queryName("native_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start_us"]): (
            r["n_events"], r["session_end_us"],
        )
        for r in spark.sql("SELECT * FROM native_sessions").collect()
    }
    assert got == batch


def test_session_window_boundary_merges_on_equal_gap(spark):
    """An inter-event gap EXACTLY equal to the configured gap MERGES
    (touching windows coalesce): session_window needs a strictly greater
    gap to split — identical to sessionize_batch's > walk, and one µs
    more does split. Pinned so the e20 oracle's `>` never drifts."""
    import datetime as dt

    from couch_to_postgres_spark.streaming.windows import (
        session_rollup_native,
        sessionize_batch,
    )

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def roll(delta):
        df = spark.createDataFrame(
            [(1, base), (1, base + delta)], "user_id long, ts timestamp"
        )
        return (
            session_rollup_native(df, gap_minutes=60).collect(),
            sessionize_batch(df, gap_minutes=60).collect(),
        )

    native_eq, custom_eq = roll(dt.timedelta(minutes=60))
    assert len(native_eq) == 1 and len(custom_eq) == 1, (native_eq, custom_eq)
    native_over, custom_over = roll(
        dt.timedelta(minutes=60, microseconds=1)
    )
    assert len(native_over) == 2 and len(custom_over) == 2, (
        native_over,
        custom_over,
    )
