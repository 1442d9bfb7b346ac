"""Continuous/long-poll `_changes` transport (reference lib/index.js:50-53,
:225-229, :248, :267-277): longpoll blocks until data or the inactivity
window, transient failures reconnect with the randomized 10-60 s backoff,
and a missing database (no_db_file) is a hard error, never retried."""

import random
import threading
import time

import pytest

from couch_to_postgres_spark.sources.couchdb import (
    CouchClient,
    CouchError,
    CouchMissingDatabaseError,
    poll_changes_to_rows,
    reconnect_backoff_seconds,
)
from tests.test_writeback import RecordingCouch


@pytest.fixture
def couch():
    c = RecordingCouch()
    yield c
    c.close()


PAGE = {
    "results": [
        {"seq": 1, "id": "a", "doc": {"_id": "a", "_rev": "1-x", "v": 1}},
    ],
    "last_seq": 1,
}


def test_longpoll_waits_out_inactivity_window_when_idle(couch):
    """An idle feed holds the connection for ~inactivity_ms, then returns
    an empty page (not an error) — poll cadence becomes server-driven."""
    client = CouchClient(couch.url)
    t0 = time.time()
    rows, last = poll_changes_to_rows(
        client, "db", since=5, feed="longpoll", inactivity_ms=300
    )
    elapsed = time.time() - t0
    assert rows == [] and last == 5
    assert elapsed >= 0.25  # actually held, not an instant empty page
    assert "feed=longpoll" in couch.changes_requests[0]
    assert "timeout=300" in couch.changes_requests[0]


def test_longpoll_returns_as_soon_as_data_arrives(couch):
    """Data arriving mid-hold releases the poll immediately — delivery is
    change-arrival-bound, not interval-bound."""
    client = CouchClient(couch.url)

    def feed_later():
        time.sleep(0.15)
        couch.add_page(PAGE)

    threading.Thread(target=feed_later, daemon=True).start()
    t0 = time.time()
    rows, last = poll_changes_to_rows(
        client, "db", since=0, feed="longpoll", inactivity_ms=5000
    )
    elapsed = time.time() - t0
    assert [r[:2] for r in rows] == [(1, "a")] and last == 1
    assert elapsed < 3.0  # released by data, far before the 5 s window


def test_transient_failures_reconnect_with_randomized_backoff(couch):
    """N transport failures → N randomized sleeps in [min, max), then the
    drain succeeds and resumes from the same since."""
    couch.fail_changes = 2
    couch.changes_pages = [PAGE]
    sleeps: list[float] = []
    client = CouchClient(couch.url)
    rows, last = poll_changes_to_rows(
        client,
        "db",
        since=0,
        max_attempts=5,
        backoff_min_s=0.01,
        backoff_max_s=0.05,
        sleep=sleeps.append,
        rng=random.Random(7),
    )
    assert [r[:2] for r in rows] == [(1, "a")] and last == 1
    assert len(sleeps) == 2
    assert all(0.01 <= s < 0.05 for s in sleeps)
    # 2 failed + 1 successful + 1 trailing empty page
    assert len(couch.changes_requests) == 4


def test_failures_beyond_max_attempts_raise(couch):
    couch.fail_changes = 10
    client = CouchClient(couch.url)
    with pytest.raises(CouchError):
        poll_changes_to_rows(
            client,
            "db",
            max_attempts=3,
            backoff_min_s=0.0,
            backoff_max_s=0.001,
            sleep=lambda s: None,
        )
    assert len(couch.changes_requests) == 3


def test_missing_database_is_hard_error_not_retried(couch):
    """no_db_file is a configuration error: surface immediately (the
    reference emits error instead of reconnect-looping) — exactly one
    request, zero sleeps, even with retries enabled."""
    couch.missing_db = True
    sleeps: list[float] = []
    client = CouchClient(couch.url)
    with pytest.raises(CouchMissingDatabaseError) as exc:
        poll_changes_to_rows(
            client, "db", max_attempts=5, sleep=sleeps.append
        )
    assert exc.value.reason == "no_db_file"
    assert sleeps == []
    assert len(couch.changes_requests) == 1


def test_backoff_window_matches_reference():
    """Default window is the reference's randomized 10-60 s
    (lib/index.js:225-229)."""
    rng = random.Random(3)
    vals = [reconnect_backoff_seconds(rng) for _ in range(200)]
    assert all(10.0 <= v < 60.0 for v in vals)
    assert max(vals) > 40.0 and min(vals) < 20.0  # actually spread


def test_datasource_longpoll_with_reconnect_end_to_end(spark, couch, tmp_path):
    """format("couchdb") with feed=longpoll + maxAttempts: a transient
    500 on the first poll backs off (sub-second test window) and the
    stream still lands the rows — resume + backoff through the whole
    Spark source path."""
    from couch_to_postgres_spark.sources.couchdb_source import register
    from couch_to_postgres_spark.streaming.partitioned import (
        upsert_partitioned_mirror,
    )
    from couch_to_postgres_spark.streaming.pipeline import read_mirror

    register(spark)
    couch.fail_changes = 1
    couch.changes_pages = [PAGE]
    stream = (
        spark.readStream.format("couchdb")
        .option("url", couch.url)
        .option("database", "db")
        .option("feed", "longpoll")
        .option("inactivityMs", "500")
        .option("maxAttempts", "4")
        .option("backoffMinSeconds", "0.05")
        .option("backoffMaxSeconds", "0.1")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _eid: upsert_partitioned_mirror(
                batch.sparkSession, str(tmp_path / "mirror"), batch
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = {r["id"] for r in read_mirror(spark, str(tmp_path / "mirror")).collect()}
    assert state == {"a"}
    # the failed request really happened and was retried
    assert len(couch.changes_requests) >= 2


def test_daemon_follows_live_couch_feed(spark, couch, tmp_path):
    """The reference daemon's actual mode: a registry row with a couch
    URL follows the LIVE database over HTTP (format('couchdb')) into the
    partitioned mirror — discovery, merge, status all through the Daemon."""
    from couch_to_postgres_spark.streaming.daemon import (
        Daemon,
        FeedConfig,
        save_registry,
    )

    couch.changes_pages = [
        {
            "results": [
                {"seq": 1, "id": "a", "doc": {"_id": "a", "_rev": "1-x", "v": 1}},
                {"seq": 2, "id": "b", "doc": {"_id": "b", "_rev": "1-y", "v": 2}},
                {"seq": 3, "id": "c", "deleted": True},
            ],
            "last_seq": 3,
        }
    ]
    save_registry(
        str(tmp_path / "reg.json"),
        [
            FeedConfig(
                name="live-db", url=couch.url, feed="longpoll", inactivity_ms=500
            )
        ],
    )
    d = Daemon(spark, str(tmp_path / "reg.json"), str(tmp_path / "data"))
    assert d.find_feeds() == ["live-db"]
    d.await_all()
    d.stop_all()
    st = d.status()["live-db"]
    assert st["doc_count"] == 2  # a, b live; c deleted before landing
    assert st["table"] == "live_db"
    # the HTTP feed really used longpoll
    assert any("feed=longpoll" in p for p in couch.changes_requests)


# ---------------------------------------------------------------------------
# feed=continuous: one held connection, newline-delimited incremental lines
# (reference follow's actual transport, lib/index.js:50-53, :248)
# ---------------------------------------------------------------------------

def test_continuous_delivers_mid_stream_incrementally(couch):
    """Changes written WHILE the connection is open are received without
    waiting for the response to end — the property longpoll lacks."""
    from couch_to_postgres_spark.sources.couchdb import (
        continuous_changes_to_rows,
    )

    client = CouchClient(couch.url)
    arrivals: list[float] = []

    def feed_slowly():
        for seq in (1, 2, 3):
            time.sleep(0.1)
            couch.add_page(
                {
                    "results": [
                        {"seq": seq, "id": f"d{seq}",
                         "doc": {"_id": f"d{seq}", "_rev": "1-x", "v": seq}}
                    ],
                    "last_seq": seq,
                }
            )

    threading.Thread(target=feed_slowly, daemon=True).start()
    t0 = time.time()
    rows, last = continuous_changes_to_rows(
        client, "db", since=0, limit=3, inactivity_ms=5000
    )
    elapsed = time.time() - t0
    assert [r[:2] for r in rows] == [(1, "d1"), (2, "d2"), (3, "d3")]
    assert last == 3
    # released by the limit as the 3rd change arrived (~0.3 s), NOT by the
    # 5 s inactivity window — proof the lines were consumed mid-stream
    assert elapsed < 2.0
    assert "feed=continuous" in couch.changes_requests[0]


def test_continuous_idle_feed_closes_at_inactivity_window(couch):
    from couch_to_postgres_spark.sources.couchdb import (
        continuous_changes_to_rows,
    )

    client = CouchClient(couch.url)
    t0 = time.time()
    rows, last = continuous_changes_to_rows(
        client, "db", since=7, inactivity_ms=300
    )
    elapsed = time.time() - t0
    assert rows == [] and last == 7  # last_seq line echoes since
    assert elapsed >= 0.25  # genuinely held for the window


def test_continuous_early_break_closes_stream_socket(couch):
    """Breaking out on the `limit` path must close the chunk generator
    deterministically (finally-close), not wait for GC — on non-refcounting
    runtimes an un-closed generator keeps the HTTP socket open."""
    from couch_to_postgres_spark.sources.couchdb import (
        continuous_changes_to_rows,
    )

    closed = {"flag": False}

    def stream_transport(method, url, body, headers):
        def _chunks():
            try:
                yield (
                    b'{"seq": 1, "id": "d1", "doc": {"_id": "d1"}}\n'
                    b'{"seq": 2, "id": "d2", "doc": {"_id": "d2"}}\n'
                )
                # an infinite tail: only an explicit .close() ends this
                while True:
                    yield b""
            finally:
                closed["flag"] = True

        return 200, _chunks()

    client = CouchClient(couch.url)
    rows, last = continuous_changes_to_rows(
        client, "db", since=0, limit=1, stream_transport=stream_transport
    )
    assert [r[:2] for r in rows] == [(1, "d1")] and last == 1
    assert closed["flag"], "early limit break left the stream generator open"


def test_continuous_reconnects_with_backoff_before_data(couch):
    from couch_to_postgres_spark.sources.couchdb import (
        continuous_changes_to_rows,
    )

    couch.fail_changes = 2
    couch.add_page(PAGE)
    sleeps: list[float] = []
    rows, last = continuous_changes_to_rows(
        CouchClient(couch.url),
        "db",
        since=0,
        inactivity_ms=200,
        max_attempts=5,
        backoff_min_s=0.01,
        backoff_max_s=0.02,
        sleep=sleeps.append,
        rng=random.Random(7),
    )
    assert [r[:2] for r in rows] == [(1, "a")] and last == 1
    assert len(sleeps) == 2
    assert all(0.01 <= s < 0.02 for s in sleeps)


def test_continuous_missing_db_is_hard_error(couch):
    from couch_to_postgres_spark.sources.couchdb import (
        continuous_changes_to_rows,
    )

    couch.missing_db = True
    with pytest.raises(CouchMissingDatabaseError):
        continuous_changes_to_rows(
            CouchClient(couch.url), "db", max_attempts=5,
            backoff_min_s=0.0, backoff_max_s=0.0,
        )


def test_continuous_through_format_couchdb(spark, couch):
    """The full wiring: format('couchdb') with feed=continuous drains the
    streaming feed into (seq, id, deleted, doc) rows."""
    from couch_to_postgres_spark.sources.couchdb_source import register

    register(spark)
    couch.add_page(
        {
            "results": [
                {"seq": 1, "id": "a", "doc": {"_id": "a", "_rev": "1-x"}},
                {"seq": 2, "id": "b", "deleted": True},
            ],
            "last_seq": 2,
        }
    )
    df = (
        spark.read.format("couchdb")
        .option("url", couch.url)
        .option("database", "db")
        .option("feed", "continuous")
        .option("inactivityMs", "300")
        .option("limit", "2")
        .load()
    )
    got = {(r["seq"], r["id"], r["deleted"]) for r in df.collect()}
    assert got == {(1, "a", False), (2, "b", True)}


def test_daemon_follows_live_couch_feed_continuous(spark, couch, tmp_path):
    """Daemon end-to-end over the CONTINUOUS transport: registry row ->
    format('couchdb') streaming source with feed=continuous -> partitioned
    mirror merge."""
    from couch_to_postgres_spark.streaming.daemon import (
        Daemon,
        FeedConfig,
        save_registry,
    )

    couch.changes_pages = [
        {
            "results": [
                {"seq": 1, "id": "a", "doc": {"_id": "a", "_rev": "1-x", "v": 1}},
                {"seq": 2, "id": "b", "doc": {"_id": "b", "_rev": "1-y", "v": 2}},
                {"seq": 3, "id": "c", "deleted": True},
            ],
            "last_seq": 3,
        }
    ]
    save_registry(
        str(tmp_path / "reg.json"),
        [
            FeedConfig(
                name="live-db", url=couch.url, feed="continuous",
                inactivity_ms=500,
            )
        ],
    )
    d = Daemon(spark, str(tmp_path / "reg.json"), str(tmp_path / "data"))
    assert d.find_feeds() == ["live-db"]
    d.await_all()
    d.stop_all()
    st = d.status()["live-db"]
    assert st["doc_count"] == 2
    assert any("feed=continuous" in p for p in couch.changes_requests)


def test_continuous_mid_stream_error_line_handled():
    """A valid-JSON non-change line mid-stream (CouchDB writes
    {"error":...} when e.g. the db vanishes) must not crash the parser:
    with rows in hand they are returned (at-least-once); a data-less
    generic error follows the retry discipline; no_db_file is hard.
    Each scenario gets its OWN server: a previous scenario's still-open
    continuous handler would otherwise steal pages under load."""
    from couch_to_postgres_spark.sources.couchdb import (
        continuous_changes_to_rows,
    )

    # rows already streamed, then an error object line
    c1 = RecordingCouch()
    try:
        c1.add_page(
            {"results": [
                {"seq": 1, "id": "a", "doc": {"_id": "a", "_rev": "1-x"}},
                {"error": "unauthorized", "reason": "expired"},
            ], "last_seq": 1}
        )
        rows, last = continuous_changes_to_rows(
            CouchClient(c1.url), "db", since=0, inactivity_ms=400
        )
        assert [r[:2] for r in rows] == [(1, "a")] and last == 1
    finally:
        c1.close()

    # data-less error -> retried, then succeeds (a real CouchDB error
    # line terminates its feed, so the data arrives on the NEXT
    # connection — model that by enqueuing it after the first attempt)
    c2 = RecordingCouch()
    try:
        c2.add_page(
            {"results": [{"error": "internal", "reason": "boom"}],
             "last_seq": 0}
        )

        def feed_after_failure():
            time.sleep(0.5)
            c2.add_page(
                {"results": [
                    {"seq": 2, "id": "b", "doc": {"_id": "b", "_rev": "1-y"}}
                ], "last_seq": 2}
            )

        threading.Thread(target=feed_after_failure, daemon=True).start()
        rows, last = continuous_changes_to_rows(
            CouchClient(c2.url), "db", since=1, inactivity_ms=2000,
            max_attempts=3, backoff_min_s=0.0, backoff_max_s=0.001,
        )
        assert [r[:2] for r in rows] == [(2, "b")] and last == 2
    finally:
        c2.close()

    # mid-stream no_db_file -> hard error even with rows in hand
    c3 = RecordingCouch()
    try:
        c3.add_page(
            {"results": [
                {"seq": 3, "id": "c", "doc": {"_id": "c", "_rev": "1-z"}},
                {"error": "not_found", "reason": "no_db_file"},
            ], "last_seq": 3}
        )
        with pytest.raises(CouchMissingDatabaseError):
            continuous_changes_to_rows(
                CouchClient(c3.url), "db", since=2, inactivity_ms=400
            )
    finally:
        c3.close()

def test_continuous_batch_read_pages_through_whole_db(spark, couch):
    """Batch reads over feed=continuous must honor maxPages: a database
    larger than one `limit` page drains fully instead of silently
    truncating at the first connection's close."""
    from couch_to_postgres_spark.sources.couchdb_source import register

    register(spark)
    for page in range(3):
        couch.add_page(
            {
                "results": [
                    {"seq": page * 2 + i + 1, "id": f"d{page * 2 + i}",
                     "doc": {"_id": f"d{page * 2 + i}", "_rev": "1-x"}}
                    for i in range(2)
                ],
                "last_seq": page * 2 + 2,
            }
        )
    df = (
        spark.read.format("couchdb")
        .option("url", couch.url)
        .option("database", "db")
        .option("feed", "continuous")
        .option("inactivityMs", "300")
        .option("limit", "2")   # 3 pages of 2 docs each
        .load()
    )
    got = sorted(r["id"] for r in df.collect())
    assert got == [f"d{i}" for i in range(6)]
