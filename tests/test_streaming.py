"""Streaming pipeline fault/semantics tests (SURVEY.md §5 technique 4):
checkpoint resume, duplicate-delivery replay → NOOP, delete propagation,
rate limiting, multi-feed daemon + watchdog + HTTP control plane."""

import json
import shutil
import tempfile
import urllib.request

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.operators.cdc import latest_changes
from couch_to_postgres_spark.sources.changes import (
    changes_from_events,
    read_change_stream,
    write_change_log,
)
from couch_to_postgres_spark.streaming.daemon import (
    Daemon,
    FeedConfig,
    save_registry,
    serve_control_plane,
    set_feed_enabled,
)
from couch_to_postgres_spark.streaming.pipeline import (
    follow,
    mirror_doc_count,
    read_mirror,
    upsert_mirror,
)


@pytest.fixture
def tmp(request):
    d = tempfile.mkdtemp(prefix="cdc_stream_")
    request.addfinalizer(lambda: shutil.rmtree(d, ignore_errors=True))
    return d


def expected_state(changes):
    """Ground truth: per-key latest change, deletions removed."""
    latest = latest_changes(changes)
    return {
        r["id"]: r["doc"]
        for r in latest.filter(~F.col("deleted")).collect()
    }


def mirror_state(spark, path):
    return {r["id"]: r["doc"] for r in read_mirror(spark, path).collect()}


def test_follow_end_to_end_with_deletes(spark, sf_dir, tmp):
    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    q = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt")
    q.awaitTermination(120)
    assert mirror_state(spark, f"{tmp}/mirror") == expected_state(changes)


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp):
    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    first = changes.filter(F.col("seq") < 600)
    rest = changes.filter(F.col("seq") >= 600)

    write_change_log(first, f"{tmp}/log")
    q = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt")
    q.awaitTermination(120)
    assert mirror_state(spark, f"{tmp}/mirror") == expected_state(first)

    # restart from the same checkpoint after more changes arrive
    write_change_log(rest, f"{tmp}/log")
    q2 = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt")
    q2.awaitTermination(120)
    assert mirror_state(spark, f"{tmp}/mirror") == expected_state(changes)
    # resumed run saw only the new files: batch numbering continues (no
    # batch 0 replay). numInputRows counts 2× the rows because the merge
    # plan scans the batch twice (upserts + touched-keys anti-join side).
    batch_ids = {p["batchId"] for p in q2.recentProgress}
    assert 0 not in batch_ids
    rows_second_run = sum(p["numInputRows"] for p in q2.recentProgress)
    assert rows_second_run <= 2 * rest.count()


def test_duplicate_delivery_replay_is_noop(spark, sf_dir, tmp):
    """At-least-once: replaying the whole feed against a caught-up mirror
    must not change it (rev-compare idempotence, lib/index.js:110-128)."""
    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    q = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt")
    q.awaitTermination(120)
    before = mirror_state(spark, f"{tmp}/mirror")
    # fresh checkpoint → the file source replays everything from seq 0
    q2 = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt2")
    q2.awaitTermination(120)
    assert mirror_state(spark, f"{tmp}/mirror") == before


def test_rate_limiting_batches(spark, sf_dir, tmp):
    """maxFilesPerTrigger bounds per-batch admission (A2 backpressure)."""
    changes = changes_from_events(spark, sf_dir, delete_type="error")
    write_change_log(changes, f"{tmp}/log", num_files=4)
    q = follow(
        spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 4  # one file per micro-batch


def test_count_reconciliation_after_stream(spark, sf_dir, tmp):
    """A19: replica cardinality equals source cardinality (post-deletes)."""
    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    q = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt")
    q.awaitTermination(120)
    assert mirror_doc_count(spark, f"{tmp}/mirror") == len(expected_state(changes))


def test_upsert_mirror_mvcc_layout(spark, sf_dir, tmp):
    """Versioned layout: 'current' symlink, bounded version retention,
    reads resolve to an immutable version dir (safe under concurrent
    swaps)."""
    import os

    changes = changes_from_events(spark, sf_dir, delete_type="error")
    for _ in range(3):
        upsert_mirror(spark, f"{tmp}/mirror", changes)
    link = f"{tmp}/mirror/current"
    assert os.path.islink(link)
    versions = [d for d in os.listdir(f"{tmp}/mirror") if d.startswith("v-")]
    assert len(versions) == 2  # KEEP_VERSIONS
    assert os.path.realpath(link).startswith(
        os.path.realpath(f"{tmp}/mirror")
    )
    assert read_mirror(spark, f"{tmp}/mirror").count() > 0


def make_two_feed_registry(spark, sf_dir, tmp):
    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes.filter(F.col("id").cast("long") < 8), f"{tmp}/log_a")
    write_change_log(changes.filter(F.col("id").cast("long") >= 8), f"{tmp}/log_b")
    feeds = [
        FeedConfig(name="feed-alpha", changes_path=f"{tmp}/log_a"),
        FeedConfig(name="feed-beta", changes_path=f"{tmp}/log_b"),
    ]
    save_registry(f"{tmp}/registry.json", feeds)
    return changes


def test_daemon_multi_feed_and_watchdog(spark, sf_dir, tmp):
    changes = make_two_feed_registry(spark, sf_dir, tmp)
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    started = d.find_feeds()
    assert sorted(started) == ["feed-alpha", "feed-beta"]
    d.await_all()

    st = d.status()
    # hyphenated couch names sanitized to table names (A14)
    assert st["feed-alpha"]["table"] == "feed_alpha"
    total = st["feed-alpha"]["doc_count"] + st["feed-beta"]["doc_count"]
    assert total == len(expected_state(changes))
    # partitioned-layout health is surfaced for the operator
    layout = st["feed-alpha"]["layout"]
    assert layout is not None and layout["num_buckets"] >= 16
    assert layout["total_rows"] is not None and layout["delta_rows"] == 0

    # disable one feed → watchdog reaps it (A11); the availableNow queries
    # have already terminated, so the other is restarted (A12 analog)
    set_feed_enabled(f"{tmp}/registry.json", "feed-alpha", False)
    result = d.watchdog()
    assert "feed-alpha" in result["stopped"]
    assert "feed-beta" in result["restarted"] or "feed-beta" in result["started"]
    d.await_all()
    d.stop_all()


def test_daemon_continuous_supervision(spark, sf_dir, tmp):
    """processingTime feeds under a live supervisor: changes arriving
    after start are picked up; disabling a feed stops it within one
    supervision cycle; re-enabling restarts it from its checkpoint."""
    import time

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    first = changes.filter(F.col("seq") < 500)
    rest = changes.filter(F.col("seq") >= 500)
    write_change_log(first, f"{tmp}/log_live")
    save_registry(
        f"{tmp}/registry.json",
        [FeedConfig(name="live-feed", changes_path=f"{tmp}/log_live")],
    )
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    sup = d.run_supervisor(
        poll_seconds=2, trigger={"processingTime": "1 seconds"}
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and d.status().get("live-feed", {}).get(
            "doc_count", 0
        ) < len(expected_state(first)):
            time.sleep(1)
        assert d.status()["live-feed"]["doc_count"] == len(expected_state(first))

        # late-arriving changes are absorbed by the running query
        write_change_log(rest, f"{tmp}/log_live")
        deadline = time.time() + 60
        target = len(expected_state(changes))
        while time.time() < deadline and d.status()["live-feed"]["doc_count"] != target:
            time.sleep(1)
        assert d.status()["live-feed"]["doc_count"] == target

        # disable → the supervisor reaps the feed within ~one cycle
        set_feed_enabled(f"{tmp}/registry.json", "live-feed", False)
        deadline = time.time() + 30
        while time.time() < deadline and d.status()["live-feed"]["alive"]:
            time.sleep(1)
        assert not d.status()["live-feed"]["alive"]
    finally:
        sup.stop_event.set()
        d.stop_all()


def test_control_plane_http(spark, sf_dir, tmp):
    make_two_feed_registry(spark, sf_dir, tmp)
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    d.find_feeds()
    d.await_all()
    server, port = serve_control_plane(d)
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/_status") as r:
            st = json.loads(r.read())
        assert set(st) == {"feed-alpha", "feed-beta"}
        assert st["feed-beta"]["doc_count"] > 0
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/_watchdog") as r:
            wd = json.loads(r.read())
        assert set(wd) == {
            "stopped", "restarted", "started", "compacted",
            "search_compacted", "shingle_compacted", "vector_compacted",
        }
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/_fsck") as r:
            fs = json.loads(r.read())
        assert set(fs) == {"feed-alpha", "feed-beta"}
        assert all(v["ok"] for v in fs.values())  # partitioned + healthy
    finally:
        server.shutdown()
        d.stop_all()


def test_live_count_view_tracks_stream(spark, sf_dir, tmp):
    """A streamed feed maintains its count view incrementally per batch;
    after the drain the view equals a fresh GROUP BY over the mirror —
    including through deletes."""
    from couch_to_postgres_spark.functions.json import json_get
    from couch_to_postgres_spark.streaming.pipeline import read_count_view

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log", num_files=4)
    q = follow(
        spark,
        f"{tmp}/log",
        f"{tmp}/mirror",
        f"{tmp}/ckpt",
        max_files_per_trigger=1,  # several micro-batches, several deltas
        count_views={"by_type": json_get("doc", "type")},
    )
    q.awaitTermination(180)
    view = sorted(map(tuple, read_count_view(spark, f"{tmp}/mirror", "by_type").collect()))
    fresh = sorted(
        map(
            tuple,
            read_mirror(spark, f"{tmp}/mirror")
            .groupBy(json_get("doc", "type").alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect(),
        )
    )
    assert view == fresh and len(view) > 0


def test_follow_default_sink_is_partitioned(spark, sf_dir, tmp):
    """follow() without sink args lands the mirror in the bucket-
    partitioned O(touched) layout (meta + bucket dirs), and read_mirror
    reads it transparently."""
    import os

    from couch_to_postgres_spark.streaming.partitioned import read_meta

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    q = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt")
    q.awaitTermination(120)
    assert read_meta(f"{tmp}/mirror") is not None
    assert any(
        d.startswith("bucket=") for d in os.listdir(f"{tmp}/mirror")
    )
    assert mirror_state(spark, f"{tmp}/mirror") == expected_state(changes)


def test_follow_respects_existing_flat_layout(spark, sf_dir, tmp):
    """A mirror already in the flat MVCC layout keeps merging flat even
    under the partitioned default — layout continuity beats the argument
    (no silent state fork)."""
    import os

    from couch_to_postgres_spark.streaming.partitioned import read_meta

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    first = changes.filter(F.col("seq") < 600)
    rest = changes.filter(F.col("seq") >= 600)
    # seed a FLAT mirror directly
    upsert_mirror(spark, f"{tmp}/mirror", first)
    assert os.path.islink(f"{tmp}/mirror/current")
    write_change_log(rest, f"{tmp}/log")
    q = follow(spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt")
    q.awaitTermination(120)
    assert read_meta(f"{tmp}/mirror") is None  # still flat
    assert mirror_state(spark, f"{tmp}/mirror") == expected_state(changes)


def test_watchdog_compacts_fragmented_partitioned_mirror(spark, sf_dir, tmp):
    """Micro-batch merges fragment touched buckets over time; the daemon
    watchdog compacts any bucket above the file threshold and reports the
    feed + bucket ids."""
    from couch_to_postgres_spark.operators.mirror import docs_mirror
    from couch_to_postgres_spark.streaming.partitioned import (
        bucket_file_counts,
        read_partitioned_mirror,
        write_partitioned_mirror,
    )

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [FeedConfig(name="frag-feed", changes_path=f"{tmp}/log")],
    )
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    d.find_feeds()
    d.await_all()
    mirror = d.mirror_path(FeedConfig(name="frag-feed", changes_path=""))
    # fragment one bucket the way accumulated micro-batches would
    frag = docs_mirror(spark, sf_dir).limit(20).withColumn("bucket", F.lit(2))
    for _ in range(6):
        frag.write.mode("append").partitionBy("bucket").parquet(mirror)
    n_before = read_partitioned_mirror(spark, mirror).count()
    assert bucket_file_counts(mirror)[2] > 4

    result = d.watchdog()
    d.await_all()
    d.stop_all()
    assert result["compacted"].get("frag-feed") == [2]
    assert max(bucket_file_counts(mirror).values()) <= 4
    assert read_partitioned_mirror(spark, mirror).count() == n_before


def test_stream_static_enrichment_equals_batch(spark, sf_dir, tmp):
    """Stream-static join: events drained through enrich_stream against a
    static per-type dim must equal the batch join; plan uses a broadcast
    hash join (zero shuffle on the stream side)."""
    from couch_to_postgres_spark.plans.inspect import executed_plan
    from couch_to_postgres_spark.session import load_table
    from couch_to_postgres_spark.streaming.enrich import enrich_stream

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("event_type")
        .agg(F.round(F.sum("value"), 4).alias("type_total"))
        .cache()
    )
    batch_df = enrich_stream(ev, dim, "event_type").select(
        "event_id", "event_type", "type_total"
    )
    assert "BroadcastHashJoin" in executed_plan(batch_df), "dim must broadcast"
    batch = {(r["event_id"]): (r["event_type"], r["type_total"])
             for r in batch_df.collect()}

    ev.write.mode("overwrite").json(f"{tmp}/ev_feed")
    stream = spark.readStream.schema(ev.schema).json(f"{tmp}/ev_feed")
    q = (
        enrich_stream(stream, dim, "event_type")
        .select("event_id", "event_type", "type_total")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["event_type"], r["type_total"])
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    assert got == batch


def test_stream_static_enrichment_left_keeps_unmatched(spark, sf_dir, tmp):
    """A stream row whose key is missing from the dim survives with NULL
    enrichment (left join contract — no silent loss)."""
    from couch_to_postgres_spark.session import load_table
    from couch_to_postgres_spark.streaming.enrich import enrich_stream

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_type"))
        .filter(F.col("event_type") != "click")  # hole in the dim
    )
    out = enrich_stream(ev, dim, "event_type")
    n_events = ev.count()
    assert out.count() == n_events
    clicks_null = (
        out.filter(F.col("event_type") == "click")
        .filter(F.col("n_type").isNotNull())
        .count()
    )
    assert clicks_null == 0


def test_follow_maintains_search_index(spark, sf_dir, tmp):
    """search_index_path turns the replication pipeline into a live
    search feed: after the drain, BM25 answered from the maintained
    index equals a fresh BM25 over the final mirror text (same
    normalization), deletes included."""
    from couch_to_postgres_spark.extensions.search import bm25_topk_batch
    from couch_to_postgres_spark.streaming.search_stream import (
        bm25_topk_from_index,
        live_doclen,
    )

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    q = follow(
        spark, f"{tmp}/log", f"{tmp}/mirror", f"{tmp}/ckpt",
        search_index_path=f"{tmp}/sidx",
    )
    q.awaitTermination(180)
    corpus = read_mirror(spark, f"{tmp}/mirror").select(
        F.col("id").alias("doc_id"),
        F.regexp_replace("doc", '[,:"{}]', " ").alias("text"),
    )
    # the index's live set IS the mirror
    assert live_doclen(spark, f"{tmp}/sidx").count() == corpus.count()
    qtab = spark.createDataFrame(
        [(1, "click"), (1, "view"), (2, "purchase")],
        "query_id int, term string",
    )
    got = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk_from_index(spark, f"{tmp}/sidx", qtab, k=8).collect()
    )
    want = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk_batch(corpus, qtab, k=8).collect()
    )
    assert got == want and len(got) > 0


def test_daemon_feed_search_index(spark, sf_dir, tmp):
    """FeedConfig(search_index=True): the daemon maintains a per-feed
    live BM25 index under data_root/search/<table>, queryable after the
    drain; feeds without the flag write none."""
    from couch_to_postgres_spark.streaming.search_stream import (
        bm25_topk_from_index,
        live_doclen,
    )

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes.filter(F.col("id").cast("long") < 8), f"{tmp}/log_a")
    write_change_log(changes.filter(F.col("id").cast("long") >= 8), f"{tmp}/log_b")
    from couch_to_postgres_spark.streaming.daemon import FeedConfig

    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="feed-alpha", changes_path=f"{tmp}/log_a",
                search_index=True,
            ),
            FeedConfig(name="feed-beta", changes_path=f"{tmp}/log_b"),
        ],
    )
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    d.find_feeds()
    d.await_all()
    import os as _os

    sidx = f"{tmp}/data/search/feed_alpha"
    assert _os.path.isdir(sidx)
    assert not _os.path.isdir(f"{tmp}/data/search/feed_beta")
    n_mirror = mirror_doc_count(spark, f"{tmp}/data/mirrors/feed_alpha.parquet")
    assert live_doclen(spark, sidx).count() == n_mirror
    qtab = spark.createDataFrame(
        [(1, "click"), (1, "view")], "query_id int, term string"
    )
    hits = bm25_topk_from_index(spark, sidx, qtab, k=5)
    assert hits.count() > 0
    # /_status surfaces index health ONLY for search-flagged feeds:
    # live docs match the mirror, no compaction yet (all-tail index),
    # compaction_debt counted over the live set
    st = d.status()
    si = st["feed-alpha"]["search_index"]
    assert st["feed-beta"]["search_index"] is None
    assert si["live_docs"] == n_mirror
    assert si["base_present"] is False and si["token_buckets"] is None
    assert si["tail_doclen_rows"] >= si["live_docs"]
    assert si["compaction_debt"] is not None and si["compaction_debt"] >= 1.0
    d.stop_all()


def test_watchdog_compacts_search_index_on_debt(spark, sf_dir, tmp):
    """Compaction POLICY, not just mechanism: the watchdog compacts a
    search-flagged feed's BM25 index in place when compaction_debt
    (churn rows per live doc — what every from-index read must merge)
    crosses the daemon threshold; below it, the index is left alone.
    Query answers are preserved across the in-place swap."""
    from couch_to_postgres_spark.streaming.daemon import FeedConfig
    from couch_to_postgres_spark.streaming.search_stream import (
        bm25_topk_from_index,
        index_status,
        search_index_batch,
    )

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="search-feed",
                changes_path=f"{tmp}/log",
                search_index=True,
            )
        ],
    )
    d = Daemon(
        spark, f"{tmp}/registry.json", f"{tmp}/data",
        search_compaction_debt=0.2,
    )
    d.find_feeds()
    d.await_all()
    sidx = f"{tmp}/data/search/search_feed"
    qtab = spark.createDataFrame(
        [(1, "click"), (1, "view")], "query_id int, term string"
    )
    want = sorted(
        (r["query_id"], r["doc_id"], r["score"])
        for r in bm25_topk_from_index(spark, sidx, qtab, k=5).collect()
    )

    # a never-compacted index is ALL tail (debt >= 1.0): the first
    # watchdog pass establishes the base
    r1 = d.watchdog()
    d.await_all()
    m1 = r1["search_compacted"]["search-feed"]
    assert m1["debt"] >= 1.0
    # maintenance telemetry rides the watchdog result (VERDICT r09 #5):
    # the first compaction of a fresh index is the full-rewrite fallback
    assert m1["mode"] == "full"
    st = index_status(spark, sidx)
    assert st["base_present"] and st["compaction_debt"] == 0.0
    got = sorted(
        (r["query_id"], r["doc_id"], r["score"])
        for r in bm25_topk_from_index(spark, sidx, qtab, k=5).collect()
    )
    assert got == want  # in-place swap preserved every answer

    # small churn (1 doc) stays under the 0.2 threshold: no compaction
    def churn(ids, seq0):
        batch = spark.createDataFrame(
            [(seq0 + i, str(i), False, "click view churned text")
             for i in ids],
            "seq long, doc_id string, deleted boolean, text string",
        )
        search_index_batch(spark, sidx, batch)

    churn([0], 10**15)
    r2 = d.watchdog()
    d.await_all()
    assert "search-feed" not in r2["search_compacted"]
    assert index_status(spark, sidx)["tail_doclen_rows"] == 1

    # heavy churn (> 20% of live docs) crosses it: watchdog compacts,
    # debt resets, the churned text is searchable from the new base
    n_live = st["live_docs"]
    churn(range(max(2, int(n_live * 0.3))), 2 * 10**15)
    r3 = d.watchdog()
    d.await_all()
    m3 = r3["search_compacted"]["search-feed"]
    assert m3["debt"] > 0.2
    # second pass folds incrementally and reports its cost: churned doc
    # count and affected (token_bucket x id_sub) pairs out of the total —
    # the numbers an operator needs to judge maintenance load without
    # reading logs
    assert m3["mode"] == "incremental"
    assert m3["churned_docs"] >= 2
    assert 0 < m3["affected_pairs"]
    assert m3["total_buckets"] > 0
    # ... and the same telemetry lands on the feed's /_status row
    maint = d.status()["search-feed"]["index_maintenance"]
    assert maint["search"]["mode"] == "incremental"
    assert maint["search"]["churned_docs"] == m3["churned_docs"]
    st3 = index_status(spark, sidx)
    assert st3["compaction_debt"] == 0.0 and st3["live_docs"] == n_live
    ch_hits = bm25_topk_from_index(
        spark, sidx,
        spark.createDataFrame([(9, "churned")], "query_id int, term string"),
        k=3,
    )
    assert ch_hits.count() > 0
    d.stop_all()


def test_daemon_feed_shingle_index(spark, sf_dir, tmp):
    """FeedConfig(shingle_index=True) (VERDICT r08 #4): the daemon
    maintains a per-feed decontamination shingle index under
    data_root/shingles/<table> from the same micro-batches as the
    mirror; post-drain, contamination answered FROM that index equals
    batch text.contamination over the final mirror (same JSON-stripping
    normalization), deletes included. /_status surfaces its health and
    the watchdog's debt policy compacts it like the search twin."""
    import os as _os

    from couch_to_postgres_spark.extensions.text import contamination
    from couch_to_postgres_spark.streaming.search_stream import (
        index_status,
        live_doclen,
    )
    from couch_to_postgres_spark.streaming.stats_stream import (
        contamination_from_index,
    )

    changes = changes_from_events(spark, sf_dir, delete_type="error").cache()
    write_change_log(changes, f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="shingle-feed", changes_path=f"{tmp}/log",
                shingle_index=True,
            )
        ],
    )
    d = Daemon(
        spark, f"{tmp}/registry.json", f"{tmp}/data",
        search_compaction_debt=0.2,
    )
    d.find_feeds()
    d.await_all()

    shidx = f"{tmp}/data/shingles/shingle_feed"
    assert _os.path.isdir(shidx)
    corpus = read_mirror(spark, f"{tmp}/data/mirrors/shingle_feed.parquet").select(
        F.col("id").alias("doc_id"),
        F.regexp_replace("doc", '[,:"{}]', " ").alias("text"),
    )
    # the shingle index's live set IS the mirror (deletes tombstoned)
    assert live_doclen(spark, shidx).count() == corpus.count()
    # eval set: two docs lifted from live mirror text (guaranteed
    # overlap) + one clean
    lifted = [
        (100 + i, " ".join(r["text"].split()[:9]))
        for i, r in enumerate(corpus.orderBy("doc_id").limit(2).collect())
    ]
    eval_df = spark.createDataFrame(
        lifted + [(999, "no shared shingles in this clean sentence")],
        "doc_id long, text string",
    )
    want = sorted(tuple(r) for r in contamination(corpus, eval_df).collect())
    got = sorted(
        tuple(r)
        for r in contamination_from_index(spark, shidx, eval_df).collect()
    )
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[100][2] > 0 and by_id[999][2] == 0

    # health on /_status, same surface as the search twin
    st = d.status()["shingle-feed"]
    assert st["search_index"] is None
    assert st["shingle_index"]["live_docs"] == corpus.count()
    assert st["shingle_index"]["compaction_debt"] >= 1.0  # all-tail

    # the watchdog's debt policy covers the shingle twin: one pass
    # establishes the base, values unchanged through the swap
    r1 = d.watchdog()
    d.await_all()
    assert r1["shingle_compacted"]["shingle-feed"]["debt"] >= 1.0
    assert index_status(spark, shidx)["compaction_debt"] == 0.0
    got2 = sorted(
        tuple(r)
        for r in contamination_from_index(spark, shidx, eval_df).collect()
    )
    assert got2 == want
    # r13: the shingle twin compacts WITHOUT the MaxScore impact layer
    # (md5 fingerprints are probed by equality, never BM25-ranked) —
    # meta carries the explicit NULL sentinel, postings stay skinny
    from couch_to_postgres_spark.streaming.meta_io import read_meta_rows

    smeta = read_meta_rows(spark, _os.path.join(shidx, "base", "meta"))
    assert "impact_hist_bins" in smeta[0]
    assert smeta[0]["impact_hist_bins"] is None
    shpo = spark.read.parquet(_os.path.join(shidx, "base", "postings"))
    assert "impact0" not in shpo.columns
    d.stop_all()


def test_daemon_status_reports_sketch_state_health(spark, sf_dir, tmp):
    """VERDICT r07 #7: any versioned sketch/reservoir state committed
    under data_root/state/<table>/<name> surfaces its live version, row
    count, and last-commit batch in daemon.status() — the same operator
    surface search-flagged feeds get from index_status."""
    import os

    from couch_to_postgres_spark.extensions.sketch import sketch_stream

    make_two_feed_registry(spark, sf_dir, tmp)
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    d.find_feeds()
    d.await_all()

    fc = FeedConfig(name="feed-alpha", changes_path="")
    sroot = d.sketch_state_root(fc)
    spath = os.path.join(sroot, "type_shingles")
    b = spark.createDataFrame(
        [("g%d" % (i % 2), str(i)) for i in range(40)],
        "g string, v string",
    )
    sketch_stream(spark, spath, b, "g", "v", k=8, batch_id=0)
    sketch_stream(spark, spath, b, "g", "v", k=8, batch_id=1)

    st = d.status()
    health = st["feed-alpha"]["sketch_states"]
    assert health is not None and "type_shingles" in health
    h = health["type_shingles"]
    assert h["version"] == "v-0000000001"
    assert h["rows"] == 2  # one sketch row per group
    assert h["batch_id"] == 1
    # feeds with no committed state report None
    assert st["feed-beta"]["sketch_states"] is None
    d.stop_all()


def test_daemon_maintains_vector_index(spark, sf_dir, tmp):
    """A vector_index-flagged feed maintains the seq-wins IVF twin
    (streaming/vector_stream.py) from the same micro-batches as the
    mirror: post-drain, live ANN top-k answered FROM the index equals
    brute-force cosine over the mirror's live embeddings — updates
    (vectors moving cells) and deletes included. /_status surfaces its
    health and the watchdog's debt policy compacts it like the other
    twins."""
    from couch_to_postgres_spark.extensions.ann import _score_probed
    from couch_to_postgres_spark.streaming.vector_stream import (
        vector_index_status,
        vector_topk_live,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )

    def _doc_changes(src, seq_col, id_col, deleted):
        return src.select(
            seq_col.cast("long").alias("seq"),
            id_col.cast("string").alias("id"),
            F.lit(deleted).alias("deleted"),
            F.lit(None).cast("string").alias("doc")
            if deleted
            else F.to_json(F.struct("embedding", "label")).alias("doc"),
        )

    ins = _doc_changes(emb, F.col("vec_id"), F.col("vec_id"), False)
    # ids 0-4 updated to the embeddings of ids 10-14 (vectors MOVE)
    upd = _doc_changes(
        emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)),
        F.lit(1000) + F.col("vec_id"),
        F.col("vec_id") - 10,
        False,
    )
    # ids 20-24 deleted
    dels = _doc_changes(
        emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 25)),
        F.lit(2000) + F.col("vec_id"),
        F.col("vec_id"),
        True,
    )
    write_change_log(ins.unionByName(upd).unionByName(dels), f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="vec-feed", changes_path=f"{tmp}/log",
                vector_index=True, vector_cells=4,
            )
        ],
    )
    d = Daemon(
        spark, f"{tmp}/registry.json", f"{tmp}/data",
        search_compaction_debt=0.2,
    )
    d.find_feeds()
    d.await_all()

    vidx = f"{tmp}/data/vectors/vec_feed"
    import os as _os

    assert _os.path.isdir(vidx)
    # the live model: the mirror's current embeddings (55 live docs)
    mirror = read_mirror(spark, f"{tmp}/data/mirrors/vec_feed.parquet")
    live_model = mirror.select(
        F.col("id").alias("vec_id"),
        F.from_json(
            F.get_json_object("doc", "$.embedding"), "array<double>"
        ).alias("embedding"),
        F.lit(0).alias("cell"),
    )
    assert live_model.count() == 55
    queries = emb.filter(
        (F.col("vec_id") >= 30) & (F.col("vec_id") < 33)
    ).select(
        F.concat(F.lit("q"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    got = sorted(
        tuple(r)
        for r in vector_topk_live(
            spark, vidx, queries, k=5, nprobe=4
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in _score_probed(
            queries.select("vec_id", "embedding", F.lit(0).alias("cell")),
            live_model, 5, "vec_id", "embedding",
        ).collect()
    )
    assert got == want and len(got) == 15

    # health on /_status, same surface as the other twins
    st = d.status()["vec-feed"]
    assert st["vector_index"]["live_vectors"] == 55
    assert st["vector_index"]["n_cells"] == 4
    assert st["vector_index"]["compaction_debt"] is not None

    # quantizer drift on /_balance (r11): per-cell live placement over
    # skinny frames — the operator's rebuild-scheduling signal
    bal = d.balance()["vec-feed"]
    assert bal["n_cells"] == 4 and bal["live_vectors"] == 55
    assert bal["populated_cells"] >= 1 and bal["skew"] >= 1.0

    # the watchdog's debt policy covers the vector twin: one pass
    # establishes the live-only base, values unchanged through the swap
    r1 = d.watchdog()
    d.await_all()
    assert r1["vector_compacted"]["vec-feed"]["n_live"] == 55
    assert r1["vector_compacted"]["vec-feed"]["mode"] == "full"
    st2 = vector_index_status(spark, vidx)
    assert st2["compaction_debt"] == 0.0 and st2["base_present"]
    got2 = sorted(
        tuple(r)
        for r in vector_topk_live(
            spark, vidx, queries, k=5, nprobe=4
        ).collect()
    )
    assert got2 == want

    # steady-state churn on the compacted base: the watchdog's SECOND
    # pass runs the churn-proportional fold, with telemetry parity to
    # the search twin (mode / churn / affected dirs / phase timings —
    # VERDICT r10 #1/#6)
    from couch_to_postgres_spark.streaming.vector_stream import (
        vector_index_batch,
    )

    churn = emb.filter(
        (F.col("vec_id") >= 40) & (F.col("vec_id") < 55)
    ).select(
        (F.lit(3000) + F.col("vec_id")).alias("seq"),
        F.col("vec_id").cast("string").alias("vec_id"),
        F.lit(False).alias("deleted"),
        "embedding",
    )
    vector_index_batch(spark, vidx, churn)
    r2 = d.watchdog()
    d.await_all()
    tel = r2["vector_compacted"]["vec-feed"]
    assert tel["mode"] == "incremental"
    assert tel["churned_docs"] == 15
    assert 0 < tel["affected_cells"] <= tel["total_cells"] == 4
    assert tel["n_live"] == 55
    st3 = vector_index_status(spark, vidx)
    assert st3["compaction_debt"] == 0.0
    got3 = sorted(
        tuple(r)
        for r in vector_topk_live(
            spark, vidx, queries, k=5, nprobe=4
        ).collect()
    )
    assert got3 == want
    d.stop_all()


def test_daemon_hybrid_retrieval(spark, sf_dir, tmp):
    """A feed flagged search_index=True AND vector_index=True maintains
    both twins from the same micro-batches; Daemon.hybrid_topk fuses
    their live rankings. The pin is compositional: the fused result
    must equal hand-computed RRF over the two PUBLIC single-twin
    readers' outputs."""
    from couch_to_postgres_spark.streaming.search_stream import (
        bm25_topk_from_index,
    )
    from couch_to_postgres_spark.streaming.vector_stream import (
        vector_topk_live,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    # doc text carries a label-specific term so the lexical side has
    # real signal; the embedding rides the same doc JSON for the twin
    changes = emb.select(
        F.col("vec_id").cast("long").alias("seq"),
        F.col("vec_id").cast("string").alias("id"),
        F.lit(False).alias("deleted"),
        F.to_json(F.struct(
            F.concat(
                F.lit("topic"), F.col("label").cast("string"),
                F.lit(" corpus doc"),
            ).alias("text"),
            F.col("embedding"),
        )).alias("doc"),
    )
    write_change_log(changes, f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="hybrid-feed", changes_path=f"{tmp}/log",
                search_index=True, vector_index=True, vector_cells=4,
            )
        ],
    )
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    d.find_feeds()
    d.await_all()

    terms = spark.createDataFrame(
        [("qA", "topic3"), ("qA", "corpus")], "query_id string, term string"
    )
    vecs = emb.filter(F.col("vec_id") == 7).select(
        F.lit("qA").alias("vec_id"), "embedding"
    )
    fused = {
        (r["query_id"], r["doc_id"]): (r["rrf_score"], r["rank"])
        for r in d.hybrid_topk(
            "hybrid-feed", terms, vecs, k=8, depth=10, nprobe=4
        ).collect()
    }
    assert fused

    sidx = f"{tmp}/data/search/hybrid_feed"
    vidx = f"{tmp}/data/vectors/hybrid_feed"
    lex = {
        r["doc_id"]: r["rank"]
        for r in bm25_topk_from_index(
            spark, sidx, terms, k=10
        ).collect()
    }
    sem = {
        r["neighbor_id"]: r["rank"]
        for r in vector_topk_live(
            spark, vidx, vecs, k=10, nprobe=4
        ).collect()
    }
    expected = {}
    for doc in set(lex) | set(sem):
        c = 0.0
        if doc in lex:
            c += round(1.0 / (60 + lex[doc]), 9)
        if doc in sem:
            c += round(1.0 / (60 + sem[doc]), 9)
        expected[doc] = round(c, 6)
    want_order = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    got_order = sorted(fused.items(), key=lambda kv: kv[1][1])
    assert [(d_, s) for d_, s in want_order] == [
        (doc, sc) for (_, doc), (sc, _) in got_order
    ]

    # /_fsck covers the vector twin beside the mirror (r11): the
    # sidecar/cells/meta invariants hold on the freshly-drained index
    fs = d.fsck()["hybrid-feed"]
    assert fs["ok"]  # the mirror side
    assert fs["vector_index"]["ok"]
    assert fs["vector_index"]["n_live_actual"] == 40

    # one-sided feeds refuse with a pointer to the single reader
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="hybrid-feed", changes_path=f"{tmp}/log",
                search_index=True, vector_index=True, vector_cells=4,
            ),
            FeedConfig(
                name="lex-only", changes_path=f"{tmp}/log",
                search_index=True,
            ),
        ],
    )
    with pytest.raises(ValueError, match="vector index"):
        d.hybrid_topk("lex-only", terms, vecs)
    with pytest.raises(ValueError, match="unknown feed"):
        d.hybrid_topk("nope", terms, vecs)
    d.stop_all()


def test_daemon_hybrid_on_couch_style_string_ids(spark, sf_dir, tmp):
    """r13 (VERDICT r12 #6): couch-style string ``_id``s end-to-end
    through the DAEMON routing — FeedConfig → twin maintenance paths →
    Daemon.hybrid_topk's fused read — lifting the r12 library-level pin
    (test_hybrid_on_couch_style_string_ids) one level up. Ids like
    ``doc:NN-r1`` are not numeric-castable, so any silent cast anywhere
    in the chain ANSI-throws or drops rows; the result must carry them
    back verbatim with a string dtype. Also pins kwargs pass-through
    of the r13 underfill diag."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    changes = emb.select(
        F.col("vec_id").cast("long").alias("seq"),
        F.concat(
            F.lit("doc:"), F.col("vec_id").cast("string"), F.lit("-r1")
        ).alias("id"),
        F.lit(False).alias("deleted"),
        F.to_json(F.struct(
            F.concat(
                F.lit("topic"), F.col("label").cast("string"),
                F.lit(" corpus doc"),
            ).alias("text"),
            F.col("embedding"),
        )).alias("doc"),
    )
    write_change_log(changes, f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="couch-ids", changes_path=f"{tmp}/log",
                search_index=True, vector_index=True, vector_cells=4,
            )
        ],
    )
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    d.find_feeds()
    d.await_all()
    terms = spark.createDataFrame(
        [("q-1", "topic2"), ("q-1", "corpus")],
        "query_id string, term string",
    )
    vecs = emb.filter(F.col("vec_id") == 5).select(
        F.lit("q-1").alias("vec_id"), "embedding"
    )
    diag = {}
    out = d.hybrid_topk(
        "couch-ids", terms, vecs, k=5, depth=8, nprobe=4, diag=diag
    )
    assert dict(out.dtypes)["doc_id"] == "string"
    rows = out.collect()
    assert rows
    assert all(r["doc_id"].startswith("doc:") for r in rows)
    assert all(r["doc_id"].endswith("-r1") for r in rows)
    # underfill bookkeeping rode the kwargs through the daemon surface
    # (no candidate filter here → no underfilled queries by contract)
    assert diag["underfilled"] == {"lexical": [], "semantic": []}
    assert diag["escalated"] == []
    d.stop_all()


def test_watchdog_pending_aging_and_operator_force_flush(spark, sf_dir, tmp):
    """Bootstrap-buffer aging (ADVICE r11 / VERDICT r11 #5): a trickle
    feed below vector_cells upserts is NOT force-flushed on the first
    watchdog tick that sees it — a normal ramp gets pending_flush_ticks
    passes to reach the configured width. Only after surviving the
    grace does the flush train on what accumulated, surface the
    degraded fit, and make the 2-doc feed queryable. The operator can
    skip the wait via /_flush_pending."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        vector_index_status,
        vector_topk_live,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 2
    )
    changes = emb.select(
        F.col("vec_id").cast("long").alias("seq"),
        F.col("vec_id").cast("string").alias("id"),
        F.lit(False).alias("deleted"),
        F.to_json(F.struct("embedding")).alias("doc"),
    )
    write_change_log(changes, f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="trickle", changes_path=f"{tmp}/log",
                vector_index=True, vector_cells=8,
            )
        ],
    )
    d = Daemon(
        spark, f"{tmp}/registry.json", f"{tmp}/data",
        pending_flush_ticks=3,
    )
    d.find_feeds()
    d.await_all()
    vidx = f"{tmp}/data/vectors/trickle"
    st = vector_index_status(spark, vidx)
    assert st["n_cells"] is None and st["pending_upserts"] == 2

    # ticks 1 and 2: grace — the buffer survives, nothing trains
    for expected_ticks in (1, 2):
        d.watchdog()
        st = vector_index_status(spark, vidx)
        assert st["n_cells"] is None and st["pending_upserts"] == 2
        assert d._pending_ticks["trickle"] == expected_ticks
    # tick 3: aging trigger — flush, degraded fit surfaced, queryable
    d.watchdog()
    st = vector_index_status(spark, vidx)
    assert st["n_cells"] == 2
    assert st["configured_cells"] == 8
    assert st["quantizer_degraded"]
    assert st["pending_upserts"] == 0
    assert "trickle" not in d._pending_ticks
    q = emb.select(
        F.concat(F.lit("q"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    got = vector_topk_live(spark, vidx, q, k=1, nprobe=2).collect()
    assert {r["query_id"] for r in got} == {"q0", "q1"}


def test_flush_pending_http_force_flag(spark, sf_dir, tmp):
    """GET /_flush_pending?feed=NAME is the operator override of the
    aging gate: immediate training on whatever accumulated, degraded
    fit reported in the response; unknown/unflagged feeds get a 400."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 2
    )
    changes = emb.select(
        F.col("vec_id").cast("long").alias("seq"),
        F.col("vec_id").cast("string").alias("id"),
        F.lit(False).alias("deleted"),
        F.to_json(F.struct("embedding")).alias("doc"),
    )
    write_change_log(changes, f"{tmp}/log")
    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(
                name="tiny", changes_path=f"{tmp}/log",
                vector_index=True, vector_cells=16,
            )
        ],
    )
    # grace high enough that only the operator path can flush
    d = Daemon(
        spark, f"{tmp}/registry.json", f"{tmp}/data",
        pending_flush_ticks=99,
    )
    d.find_feeds()
    d.await_all()
    d.watchdog()
    server, port = serve_control_plane(d)
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/_flush_pending?feed=tiny"
        ) as resp:
            out = json.loads(resp.read())
        assert out["flushed"] and out["upserts"] == 2
        assert out["n_cells"] == 2 and out["configured_cells"] == 16
        assert out["quantizer_degraded"]
        # unknown feed -> 400, not a silent no-op
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/_flush_pending?feed=nope"
            )
            raised = False
        except urllib.error.HTTPError as e:
            raised = e.code == 400
        assert raised
    finally:
        server.shutdown()


def test_watchdog_overlaps_maintenance_units(spark, tmp, monkeypatch):
    """r13 (VERDICT r12 #3): one watchdog pass used to run every
    triggered fold SERIALLY across feeds — a tick's wall time was the
    sum, and supervision waited behind maintenance. Two debt-triggered
    folds on DIFFERENT feeds must now overlap (wall ≈ max, not sum),
    and supervision (stop/restart/start) must complete before any
    maintenance unit starts. Fold/status are stubbed — this pins the
    ORCHESTRATION; the folds themselves are pinned by their own
    suites and the policy by test_watchdog_compacts_*."""
    import threading
    import time

    from couch_to_postgres_spark.streaming import search_stream as ss

    save_registry(
        f"{tmp}/registry.json",
        [
            FeedConfig(name="feed-a", changes_path=f"{tmp}/log-a",
                       search_index=True),
            FeedConfig(name="feed-b", changes_path=f"{tmp}/log-b",
                       search_index=True),
        ],
    )
    d = Daemon(spark, f"{tmp}/registry.json", f"{tmp}/data")
    events: dict = {"supervised_at": None, "spans": {}}
    lock = threading.Lock()

    def fake_find_feeds(trigger=None):
        events["supervised_at"] = time.monotonic()
        return []

    def fake_status(spark_, sip):
        return {"compaction_debt": 1.0}

    def fake_fold(spark_, sip, id_col="doc_id", **kwargs):
        t0 = time.monotonic()
        time.sleep(0.8)
        with lock:
            events["spans"][sip] = (t0, time.monotonic())
        return {"mode": "stub"}

    monkeypatch.setattr(d, "find_feeds", fake_find_feeds)
    monkeypatch.setattr(ss, "index_status", fake_status)
    monkeypatch.setattr(ss, "compact_index_incremental", fake_fold)

    t_start = time.monotonic()
    result = d.watchdog()
    wall = time.monotonic() - t_start
    spans = list(events["spans"].values())
    assert len(spans) == 2
    assert set(result["search_compacted"]) == {"feed-a", "feed-b"}
    # supervision strictly precedes every maintenance unit
    assert all(events["supervised_at"] <= s for s, _ in spans)
    # the two folds ran CONCURRENTLY: each started before the other
    # finished, and the pass took ≈ max(fold), not the 1.6 s sum
    (a0, a1), (b0, b1) = spans
    assert a0 < b1 and b0 < a1
    assert wall < 1.5
