"""The streaming replication pipeline (SURVEY.md §3 entry point 1,
build-plan Stage 4): change stream → idempotent merge → parquet mirror.

Spark shape of the reference lifecycle::

    read_change_stream(...)                      # A1 source, A2 rate limit
      .writeStream.foreachBatch(merge)           # A3-A7 via operators.cdc
      .option("checkpointLocation", ...)         # A8/A9 checkpointer
      .trigger(...)                              # cadence (20 s / availableNow)

The feed position is the stream offset — change-log files for
``follow``, the couch ``since`` for ``follow_couch`` — and lives only in
``checkpointLocation`` (Spark's offset log, the reference's
``since_checkpoints`` row). Delivery is at-least-once (offsets commit
after the batch, like the reference's trailing `since` checkpoint,
lib/index.js:62-94); the rev-aware merge makes replays no-ops, so the
mirror state is effectively exactly-once — the same argument the
reference makes (lib/index.js:110-128).

The mirror is the bucket-partitioned parquet layout of
:mod:`streaming.partitioned`: ``_mirror_meta.json``, ``bucket=N/`` base
dirs and a ``_delta/`` log, every directory swap published through
``commit.publish``. A path with no meta file holds no mirror yet; the
first batch bootstraps one. Where Delta/Iceberg is available the same
``apply_changes`` output feeds ``MERGE INTO`` instead; nothing else
changes.

The index twins (BM25 search, decontamination shingles, IVF vectors) are
declared once, in :data:`TWINS`. Each row names the twin's registry flag
and storage directory, how one micro-batch feeds it, and the status,
debt-triggered fold and fsck calls the daemon runs on it. The merge is
one ``foreachBatch`` writer that fans out to its sinks: the mirror
upsert, then each flagged twin's feed, in table order, over one per-key
latest frame built once per batch. The table calls every entry point
through its module at call time, so a wrapper set as a module attribute
sees the call.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from couch_to_postgres_spark.operators.cdc import filtered_latest
from couch_to_postgres_spark.sources.changes import read_change_stream
from couch_to_postgres_spark.streaming import (
    partitioned,
    search_stream,
    stats_stream,
    vector_stream,
)
from couch_to_postgres_spark.streaming.commit import writing
from couch_to_postgres_spark.streaming.meta_io import read_meta_rows


def read_mirror(spark: SparkSession, mirror_path: str) -> DataFrame:
    """Current mirror state, deltas resolved; an empty mirror when the
    path holds none yet (auto-creation parity: bin/daemon.js:233-262)."""
    return partitioned.read_partitioned_mirror(spark, mirror_path)


def _latest_docs(
    batch: DataFrame,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
) -> DataFrame:
    """The (seq, doc_id, deleted, doc) frame every twin feed reads: the
    per-key latest change after the mirror's own ``filtered_latest``
    type filter (index state cannot drift from the mirror on filter
    semantics), with ``map_hook`` applied to the doc."""
    doc = F.col("doc")
    if map_hook is not None:
        doc = map_hook(doc)
    return filtered_latest(batch, type_filter).select(
        F.col("seq").cast("long").alias("seq"),
        F.col("id").alias("doc_id"),
        F.col("deleted").cast("boolean").alias("deleted"),
        doc.alias("doc"),
    )


def _text_changes(
    latest: DataFrame, search_text: Callable[[Column], Column] | None
) -> DataFrame:
    """(seq, doc_id, deleted, text) for the search and shingle twins:
    ``search_text`` of the doc (default: JSON punctuation stripped, so
    keys and values index as terms); deletes carry NULL text (the
    tombstone does the work)."""
    doc = F.col("doc")
    text = (
        search_text(doc)
        if search_text is not None
        else F.regexp_replace(doc, '[,:"{}]', " ")
    )
    return latest.select(
        "seq", "doc_id", "deleted",
        F.when(F.col("deleted"), F.lit(None).cast("string"))
        .otherwise(text)
        .alias("text"),
    )


def _feed_search(latest: DataFrame, path: str, search_text=None, **_) -> None:
    """One micro-batch into the streaming BM25 index."""
    search_stream.search_index_batch(
        latest.sparkSession, path, _text_changes(latest, search_text)
    )


def _feed_shingle(
    latest: DataFrame, path: str, search_text=None, shingle_n: int = 3, **_
) -> None:
    """One micro-batch into the decontamination shingle index: the
    search twin's text, re-expressed as md5 shingle fingerprints by
    ``stats_stream.shingle_changes`` so the same LSM index maintains
    them as tokens. The width is recorded next to the index, so a
    reader probing with a different ``shingle_n`` fails loudly instead
    of silently matching nothing."""
    spark = latest.sparkSession
    stats_stream.record_shingle_n(spark, path, shingle_n)
    search_stream.search_index_batch(
        spark,
        path,
        stats_stream.shingle_changes(
            _text_changes(latest, search_text), shingle_n=shingle_n
        ),
        # a bootstrapped shingle base takes the impact-less layout the
        # daemon's folds keep for the twin
        impacts_default=False,
    )


def _feed_vector(
    latest: DataFrame,
    path: str,
    vector_field: str = "$.embedding",
    vector_cells: int = 16,
    **_,
) -> None:
    """One micro-batch into the IVF vector index
    (:mod:`streaming.vector_stream`), the embedding read from the doc
    JSON at ``vector_field``. An upsert without the field is a
    tombstone for this index only (the mirror and text twins still see
    the doc): a previously-embedded doc updated to a version without
    the field must leave the ANN results, and a never-embedded doc's
    tombstone is harmless.

    Quantizer bootstrap: pre-init batches buffer into the index's
    ``pending`` dir until enough upserts exist to train the full
    configured cell count, so a trickle feed's 1-2-doc first batch does
    not freeze a 1-2-cell quantizer. The flush trains on the buffered
    latest versions, ingests the buffer as one batch, and freezes the
    quantizer. A small feed that never reaches ``vector_cells`` upserts
    is force-flushed by the daemon watchdog (trained < configured is
    then surfaced as ``quantizer_degraded`` in `/_status`)."""
    spark = latest.sparkSession
    emb = F.from_json(
        F.get_json_object(F.col("doc"), vector_field), "array<double>"
    )
    changes = latest.select(
        "seq",
        F.col("doc_id").alias("vec_id"),
        # field-less upserts tombstone (never silently skip: the doc's
        # OLD vector would otherwise stay live in the index forever)
        (F.col("deleted") | emb.isNull()).alias("deleted"),
        F.when(F.col("deleted"), F.lit(None).cast("array<double>"))
        .otherwise(emb)
        .alias("embedding"),
    )
    # the whole route decision runs under the index's path lock: the
    # watchdog's force-flush can otherwise init the quantizer and retire
    # the pending dir between this thread's quantizer check and its
    # append, sweeping the appended rows away un-ingested. The lock is
    # reentrant, so the inner append/flush/batch calls re-acquire it.
    with writing(path):
        if not read_meta_rows(spark, vector_stream._quantizer_path(path)):
            buffered = vector_stream.append_pending(spark, path, changes)
            if buffered >= 0:
                if buffered >= int(vector_cells):
                    vector_stream.flush_pending(
                        spark, path, n_cells=int(vector_cells)
                    )
                return
            # -1: a concurrent flush initialized the index after our
            # check — fall through to the post-init ingest path
        # at-least-once recovery: a crash between quantizer init and the
        # pending ingest leaves the buffer behind — drain it first
        if os.path.isdir(vector_stream._pending_path(path)):
            vector_stream.flush_pending(spark, path, n_cells=int(vector_cells))
        vector_stream.vector_index_batch(spark, path, changes)


@dataclass(frozen=True)
class Twin:
    """One index twin of the mirror, kept in step with it from the same
    micro-batches."""

    #: prefix of the watchdog's ``<name>_compacted`` result key
    name: str
    #: FeedConfig flag, `/_status` and `/_fsck` key; ``follow`` takes
    #: the index root as ``<flag>_path``
    flag: str
    #: storage directory under the daemon's ``data_root``
    directory: str
    #: ``(latest, path, **options)``: one micro-batch into the index
    feed: Callable[..., None]
    status: Callable[[SparkSession, str], dict]
    #: the debt-triggered fold the watchdog runs
    fold: Callable[[SparkSession, str], dict]
    fsck: Callable[[SparkSession, str], dict]
    #: fold telemetry the watchdog reports after ``debt``
    fold_fields: tuple[str, ...]


_LSM_FOLD_FIELDS = (
    "mode", "affected_pairs", "affected_buckets", "total_buckets",
    "churned_docs",
)

TWINS: tuple[Twin, ...] = (
    Twin(
        "search", "search_index", "search", _feed_search,
        lambda spark, p: search_stream.index_status(spark, p),
        lambda spark, p: search_stream.compact_index_incremental(spark, p),
        lambda spark, p: search_stream.search_index_fsck(spark, p),
        _LSM_FOLD_FIELDS,
    ),
    Twin(
        "shingle", "shingle_index", "shingles", _feed_shingle,
        lambda spark, p: search_stream.index_status(spark, p),
        # no MaxScore impact layer: fingerprint tokens are probed by
        # equality, never BM25-ranked, and the impact layer is the
        # dominant write cost of a fold
        lambda spark, p: search_stream.compact_index_incremental(
            spark, p, impacts_default=False
        ),
        lambda spark, p: search_stream.search_index_fsck(spark, p),
        _LSM_FOLD_FIELDS,
    ),
    Twin(
        "vector", "vector_index", "vectors", _feed_vector,
        lambda spark, p: vector_stream.vector_index_status(spark, p),
        lambda spark, p: vector_stream.compact_vector_index_incremental(
            spark, p
        ),
        lambda spark, p: vector_stream.vector_index_fsck(spark, p),
        ("mode", "n_live", "churned_docs", "affected_cells", "total_cells"),
    ),
)


def _twin_feeds(
    paths: dict[str, str | None], **options
) -> list[Callable[[DataFrame], None]]:
    """The per-batch feeds, in table order, of the twins whose index
    root in ``paths`` (keyed by twin name) is set, each bound to its
    root and the feed options."""
    return [
        partial(t.feed, path=paths[t.name], **options)
        for t in TWINS
        if paths[t.name] is not None
    ]


def _start_merge(
    stream: DataFrame,
    mirror_path: str,
    checkpoint_path: str,
    trigger: dict | None,
    query_name: str | None,
    quarantine_path: str | None,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    num_buckets: int | None,
    feeds: list[Callable[[DataFrame], None]],
) -> StreamingQuery:
    """Start the replication query over ``stream``: each micro-batch
    merges into the partitioned mirror, then runs the twin ``feeds``
    over one per-key latest frame. The one writer behind :func:`follow`
    and :func:`follow_couch`, which differ only in the stream they
    build and in ``follow``'s quarantine split."""

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        raw = None
        if quarantine_path is not None or feeds:
            # the quarantine split and the index feeds re-run the batch
            # source on top of the mirror merge's own actions (and
            # search_index_batch itself runs several) — persist once so
            # the source is read once per epoch instead of per action
            raw = batch = batch.persist()
        try:
            if quarantine_path is not None:
                # keep ALL columns in the quarantine query: Spark's
                # analyzer rejects any query over a raw JSON scan that
                # references only _corrupt_record
                # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the parsed
                # columns are NULL on poison rows anyway
                bad = batch.filter(F.col("_corrupt_record").isNotNull())
                if bad.count() > 0:
                    # rename on the way out: a stored JSON file whose
                    # only field is literally `_corrupt_record` would
                    # trip the same analyzer rule for its readers
                    bad.withColumnRenamed(
                        "_corrupt_record", "raw_record"
                    ).write.mode("append").json(quarantine_path)
                batch = batch.filter(
                    F.col("_corrupt_record").isNull()
                ).drop("_corrupt_record")
            partitioned.upsert_partitioned_mirror(
                batch.sparkSession,
                mirror_path,
                batch,
                num_buckets=num_buckets,
                type_filter=type_filter,
                map_hook=map_hook,
            )
            if feeds:
                latest = _latest_docs(batch, type_filter, map_hook)
                for feed in feeds:
                    feed(latest)
        finally:
            # unpersist the RAW batch: the upsert only unpersists its
            # own (filtered) child, so without this a processingTime
            # daemon accumulates one cached batch per epoch — unbounded
            if raw is not None:
                raw.unpersist()

    writer = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**trigger)
    return writer.start()


def follow(
    spark: SparkSession,
    changes_path: str,
    mirror_path: str,
    checkpoint_path: str,
    type_filter: str | None = None,
    map_hook: Callable[[Column], Column] | None = None,
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
    query_name: str | None = None,
    quarantine_path: str | None = None,
    num_buckets: int | None = None,
    search_index_path: str | None = None,
    search_text: Callable[[Column], Column] | None = None,
    shingle_index_path: str | None = None,
    shingle_n: int = 3,
    vector_index_path: str | None = None,
    vector_field: str = "$.embedding",
    vector_cells: int = 16,
) -> StreamingQuery:
    """Start one feed's replication query (the `engine.follow(db)` API —
    the reference's `new PostgresCouchDB(...).start()`,
    bin/daemon.js:120-129).

    Each micro-batch merges into the bucket-partitioned mirror
    (:func:`partitioned.upsert_partitioned_mirror`): per-batch cost
    O(touched buckets), or O(batch) when it appends to the delta log.
    ``num_buckets`` only matters at bootstrap (None = auto-size from
    the first batch); afterwards the persisted layout value is
    authoritative.

    ``search_index_path`` additionally maintains the streaming BM25
    index (``streaming/search_stream.py``) from the SAME micro-batches —
    the mirror becomes a searchable live corpus with one flag, at
    O(changed docs) per batch on top of the merge. The index sees
    exactly what the mirror sees: the per-key latest change after
    ``type_filter`` (shared ``filtered_latest`` — the two states cannot
    drift on filter semantics) with ``map_hook`` applied, tokenized by
    ``search_text`` (doc-JSON column → text column; default strips JSON
    punctuation so keys and values index as terms). Replay-safe for the
    index's own reason: re-appended rows are byte-identical, liveness is
    max-seq.

    ``shingle_index_path`` maintains the decontamination SHINGLE index
    the same way (the identical text through
    ``stats_stream.shingle_changes``), so benchmark decontamination
    reads live index state instead of re-shingling the mirror per run;
    ``shingle_n`` picks the fingerprinted n-gram width and is recorded
    in the index so mismatched readers fail loudly.
    ``vector_index_path`` maintains the IVF vector twin from the
    embedding at ``vector_field``, training ``vector_cells`` cells.

    ``trigger`` defaults to ``availableNow`` (drain-and-stop, the batch
    catch-up mode); pass ``{"processingTime": "20 seconds"}`` for the
    reference's steady-state cadence (lib/index.js:63).

    ``quarantine_path`` turns on poison-pill handling: change-log records
    that fail JSON parsing are appended there (dead-letter, with the raw
    line) and the remaining records merge normally — the feed keeps
    draining instead of crash-looping on one bad record. At-least-once
    like the mirror itself: a replayed batch re-appends its corrupt rows,
    so consumers of the quarantine dedupe on the raw line.
    """
    stream = read_change_stream(
        spark,
        changes_path,
        max_files_per_trigger,
        with_corrupt_column=quarantine_path is not None,
    )
    return _start_merge(
        stream, mirror_path, checkpoint_path, trigger, query_name,
        quarantine_path, type_filter, map_hook, num_buckets,
        _twin_feeds(
            {"search": search_index_path, "shingle": shingle_index_path,
             "vector": vector_index_path},
            search_text=search_text, shingle_n=shingle_n,
            vector_field=vector_field, vector_cells=vector_cells,
        ),
    )


def follow_couch(
    spark: SparkSession,
    url: str,
    database: str,
    mirror_path: str,
    checkpoint_path: str,
    type_filter: str | None = None,
    map_hook: Callable[[Column], Column] | None = None,
    limit: int | None = None,
    feed: str | None = None,
    inactivity_ms: int | None = None,
    trigger: dict | None = None,
    query_name: str | None = None,
    num_buckets: int | None = None,
    username: str | None = None,
    password: str | None = None,
    search_index_path: str | None = None,
    search_text: Callable[[Column], Column] | None = None,
    shingle_index_path: str | None = None,
    shingle_n: int = 3,
    vector_index_path: str | None = None,
    vector_field: str = "$.embedding",
    vector_cells: int = 16,
) -> StreamingQuery:
    """`follow` against a LIVE CouchDB `_changes` feed via the
    ``format("couchdb")`` data source (offset = couch ``since``, durable
    in the checkpoint) — the reference daemon's actual mode
    (bin/daemon.js:120-129 follows databases, not files). ``feed=
    "longpoll"`` gives change-arrival-bound latency; ``feed="continuous"``
    consumes the reference's actual streaming transport (one held
    connection, newline-delimited incremental lines — lib/index.js:50-53);
    ``limit`` is the A2 admission-control page bound. No quarantine option: the source
    parses upstream and surfaces transport errors typed (no_db_file ≠
    transient). The merge, the mirror layout and the index twins are
    exactly those of :func:`follow`.

    The ``couchdb`` source does not support ``Trigger.AvailableNow``:
    Spark falls back to one batch, so with the default trigger one
    start drains one ``_changes`` page (``limit`` rows), not the whole
    backlog — restart it, or pass a ``processingTime`` trigger, to
    catch up. A drain-to-the-end start waits until Spark's Python data
    sources can report an available-now end offset."""
    from couch_to_postgres_spark.sources.couchdb_source import register

    register(spark)
    reader = (
        spark.readStream.format("couchdb")
        .option("url", url)
        .option("database", database)
    )
    for k, v in (
        ("limit", limit),
        ("feed", feed),
        ("inactivityMs", inactivity_ms),
        ("username", username),
        ("password", password),
    ):
        if v is not None:
            reader = reader.option(k, v)
    return _start_merge(
        reader.load(), mirror_path, checkpoint_path, trigger, query_name,
        None, type_filter, map_hook, num_buckets,
        _twin_feeds(
            {"search": search_index_path, "shingle": shingle_index_path,
             "vector": vector_index_path},
            search_text=search_text, shingle_n=shingle_n,
            vector_field=vector_field, vector_cells=vector_cells,
        ),
    )


def mirror_doc_count(spark: SparkSession, mirror_path: str) -> int:
    """A19 reconciliation helper: replica cardinality.

    Retries on a stale file listing: a scan racing a concurrent bucket
    swap/compaction fails fast with FAILED_READ_FILE (the partitioned
    layout's documented non-MVCC trade) — re-planning gets a fresh
    listing, which is exactly Spark's own prescription for it. Bounded
    retries so a genuinely broken mirror still surfaces."""
    last: Exception | None = None
    for _ in range(3):
        try:
            return read_mirror(spark, mirror_path).count()
        except Exception as e:  # noqa: BLE001 — classify by message below
            msg = str(e)
            if "FAILED_READ_FILE" in msg or "FileNotFoundException" in msg:
                last = e
                continue
            raise
    raise last  # type: ignore[misc]
