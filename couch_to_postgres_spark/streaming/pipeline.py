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
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from couch_to_postgres_spark.sources.changes import read_change_stream
from couch_to_postgres_spark.streaming import partitioned
from couch_to_postgres_spark.streaming.commit import writing


def read_mirror(spark: SparkSession, mirror_path: str) -> DataFrame:
    """Current mirror state, deltas resolved; an empty mirror when the
    path holds none yet (auto-creation parity: bin/daemon.js:233-262)."""
    return partitioned.read_partitioned_mirror(spark, mirror_path)


def _latest_text_changes(
    batch: DataFrame,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    search_text: Callable[[Column], Column] | None,
) -> DataFrame:
    """The (seq, doc_id, deleted, text) change frame both index twins
    consume: per-key latest change after the shared ``filtered_latest``
    type-filter (index state cannot drift from the mirror on filter
    semantics), ``map_hook`` applied before tokenization, the default
    ``search_text`` stripping JSON punctuation so keys and values index
    as terms; deletes carry NULL text (the tombstone does the work)."""
    from couch_to_postgres_spark.operators.cdc import filtered_latest

    lat = filtered_latest(batch, type_filter)
    doc = F.col("doc")
    if map_hook is not None:
        doc = map_hook(doc)
    text = (
        search_text(doc)
        if search_text is not None
        else F.regexp_replace(doc, '[,:"{}]', " ")
    )
    return lat.select(
        F.col("seq").cast("long").alias("seq"),
        F.col("id").alias("doc_id"),
        F.col("deleted").cast("boolean").alias("deleted"),
        F.when(F.col("deleted"), F.lit(None).cast("string"))
        .otherwise(text)
        .alias("text"),
    )


def _feed_search_index(
    batch: DataFrame,
    search_index_path: str,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    search_text: Callable[[Column], Column] | None,
) -> None:
    """Keep the streaming BM25 index in step with the mirror from the
    SAME micro-batch (change frame: :func:`_latest_text_changes`).
    Shared by ``follow`` and ``follow_couch``."""
    from couch_to_postgres_spark.streaming.search_stream import (
        search_index_batch,
    )

    search_index_batch(
        batch.sparkSession,
        search_index_path,
        _latest_text_changes(batch, type_filter, map_hook, search_text),
    )


def _feed_shingle_index(
    batch: DataFrame,
    shingle_index_path: str,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    search_text: Callable[[Column], Column] | None,
    shingle_n: int = 3,
) -> None:
    """Keep the decontamination SHINGLE index in step with the mirror
    from the SAME micro-batch (VERDICT r08 #4): the identical change
    frame the BM25 twin consumes, re-expressed through
    ``stats_stream.shingle_changes`` so the SAME LSM index machinery
    maintains md5 shingle fingerprints as tokens — liveness, tombstones,
    watchdog compaction, and ``contamination_from_index`` /
    ``decontaminate_from_index`` all come for free. The shingle width
    is recorded next to the index (``record_shingle_n``) so a reader
    probing with a different ``shingle_n`` fails loudly instead of
    silently matching nothing (ADVICE r09)."""
    from couch_to_postgres_spark.streaming.search_stream import (
        search_index_batch,
    )
    from couch_to_postgres_spark.streaming.stats_stream import (
        record_shingle_n,
        shingle_changes,
    )

    record_shingle_n(batch.sparkSession, shingle_index_path, shingle_n)
    search_index_batch(
        batch.sparkSession,
        shingle_index_path,
        shingle_changes(
            _latest_text_changes(batch, type_filter, map_hook, search_text),
            shingle_n=shingle_n,
        ),
        # a bootstrapped shingle base takes the impact-less layout the
        # daemon's folds keep for the twin
        impacts_default=False,
    )


def _feed_vector_index(
    batch: DataFrame,
    vector_index_path: str,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    vector_field: str = "$.embedding",
    vector_cells: int = 16,
) -> None:
    """Keep the CDC-maintained VECTOR index
    (:mod:`streaming.vector_stream`) in step with the mirror from the
    SAME micro-batch: the per-key latest change after the shared
    type-filter (index state cannot drift from the mirror on filter
    semantics), the embedding extracted from the doc JSON at
    ``vector_field``. An upsert WITHOUT the field is a TOMBSTONE for
    this index only (the mirror and text twins still see the doc) — a
    previously-embedded doc updated to a version without the field
    must leave the ANN results, and a never-embedded doc's tombstone
    is harmless (ADVICE r10; a feed can mix embedded and plain docs).

    Quantizer bootstrap: pre-init batches BUFFER into the index's
    ``pending`` dir until enough upserts exist to train the full
    configured cell count — a trickle feed's 1-2-doc first batch must
    not freeze a 1-2-cell quantizer and silently degrade IVF pruning
    to near-full scans (ADVICE r10). The flush trains on the buffered
    latest versions, ingests the buffer as one batch, and FREEZES the
    quantizer (standard IVF maintenance, rebuild off-peak on drift).
    A small feed that never reaches ``vector_cells`` upserts is
    force-flushed by the daemon watchdog (trained < configured is
    then surfaced as ``quantizer_degraded`` in `/_status`)."""
    from couch_to_postgres_spark.operators.cdc import filtered_latest
    from couch_to_postgres_spark.streaming.meta_io import read_meta_rows
    from couch_to_postgres_spark.streaming.vector_stream import (
        _pending_path,
        _quantizer_path,
        append_pending,
        flush_pending,
        vector_index_batch,
    )

    spark = batch.sparkSession
    lat = filtered_latest(batch, type_filter)
    doc = F.col("doc")
    if map_hook is not None:
        doc = map_hook(doc)
    emb = F.from_json(
        F.get_json_object(doc, vector_field), "array<double>"
    )
    changes = lat.select(
        F.col("seq").cast("long").alias("seq"),
        F.col("id").alias("vec_id"),
        # field-less upserts tombstone (never silently skip: the doc's
        # OLD vector would otherwise stay live in the index forever)
        (F.col("deleted").cast("boolean") | emb.isNull()).alias("deleted"),
        F.when(F.col("deleted").cast("boolean"), F.lit(None).cast(
            "array<double>"
        )).otherwise(emb).alias("embedding"),
    )
    # the whole route decision runs under the index's path lock: the
    # daemon watchdog's force-flush (flush_pending) can otherwise init
    # the quantizer and retire the pending dir BETWEEN this thread's
    # quantizer check and its append, sweeping the appended rows away
    # un-ingested (ADVICE r11). The lock is reentrant, so the inner
    # append/flush/batch calls re-acquire it safely.
    with writing(vector_index_path):
        if not read_meta_rows(spark, _quantizer_path(vector_index_path)):
            buffered = append_pending(spark, vector_index_path, changes)
            if buffered >= 0:
                if buffered >= int(vector_cells):
                    flush_pending(
                        spark, vector_index_path, n_cells=int(vector_cells)
                    )
                return
            # -1: a concurrent flush initialized the index after our
            # check — fall through to the post-init ingest path
        # at-least-once recovery: a crash between quantizer init and the
        # pending ingest leaves the buffer behind — drain it first
        if os.path.isdir(_pending_path(vector_index_path)):
            flush_pending(
                spark, vector_index_path, n_cells=int(vector_cells)
            )
        vector_index_batch(spark, vector_index_path, changes)


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
    search_index_path: str | None,
    search_text: Callable[[Column], Column] | None,
    shingle_index_path: str | None,
    shingle_n: int,
    vector_index_path: str | None,
    vector_field: str,
    vector_cells: int,
) -> StreamingQuery:
    """Start the replication query over ``stream``: each micro-batch
    merges into the partitioned mirror and feeds the flagged index
    twins. The one writer behind :func:`follow` and
    :func:`follow_couch`, which differ only in the stream they build
    and in ``follow``'s quarantine split."""
    indexed = (
        search_index_path is not None
        or shingle_index_path is not None
        or vector_index_path is not None
    )

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        raw = None
        if quarantine_path is not None or indexed:
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
            if search_index_path is not None:
                _feed_search_index(
                    batch, search_index_path, type_filter, map_hook,
                    search_text,
                )
            if shingle_index_path is not None:
                _feed_shingle_index(
                    batch, shingle_index_path, type_filter, map_hook,
                    search_text, shingle_n=shingle_n,
                )
            if vector_index_path is not None:
                _feed_vector_index(
                    batch, vector_index_path, type_filter, map_hook,
                    vector_field=vector_field, vector_cells=vector_cells,
                )
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
    the same way (``_feed_shingle_index``: the identical change frame
    through ``stats_stream.shingle_changes``), so benchmark
    decontamination reads live index state instead of re-shingling the
    mirror per run; ``shingle_n`` picks the fingerprinted n-gram width
    and is recorded in the index so mismatched readers fail loudly.
    ``vector_index_path`` maintains the IVF vector twin from the
    embedding at ``vector_field`` (``_feed_vector_index``).

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
        search_index_path, search_text, shingle_index_path, shingle_n,
        vector_index_path, vector_field, vector_cells,
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
        search_index_path, search_text, shingle_index_path, shingle_n,
        vector_index_path, vector_field, vector_cells,
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
