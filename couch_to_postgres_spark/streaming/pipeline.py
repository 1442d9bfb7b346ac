"""The streaming replication pipeline (SURVEY.md §3 entry point 1,
build-plan Stage 4): change stream → idempotent merge → parquet mirror.

Spark shape of the reference lifecycle::

    read_change_stream(...)                      # A1 source, A2 rate limit
      .writeStream.foreachBatch(merge)           # A3-A7 via operators.cdc
      .option("checkpointLocation", ...)         # A8/A9 checkpointer
      .trigger(...)                              # cadence (20 s / availableNow)

Delivery is at-least-once (offsets commit after the batch, like the
reference's trailing `since` checkpoint, lib/index.js:62-94); the
rev-aware merge makes replays no-ops, so the mirror state is effectively
exactly-once — the same argument the reference makes (lib/index.js:110-128).

Mirror persistence is pure parquet with an atomic directory swap
(write to ``<path>.tmp`` → rename). Where Delta/Iceberg is available the
same ``apply_changes`` output feeds ``MERGE INTO`` instead; nothing else
changes.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from couch_to_postgres_spark.operators.cdc import apply_changes
from couch_to_postgres_spark.operators.mirror import MIRROR_SCHEMA
from couch_to_postgres_spark.sources.changes import read_change_stream
from couch_to_postgres_spark.streaming.commit import publish, writing
from couch_to_postgres_spark.streaming.meta_io import open_parquet


CURRENT_LINK = "current"
KEEP_VERSIONS = 2


def _current_version(mirror_path: str) -> str | None:
    """Resolve the live version directory, or None when empty mirror.
    Supports the legacy flat layout (parquet files directly at the path)."""
    link = os.path.join(mirror_path, CURRENT_LINK)
    if os.path.islink(link) or os.path.exists(link):
        return os.path.realpath(link)
    if os.path.exists(mirror_path) and any(
        f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(mirror_path)
    ):
        return mirror_path  # legacy flat layout
    return None


def read_mirror(spark: SparkSession, mirror_path: str) -> DataFrame:
    """Current mirror state, whatever the layout — the partitioned
    (bucket=…) default, the flat MVCC version layout, or the legacy flat
    layout; empty mirror when the table doesn't exist yet (auto-creation
    parity: bin/daemon.js:233-262).

    MVCC reads (flat layout): the ``current`` symlink is resolved to its
    immutable version directory BEFORE planning, so a concurrent merge
    swapping the link never yanks files out from under a running scan —
    old versions are retained for ``KEEP_VERSIONS`` swaps. (The
    partitioned layout's analog is the atomic per-bucket directory swap.)
    """
    from couch_to_postgres_spark.streaming.partitioned import (
        read_meta,
        read_partitioned_mirror,
    )

    if read_meta(mirror_path) is not None:
        return read_partitioned_mirror(spark, mirror_path)
    version = _current_version(mirror_path)
    if version is not None:
        return open_parquet(spark, version)
    return spark.createDataFrame([], MIRROR_SCHEMA)


def read_count_view(spark: SparkSession, mirror_path: str, name: str) -> DataFrame:
    """Current state of a live count view maintained by ``upsert_mirror``
    (``count_views=...``). Columns ``(key, cnt)``."""
    return open_parquet(spark, os.path.join(mirror_path, "_views", name))


def _update_count_view(
    spark: SparkSession,
    mirror_path: str,
    name: str,
    key: Column,
    pre: DataFrame,
    post: DataFrame,
    touched: DataFrame,
) -> None:
    """Advance one live view by the batch's O(touched) count delta.

    Crash-consistency note (documented, not hidden): the view lands after
    the mirror's symlink swap, so a crash in between leaves the view one
    batch behind — and because the replayed merge no-ops, the delta
    recomputed on replay is zero and does NOT repair it. The repair path
    is a full rebuild (delete the view dir; next batch bootstraps from the
    mirror) — the summary-table-plus-periodic-repair pattern. A table
    format with multi-table transactions (Delta/Iceberg) closes the window
    by committing mirror and view in one transaction."""
    from couch_to_postgres_spark.operators.views import (
        apply_count_delta,
        count_view_delta,
    )

    vdir = os.path.join(mirror_path, "_views", name)
    with writing(mirror_path):
        if os.path.exists(vdir):
            view = open_parquet(spark, vdir)
        else:
            # bootstrap: one full GROUP BY over the PRE state, then the
            # delta brings it to post — after this, never a full recompute
            view = pre.groupBy(key.alias("key")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
        new = apply_count_delta(view, count_view_delta(pre, post, touched, key))
        tmp = vdir + ".tmp"
        new.write.mode("overwrite").parquet(tmp)  # materializes before the swap
        publish(mirror_path, [(vdir, tmp)])


def upsert_mirror(
    spark: SparkSession,
    mirror_path: str,
    batch: DataFrame,
    type_filter: str | None = None,
    map_hook: Callable[[Column], Column] | None = None,
    count_views: dict[str, Column] | None = None,
) -> None:
    """Merge one change batch into the parquet mirror, atomically and
    MVCC-safe for concurrent readers.

    The merged state lands in a fresh immutable version directory
    (``v-<n>``); the ``current`` symlink is swapped atomically (symlink
    rename); older versions are garbage-collected after ``KEEP_VERSIONS``
    swaps so in-flight readers of the previous version finish cleanly.
    A crash mid-write leaves the old version live; replaying the batch
    after restart converges (idempotent merge). At 100 TB the same scheme
    is what table formats (Delta/Iceberg) do with manifest files — the
    merge plan itself (broadcast-anti-join, no mirror shuffle) is
    unchanged.
    """
    import time

    current = read_mirror(spark, mirror_path)
    # Persist the batch: apply_changes references it twice (touched-key
    # anti-join side + upsert union side); without this the whole
    # batch-dedup window computes twice per merge. The count both
    # materializes the cache and sizes the join strategy: micro-batches
    # broadcast their key set (zero mirror exchange); backfill-sized
    # batches (> ~1M keys) fall back to shuffled sort-merge + AQE skew
    # handling rather than OOMing the driver with a giant broadcast.
    batch = batch.persist()
    try:
        n = batch.count()
        merged = apply_changes(
            current,
            batch,
            type_filter=type_filter,
            map_hook=map_hook,
            broadcast_changes=n <= 1_000_000,
        )
        os.makedirs(mirror_path, exist_ok=True)
        version_name = f"v-{time.time_ns()}"
        version_dir = os.path.join(mirror_path, version_name)
        merged.write.mode("overwrite").parquet(version_dir)
        # atomic publish: rename of a symlink replaces it in one step
        link = os.path.join(mirror_path, CURRENT_LINK)
        tmp_link = os.path.join(mirror_path, f".{CURRENT_LINK}.{version_name}")
        os.symlink(version_name, tmp_link)
        os.replace(tmp_link, link)
        if count_views:
            # live views advance by O(touched) deltas between the pre
            # state (`current`, already resolved to its immutable version)
            # and the just-written post version — never a full recompute
            post = open_parquet(spark, version_dir)
            touched = batch.select("id").distinct()
            for name, key in count_views.items():
                _update_count_view(
                    spark, mirror_path, name, key, current, post, touched
                )
    finally:
        batch.unpersist()
    # GC old versions (keep the most recent KEEP_VERSIONS for readers)
    versions = sorted(
        (d for d in os.listdir(mirror_path) if d.startswith("v-")), reverse=True
    )
    for stale in versions[KEEP_VERSIONS:]:
        shutil.rmtree(os.path.join(mirror_path, stale), ignore_errors=True)
    # migrate-away cleanup: drop legacy flat-layout files at the top level
    for f in os.listdir(mirror_path):
        if f.endswith(".parquet") or f == "_SUCCESS":
            p = os.path.join(mirror_path, f)
            if os.path.isfile(p):
                os.remove(p)


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
    count_views: dict[str, Column] | None = None,
    quarantine_path: str | None = None,
    sink: str = "partitioned",
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

    ``sink`` picks the mirror layout: ``"partitioned"`` (default) merges
    into the bucket-partitioned mirror — per-batch cost O(touched
    buckets), the only plan that holds at 100 TB where a steady-state
    micro-batch touches a sliver of the mirror; ``"flat"`` is the
    whole-mirror-rewrite MVCC sink, fine for tiny mirrors and kept for
    them. An existing mirror's layout wins over the argument (a flat
    mirror keeps merging flat rather than silently forking state).
    ``num_buckets`` only matters at partitioned bootstrap (None =
    auto-size from the first batch); afterwards the persisted layout
    value is authoritative.

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
    if sink not in ("partitioned", "flat"):
        raise ValueError(f"unknown sink {sink!r}: use 'partitioned' or 'flat'")
    stream = read_change_stream(
        spark,
        changes_path,
        max_files_per_trigger,
        with_corrupt_column=quarantine_path is not None,
    )

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        from couch_to_postgres_spark.streaming.partitioned import (
            upsert_partitioned_mirror,
        )

        raw = None
        if quarantine_path is not None:
            # keep ALL columns in the quarantine query: Spark's analyzer
            # rejects any query over a raw JSON scan that references only
            # _corrupt_record (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
            # parsed columns are NULL on poison rows anyway, and the
            # persist keeps the JSON parse single-pass across the
            # quarantine write and the merge
            raw = batch = batch.persist()
            bad = batch.filter(F.col("_corrupt_record").isNotNull())
            if bad.count() > 0:
                # rename on the way out: a stored JSON file whose only
                # field is literally `_corrupt_record` would trip the
                # same analyzer rule for whoever reads the quarantine
                bad.withColumnRenamed("_corrupt_record", "raw_record").write.mode(
                    "append"
                ).json(quarantine_path)
            batch = batch.filter(F.col("_corrupt_record").isNull()).drop(
                "_corrupt_record"
            )
        elif (
            search_index_path is not None
            or shingle_index_path is not None
            or vector_index_path is not None
        ):
            # the index feed re-runs the batch source on top of the
            # mirror merge's own actions (and search_index_batch itself
            # runs several) — persist once so the change-log scan is
            # single-pass per epoch instead of re-read per action
            raw = batch = batch.persist()
        try:
            # layout of an EXISTING mirror wins over the sink argument.
            # Meta check FIRST: a partitioned write leaves a top-level
            # _SUCCESS marker that _current_version would misread as the
            # legacy flat layout.
            from couch_to_postgres_spark.streaming.partitioned import read_meta

            use_partitioned = sink == "partitioned"
            if read_meta(mirror_path) is not None:
                use_partitioned = True
            elif _current_version(mirror_path) is not None:
                use_partitioned = False
            if use_partitioned:
                upsert_partitioned_mirror(
                    batch.sparkSession,
                    mirror_path,
                    batch,
                    num_buckets=num_buckets,
                    type_filter=type_filter,
                    map_hook=map_hook,
                    count_views=count_views,
                )
            else:
                upsert_mirror(
                    batch.sparkSession,
                    mirror_path,
                    batch,
                    type_filter=type_filter,
                    map_hook=map_hook,
                    count_views=count_views,
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
    count_views: dict[str, Column] | None = None,
    sink: str = "partitioned",
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
    transient). ``search_index_path``/``search_text``/
    ``shingle_index_path`` maintain the live BM25 / decontamination
    shingle indexes from the same micro-batches, exactly as in
    :func:`follow`."""
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
    stream = reader.load()

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        from couch_to_postgres_spark.streaming.partitioned import (
            read_meta,
            upsert_partitioned_mirror,
        )

        use_partitioned = sink == "partitioned"
        if read_meta(mirror_path) is not None:
            use_partitioned = True
        elif _current_version(mirror_path) is not None:
            use_partitioned = False
        raw = None
        if (
            search_index_path is not None
            or shingle_index_path is not None
            or vector_index_path is not None
        ):
            # persist: the index feed would otherwise re-pull the
            # micro-batch from the live _changes source on top of the
            # merge's own actions (see follow._merge)
            raw = batch = batch.persist()
        try:
            if use_partitioned:
                upsert_partitioned_mirror(
                    batch.sparkSession,
                    mirror_path,
                    batch,
                    num_buckets=num_buckets,
                    type_filter=type_filter,
                    map_hook=map_hook,
                    count_views=count_views,
                )
            else:
                upsert_mirror(
                    batch.sparkSession,
                    mirror_path,
                    batch,
                    type_filter=type_filter,
                    map_hook=map_hook,
                    count_views=count_views,
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
