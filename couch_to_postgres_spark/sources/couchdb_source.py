"""First-class CouchDB Structured Streaming source (SURVEY.md §2A A1):

    spark.dataSource.register(CouchDBDataSource)
    spark.readStream.format("couchdb")
         .option("url", "http://127.0.0.1:5984")
         .option("database", "articles")
         .load()                      # rows: (seq, id, deleted, doc)

Built on the public PySpark 4 Python Data Source API
(``pyspark.sql.datasource``). Offsets are the CouchDB ``since`` sequence
number, so ``checkpointLocation`` gives resumable consumption — the
`follow`-library semantics of the reference (lib/index.js:50-53,243-290)
with Spark owning the offset log. ``limit`` bounds each micro-batch
(A2 admission control).

Batch mode (``spark.read.format("couchdb")``) drains the feed once —
the initial-sync path.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CHANGES_STRUCT = StructType(
    [
        StructField("seq", LongType()),
        StructField("id", StringType()),
        StructField("deleted", BooleanType()),
        StructField("doc", StringType()),
    ]
)


def _drain(options: dict, since: int, limit: int, max_pages: int):
    # Imported lazily: this body runs on whatever process evaluates the
    # source (driver for simple stream readers, executors for batch).
    from couch_to_postgres_spark.sources.couchdb import (
        INACTIVITY_MS,
        CouchClient,
        continuous_changes_to_rows,
        poll_changes_to_rows,
        urllib_transport,
    )

    feed = options.get("feed")  # None | "longpoll" | "continuous"
    inactivity_ms = int(options.get("inactivityms", INACTIVITY_MS))
    # client-side socket timeout must outlast the server-side longpoll /
    # continuous window or every idle hold dies as a timeout instead of
    # an empty page / clean last_seq close
    timeout_s = 30.0 if feed is None else inactivity_ms / 1000.0 + 10.0
    client = CouchClient(
        options["url"],
        username=options.get("username"),
        password=options.get("password"),
        transport=urllib_transport(timeout=timeout_s),
    )
    if feed == "continuous":
        # one connection per "page" (the server closes the feed at
        # `limit` results); honor max_pages so a BATCH read drains the
        # whole database instead of silently truncating at one page —
        # the stream reader passes max_pages=1 (one batch per trigger)
        all_rows: list[tuple] = []
        for _ in range(max_pages):
            rows, new_since = continuous_changes_to_rows(
                client,
                options["database"],
                since=since,
                limit=limit,
                inactivity_ms=inactivity_ms,
                max_attempts=int(options.get("maxattempts", 1)),
                backoff_min_s=float(options.get("backoffminseconds", 10.0)),
                backoff_max_s=float(options.get("backoffmaxseconds", 60.0)),
            )
            all_rows.extend(rows)
            if not rows or new_since == since:
                return all_rows, new_since
            since = new_since
            if len(rows) < limit:
                return all_rows, since
        return all_rows, since
    return poll_changes_to_rows(
        client,
        options["database"],
        since=since,
        limit=limit,
        max_pages=max_pages,
        feed=feed,
        inactivity_ms=inactivity_ms,
        max_attempts=int(options.get("maxattempts", 1)),
        backoff_min_s=float(options.get("backoffminseconds", 10.0)),
        backoff_max_s=float(options.get("backoffmaxseconds", 60.0)),
    )


class CouchDBStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.limit = int(options.get("limit", 1000))
        self.start_since = int(options.get("since", 0))

    def initialOffset(self) -> dict:
        return {"since": self.start_since}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        since = int(start["since"])
        rows, last_seq = _drain(self.options, since, self.limit, max_pages=1)
        return iter(rows), {"since": max(last_seq, since)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay path after restart: re-drain the window; rev-compare merge
        # downstream absorbs duplicates (at-least-once)
        rows, _ = _drain(self.options, int(start["since"]), self.limit, max_pages=100)
        return iter(r for r in rows if r[0] <= int(end["since"]))

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the checkpoint log


class CouchDBBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)

    def read(self, partition) -> Iterator[tuple]:
        rows, _ = _drain(
            self.options,
            int(self.options.get("since", 0)),
            int(self.options.get("limit", 1000)),
            max_pages=int(self.options.get("maxPages", 10000)),
        )
        return iter(rows)


class CouchDBDataSource(DataSource):
    """``format("couchdb")`` — options: url, database, [username,
    password, since, limit, feed ("longpoll" holds each idle poll open
    for inactivityMs=30000 — change-arrival-bound latency; "continuous"
    streams newline-delimited changes over ONE held connection with
    incremental mid-stream delivery — the reference `follow` library's
    actual transport, lib/index.js:50-53), maxAttempts
    (>1 turns on the 10-60 s randomized reconnect backoff;
    backoffMinSeconds/backoffMaxSeconds tune the window)]. A missing
    database surfaces as CouchMissingDatabaseError (no_db_file) and is
    never retried."""

    @classmethod
    def name(cls) -> str:
        return "couchdb"

    def schema(self) -> StructType:
        return CHANGES_STRUCT

    def simpleStreamReader(self, schema: StructType) -> CouchDBStreamReader:
        return CouchDBStreamReader(self.options)

    def reader(self, schema: StructType) -> CouchDBBatchReader:
        return CouchDBBatchReader(self.options)


def register(spark) -> None:
    """Register the ``couchdb`` source, once per session: registering
    it again replaces the first registration and makes Spark log a
    WARN, and the daemon restarts a stopped feed through
    ``follow_couch`` on every watchdog pass."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists("couchdb"):
        spark.dataSource.register(CouchDBDataSource)


