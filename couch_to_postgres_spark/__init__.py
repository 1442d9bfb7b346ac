"""couch_to_postgres_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of sysadminmike/couch-to-postgres.

The reference (a Node.js CouchDB→Postgres CDC replicator plus a documented
SQL-over-jsonb query surface) is re-expressed Spark-first:

* the mirror table ``(id string, doc json-string)`` is a DataFrame / parquet
  table (``operators.mirror``),
* the change feed is a Structured Streaming source — a live CouchDB
  ``_changes`` feed through ``format("couchdb")``
  (``sources.couchdb_source``) or a change-log file stream
  (``sources.changes``) — whose position (the couch ``since``) lives in
  the query's checkpoint,
* the idempotent rev-compare upsert is a batch merge (``operators.cdc``),
* the SQL-over-jsonb query surface is the DataFrame/Spark-SQL builders in
  ``operators.query`` backed by the JSON function layer in ``functions.json``,
* writeback is a partition-batched HTTP sink (``sinks.writeback``),
* the multi-feed daemon is a registry of StreamingQuery instances
  (``streaming.daemon``),
* large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) live in ``extensions``.

Everything is built on public PySpark 4.x DataFrame / SQL / Structured
Streaming APIs; no custom Catalyst rules are needed (SURVEY.md §4).
"""

from couch_to_postgres_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
