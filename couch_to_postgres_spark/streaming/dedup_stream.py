"""Streaming incremental deduplication: continuously ingest documents,
accepting only those that are neither exact nor near duplicates of any
previously-accepted document.

The missing piece between batch `extensions.dedup` and a live training-data
pipeline: a corpus is not deduped once — it grows, and each arriving batch
must be checked against everything accepted so far WITHOUT rescanning the
corpus.

State (both plain parquet, append-only — no rewrite of accumulated state):

* ``<index>/md5``  — (doc_id, fp_md5): exact-dup index over normalized text;
* ``<index>/sigs`` — (doc_id, band, signature): MinHash LSH band index.

Per-batch plan shape, sized for a 100 TB accepted corpus:

1. within-batch dedup runs first (exact then near) — batch-local, small;
2. cross-batch exact: join batch md5s against the md5 index — the BATCH
   side broadcasts, the index never shuffles;
3. cross-batch near: join batch band signatures against the sig index on
   (band, signature) — again batch side broadcast, index side a pure scan
   (at scale: partition the index by signature bucket so the scan prunes);
4. candidates verify with exact n-gram Jaccard — accepted texts fetched by
   a broadcast semi-join of the (tiny) candidate id set against the corpus;
5. survivors append to the corpus and both indexes.

Delivery is at-least-once (foreachBatch); replays are harmless because a
replayed doc is an exact dup of its accepted self and drops in step 2 —
the same idempotence argument as the CDC merge (reference
lib/index.js:110-128).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from couch_to_postgres_spark.extensions import dedup as X
from couch_to_postgres_spark.extensions.text import fingerprint
from couch_to_postgres_spark.streaming.meta_io import read_components


@dataclass
class DedupBatchStats:
    arrived: int
    dropped_within_batch: int
    dropped_exact_vs_corpus: int
    dropped_near_vs_corpus: int
    accepted: int


def read_accepted(spark: SparkSession, corpus_path: str) -> DataFrame:
    (accepted,) = read_components(
        spark, [(corpus_path, "doc_id long, text string")], "doc_id"
    )
    return accepted


def dedup_batch(
    spark: SparkSession,
    index_path: str,
    corpus_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_bands: int = 8,
    shingle_n: int = 3,
) -> DedupBatchStats:
    """Accept the non-duplicate subset of ``batch`` into the corpus and
    update both dedup indexes. Returns per-stage drop counts."""
    md5_path = os.path.join(index_path, "md5")
    sig_path = os.path.join(index_path, "sigs")

    batch = batch.select(F.col(id_col), F.col(text_col)).persist()
    arrived = batch.count()

    # 1. within-batch: exact (min-id keep) then near-dup
    local = X.exact_dedup(batch, text_col, id_col)
    local = X.near_dedup(
        local, text_col, id_col, jaccard_threshold, num_bands, shingle_n
    ).persist()
    n_local = local.count()

    # 2. cross-batch exact: normalized-md5 join against the index.
    # The index side stays where it is; the batch md5 set broadcasts.
    md5_index, sig_index = read_components(
        spark,
        [
            (md5_path, "doc_id long, fp_md5 string"),
            (sig_path, "doc_id long, band int, signature string"),
        ],
        "doc_id",
    )
    batch_fp = fingerprint(local, text_col, id_col).select(id_col, "fp_md5")
    exact_dups = (
        md5_index.join(
            F.broadcast(batch_fp), on="fp_md5", how="inner"
        )
        .select(batch_fp[id_col].alias(id_col))
        .distinct()
    )
    after_exact = local.join(exact_dups, on=id_col, how="left_anti").persist()
    n_after_exact = after_exact.count()

    # 3-4. cross-batch near: LSH candidates against the sig index, then
    # exact-jaccard verify against the accepted texts of just the
    # candidate partners.
    batch_sigs = X.minhash_signatures(
        after_exact, text_col, id_col, num_bands, shingle_n
    ).persist()
    candidates = (
        sig_index.withColumnRenamed(id_col, "accepted_id")
        .join(
            F.broadcast(
                batch_sigs.withColumnRenamed(id_col, "batch_id")
            ),
            on=["band", "signature"],
            how="inner",
        )
        .select("batch_id", "accepted_id")
        .distinct()
    )
    partner_ids = candidates.select(
        F.col("accepted_id").alias(id_col)
    ).distinct()
    partners = read_accepted(spark, corpus_path).join(
        F.broadcast(partner_ids), on=id_col, how="left_semi"
    )
    # ngram_jaccard expects one frame holding both sides' texts and pairs
    # keyed (id_a, id_b); batch ids never collide with accepted ids here
    # because within-batch step 1 already removed id collisions upstream —
    # but ids ARE allowed to collide across the two sets in general, so
    # disambiguate by unioning with distinct roles post-verify instead.
    pair_frame = candidates.select(
        F.col("batch_id").alias("id_a"), F.col("accepted_id").alias("id_b")
    )
    both = after_exact.select(id_col, text_col).unionByName(
        partners.select(id_col, text_col)
    )
    verified = X.ngram_jaccard(both, pair_frame, text_col, id_col, shingle_n).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    near_dups = verified.select(F.col("id_a").alias(id_col)).distinct()
    accepted = after_exact.join(near_dups, on=id_col, how="left_anti").persist()
    n_accepted = accepted.count()

    # 5. append survivors to corpus + both indexes (append-only state)
    accepted.select(id_col, text_col).write.mode("append").parquet(corpus_path)
    fingerprint(accepted, text_col, id_col).select(id_col, "fp_md5").write.mode(
        "append"
    ).parquet(md5_path)
    batch_sigs.join(accepted.select(id_col), on=id_col, how="left_semi").write.mode(
        "append"
    ).parquet(sig_path)

    for df in (batch, local, after_exact, batch_sigs, accepted):
        df.unpersist()
    return DedupBatchStats(
        arrived=arrived,
        dropped_within_batch=arrived - n_local,
        dropped_exact_vs_corpus=n_local - n_after_exact,
        dropped_near_vs_corpus=n_after_exact - n_accepted,
        accepted=n_accepted,
    )


def dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    num_bands: int = 8,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Attach incremental dedup to any streaming DataFrame of documents.

    ``docs_stream`` is a ``readStream`` frame with (id_col, text_col);
    each micro-batch passes through ``dedup_batch`` — checkpointed,
    at-least-once, replay-safe (replays are exact dups of themselves)."""

    def _step(batch: DataFrame, epoch_id: int) -> None:
        dedup_batch(
            batch.sparkSession,
            index_path,
            corpus_path,
            batch,
            text_col=text_col,
            id_col=id_col,
            jaccard_threshold=jaccard_threshold,
            num_bands=num_bands,
        )

    writer = (
        docs_stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**trigger)
    return writer.start()


def dedup_stream_within_watermark(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact streaming dedup with Spark's built-in bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key in the state store
    only until the watermark passes it, so state is O(keys per watermark
    horizon) — NOT O(all keys ever) like plain ``dropDuplicates`` on a
    stream.

    The built-in complement to the custom index-backed pipeline above:
    use THIS when duplicates arrive close together in event time (retry
    storms, producer replays — the at-least-once transport's own echo),
    and the index-backed pipeline when a dup may arrive months after the
    original (corpus-wide dedup, which no bounded state can answer).

    Batch equivalence caveat: on a batch frame this keeps the EARLIEST
    row per key over the whole frame (deterministic: event-time order
    with an md5 row-hash tie-break). Stream ≡ batch holds exactly when
    each key's duplicates all fall inside the watermark horizon — the
    retry-storm regime this operator is for (pinned in tests). A dup
    arriving after its key expired from streaming state is re-emitted by
    the stream but deduped by the batch path — that long-gap regime is
    the index-backed pipeline's job, not this one's.
    """
    keys = key_cols or ["doc_id"]
    if stream.isStreaming:
        wm = stream.withWatermark(ts_col, watermark)
        return wm.dropDuplicatesWithinWatermark(keys)
    # batch frames have no watermark state machine: keep the first row
    # per key by event time, tie-broken by a content hash so the survivor
    # is deterministic (plain dropDuplicates keeps a partition-order-
    # dependent row — unacceptable in an engine-reproducible pipeline)
    from pyspark.sql import Window as W

    tie = F.md5(F.to_json(F.struct(*[F.col(c) for c in stream.columns])))
    rn = F.row_number().over(
        W.partitionBy(*keys).orderBy(F.col(ts_col), tie)
    )
    return (
        stream.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    )
