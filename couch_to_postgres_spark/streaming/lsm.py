"""The log-structured-merge core under the search, shingle and vector
indexes.

Every index here is a compacted BASE plus an append-only TAIL of
versions and tombstones, and every one follows the same rules. This
module owns them; each index supplies only its payload (postings, dfs
and impacts for search; cell assignment for vectors).

* **Liveness** (:func:`live_versions`): a doc's live version is its
  max-seq version unless a tombstone with a higher seq exists. Updates
  append, deletes append a tombstone, and a replayed batch re-appends
  identical rows that the max-seq aggregate absorbs — the same
  rev-wins discipline as the CDC merge, so replays are no-ops.
* **Bucketing** (:func:`bucket`): ``pmod(hash(x), n)`` places tokens and
  ids into partition dirs; :func:`term_buckets` is its driver-side
  half, so a bucket-pruned read plans without a Spark job.
* **Opening dirs by name** (:func:`open_dirs`): readers over only the
  named partition dirs, never a listing of the whole component.
* **The read-mostly gate** (:func:`base_is_live`): stats-bearing meta,
  no tail, no tombstones — the base is then the live set, unique per
  doc, and readers skip the dedup and the liveness join.
* **The bootstrap rule** (:func:`is_empty`): a batch carrying upserts
  that reaches an index holding nothing is written as its compacted
  base, not as a tail.
* **Churn discovery** (:func:`churn`): the ids with a tail version or a
  tombstone, their count and their id buckets, from one job.
* **The fold's bookkeeping** (:func:`meta_delta`, :func:`fold_publish`):
  meta moves by an exact churn-sized delta, and the rewritten dirs
  publish first, meta next, the retired tails last — so "no tail" only
  becomes true once the fresh base is in place.
* **Status** (:func:`tail_status`, :func:`compaction_debt`): tail and
  tombstone counts, meta's exact live count when there is no churn, and
  churn rows per live doc.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from couch_to_postgres_spark.streaming.commit import publish
from couch_to_postgres_spark.streaming.meta_io import (
    component_rows,
    open_parquet,
    read_meta_rows,
    try_open_parquet,
)


def bucket(col: str | Column, n: int) -> Column:
    """The partition bucket of ``col``: ``pmod(hash(col), n)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.hash(c), F.lit(n))


def spark_hash_str(s: str, seed: int = 42) -> int:
    """Driver-side twin of ``F.hash`` over one string column: Spark's
    ``Murmur3_x86_32.hashUnsafeBytes`` on the UTF-8 bytes, seed 42,
    signed-int32 result. Spark departs from canonical murmur3 in the
    tail: each remaining byte (signed) runs through the full
    mixK1/mixH1 round on its own, replicated here.
    ``test_search_stream.test_spark_hash_str_matches_engine`` pins it to
    the engine, so a Spark upgrade that changed the hash fails loudly
    instead of probing wrong buckets."""
    data = s.encode("utf-8")
    n = len(data)
    mask = 0xFFFFFFFF
    c1, c2 = 0xCC9E2D51, 0x1B873593

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & mask

    def mix(h1: int, k1: int) -> int:
        k1 = rotl((k1 * c1) & mask, 15)
        k1 = (k1 * c2) & mask
        h1 ^= k1
        return (rotl(h1, 13) * 5 + 0xE6546B64) & mask

    h1 = seed & mask
    for i in range(0, n - n % 4, 4):
        h1 = mix(h1, int.from_bytes(data[i:i + 4], "little"))
    for i in range(n - n % 4, n):
        b = data[i]
        h1 = mix(h1, b - 256 if b >= 128 else b)
    h1 ^= n
    h1 = ((h1 ^ (h1 >> 16)) * 0x85EBCA6B) & mask
    h1 = ((h1 ^ (h1 >> 13)) * 0xC2B2AE35) & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def term_buckets(terms: list[str], n_buckets: int) -> list[int]:
    """The :func:`bucket` ids of ``terms``, computed on the driver.
    ``%`` with a positive modulus matches ``F.pmod`` on a negative
    hash."""
    return sorted({spark_hash_str(t) % n_buckets for t in terms})


def has_partition_prefix(root: str, prefix: str) -> bool:
    """True when ``root`` holds ``prefix``-style partition dirs (a local
    listing; on HDFS/S3 a listStatus)."""
    try:
        return any(e.startswith(prefix) for e in os.listdir(root))
    except OSError:
        return False


def open_dirs(
    spark: SparkSession, root: str, rel_dirs, empty_schema: str | None = None
) -> DataFrame | None:
    """A reader over only the named partition dirs of ``root``
    (``basePath`` keeps the partition columns). A reader over the whole
    root lists every file at construction — 10-15 s on a 5k-dir dataset
    — even when execution would prune; callers that know their bucket
    set skip that. A missing dir is a bucket that never materialized.
    When none exists: an empty frame of ``empty_schema``, or ``None``
    without one."""
    dirs = [
        d
        for d in (os.path.join(root, rel) for rel in rel_dirs)
        if os.path.exists(d)
    ]
    if dirs:
        return open_parquet(spark, *dirs, base_path=root)
    if empty_schema is None:
        return None
    return spark.createDataFrame([], empty_schema)


def live_versions(
    versions: DataFrame, tomb: DataFrame, id_col: str, carry=()
) -> DataFrame:
    """``(id, *carry, seq)`` of each doc's live version: the max-seq row
    of ``versions`` (``carry`` columns taken from that row), dropped
    when ``tomb`` holds a higher seq for the doc. Replayed rows collapse
    inside the max aggregates."""
    latest = versions.groupBy(id_col).agg(
        F.max("seq").alias("seq"),
        *[F.max_by(c, "seq").alias(c) for c in carry],
    )
    tomb_max = tomb.groupBy(id_col).agg(F.max("seq").alias("_tomb_seq"))
    return (
        latest.join(tomb_max, id_col, "left")
        .filter(
            F.col("_tomb_seq").isNull() | (F.col("_tomb_seq") < F.col("seq"))
        )
        .select(id_col, *carry, "seq")
    )


def base_is_live(
    spark: SparkSession, meta_rows: list[dict], tail_path: str, tomb_path: str
) -> bool:
    """True when the compacted base IS the live set: stats-bearing meta,
    no tail, no tombstones. Every base row is then live and unique
    (compaction dropped dead versions and replay copies). Zero jobs."""
    return (
        bool(meta_rows)
        and "n_live" in meta_rows[0]
        and try_open_parquet(spark, tail_path) is None
        and try_open_parquet(spark, tomb_path) is None
    )


def is_empty(
    spark: SparkSession, meta_path: str, tail_path: str, tomb_path: str
) -> bool:
    """True when the index holds nothing: no meta row, no tail row and
    no tombstone — the state in which a batch's upserts bootstrap the
    base. Meta table and footers only: no Spark job on a local path."""
    return (
        not read_meta_rows(spark, meta_path)
        and not component_rows(spark, tail_path)
        and not component_rows(spark, tomb_path)
    )


def churn(
    tail_ids: DataFrame, tomb: DataFrame, id_col: str, n_buckets: int
) -> tuple[DataFrame, int, list[int]]:
    """The churned ids (any id with a tail version or a tombstone) as a
    persisted frame, their count, and their sorted id buckets — one job,
    which also materializes the persist. The caller unpersists."""
    churned = (
        tail_ids.select(id_col)
        .unionByName(tomb.select(id_col))
        .distinct()
        .persist()
    )
    counts = churned.groupBy(bucket(id_col, n_buckets).alias("b")).count()
    rows = counts.collect()  # driver-bounded: <= n_buckets rows
    return (
        churned,
        sum(int(r["count"]) for r in rows),
        sorted(r["b"] for r in rows),
    )


def meta_delta(old: DataFrame, new: DataFrame, sums=()) -> dict:
    """The exact change a fold makes to meta: ``n`` = rows of ``new``
    in minus rows of ``old`` out, and for each column in ``sums`` its
    signed sum. One tiny union-aggregate over churn-sized frames."""
    signed = old.select(F.lit(-1).alias("sgn"), *sums).unionByName(
        new.select(F.lit(1).alias("sgn"), *sums)
    )
    row = signed.agg(
        F.coalesce(F.sum("sgn"), F.lit(0)).alias("n"),
        *[
            F.coalesce(F.sum(F.col("sgn") * F.col(c)), F.lit(0.0)).alias(c)
            for c in sums
        ],
    ).collect()[0]
    return row.asDict()


def fold_publish(
    root: str,
    groups: list[tuple[str, str, list[str]]],
    meta: tuple[str, str],
    tails: list[str],
    staging: str,
) -> None:
    """Publish a fold: each ``(live_root, staged_root, rel_dirs)`` group's
    dirs first (nothing else of the base is touched), then the
    ``(meta, staged_meta)`` pair, then the retired ``tails`` — so "no
    tail" can only become true after the fresh base and meta are in
    place, and tombstones retire only once the dead rows are gone."""
    steps = [
        (os.path.join(live, d), os.path.join(staged, d))
        for live, staged, dirs in groups
        for d in dirs
    ]
    publish(root, steps + [meta] + [(t, None) for t in tails], staging)


def tail_status(
    spark: SparkSession,
    tail_path: str,
    tomb_path: str,
    meta_rows: list[dict],
) -> tuple[int, int, int | None]:
    """``(tail rows, tombstones, n_live)``; ``n_live`` is meta's exact
    count when the base is stats-bearing and there is no churn, else
    ``None`` (the caller counts the live set its own way). The counts
    are footer sums on local paths: no Spark job."""
    tail_rows = component_rows(spark, tail_path)
    n_tomb = component_rows(spark, tomb_path)
    n_live = None
    if meta_rows and "n_live" in meta_rows[0] and not tail_rows and not n_tomb:
        n_live = int(meta_rows[0]["n_live"])
    return tail_rows, n_tomb, n_live


def compaction_debt(tail_rows: int, tombstones: int, n_live: int) -> float | None:
    """Churn rows per live doc — what every read merges, and the number
    the watchdog folds on."""
    return round((tail_rows + tombstones) / n_live, 4) if n_live else None
