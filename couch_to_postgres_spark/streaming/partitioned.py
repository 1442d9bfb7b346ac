"""Partitioned mirror with selective rewrite + merge-on-read deltas — the
pure-parquet analog of a table-format MERGE, and the layout that makes
per-batch cost O(batch) instead of O(mirror). It is the one mirror
layout: ``pipeline.follow``, ``pipeline.follow_couch`` and the Daemon
all merge into it.

Layout::

    <path>/_mirror_meta.json        num_buckets, row accounting
    <path>/bucket=N/…parquet        base rows (id, doc), crc32(id)%N
    <path>/_delta/bucket=N/…parquet change rows (epoch, seq, id, deleted, doc)

Two merge strategies, chosen per batch (``mode="auto"``):

* **bucket rewrite** — for large batches: read ONLY the touched buckets
  (``bucket IN (…)`` prunes at the directory level), merge with
  ``apply_changes`` (broadcast-anti-join core), publish the touched
  bucket directories (``commit.publish``). Untouched partitions are
  not read, not rewritten, not even stat'd.
* **delta append** — for steady-state micro-batches: collapse the batch
  (``latest_changes``) and APPEND it under ``_delta/bucket=…``. Write
  cost is O(batch) regardless of mirror size — the property bucket
  rewrite cannot give a small random-key batch, whose keys land in
  ~min(|batch|, N) buckets and would force a near-full rewrite. This is
  the merge-on-read pattern of log-structured table formats (Hudi MoR /
  Paimon): readers resolve base ⊎ delta (per-id latest wins), and
  compaction folds deltas back into base off the hot path.

Read resolution (``read_partitioned_mirror``): per id, the delta's
latest ``(epoch, seq)`` row wins over base; deleted rows hide the id.
Because ``apply_changes`` is last-write-wins by key in feed order, this
is EXACTLY equivalent to applying the appended batches sequentially —
replays append duplicate (id, seq) rows that resolve to the same state.

``num_buckets`` is part of the LAYOUT, not a per-call knob: the bucket
function must be identical across every merge or lookups silently miss.
It is persisted in the meta at layout time and resolved from there on
every subsequent merge/compaction. The meta file is written last at
bootstrap, so a path without one holds no mirror: a bootstrap that
crashed before its meta write is redone by the replayed batch.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from couch_to_postgres_spark.operators.cdc import apply_changes, latest_changes
from couch_to_postgres_spark.operators.mirror import MIRROR_SCHEMA
from couch_to_postgres_spark.streaming.commit import (
    PLAN_FILE,
    publish,
    staging,
    writing,
)
from couch_to_postgres_spark.streaming.meta_io import (
    _data_files,
    open_parquet,
    parquet_rows,
)

DEFAULT_BUCKETS = 64
#: the largest auto-sized bucket count; every auto count is a power of
#: two dividing it
MAX_BUCKETS = 65536
META_FILE = "_mirror_meta.json"
DELTA_DIR = "_delta"
#: auto-sizing target: rows per bucket (≈100 MB at ~1 KB/doc — a bucket
#: one executor rewrites comfortably; at 100 TB the same formula lands on
#: the 64k-bucket / ~1.5 GB-bucket regime via the upper clamp)
TARGET_ROWS_PER_BUCKET = 100_000
#: auto mode: delta-append when rewriting the touched buckets would cost
#: more than this many times the batch size (write-amplification bound)
DELTA_WRITE_AMP_THRESHOLD = 20
#: compaction folds deltas when they exceed this fraction of base rows —
#: bounds read-side resolution cost AND amortized fold write-amp to
#: ~1/fraction
DELTA_FOLD_FRACTION = 0.05

def bucket_of(id_col: Column, num_buckets: int = DEFAULT_BUCKETS) -> Column:
    return F.pmod(F.crc32(id_col.cast("binary")), F.lit(num_buckets)).cast("int")


def auto_num_buckets(n_rows: int) -> int:
    """Size the bucket count from the mirror's (initial-load) row count:
    next power of two of rows/TARGET, clamped to [16, MAX_BUCKETS], so
    every auto count divides MAX_BUCKETS."""
    if n_rows <= 0:
        return 16
    raw = max(1, round(n_rows / TARGET_ROWS_PER_BUCKET))
    return int(min(MAX_BUCKETS, max(16, 2 ** math.ceil(math.log2(raw)))))


def write_meta(path: str, meta: dict) -> None:
    """Replace the meta file atomically (dot-temp + ``os.replace``): a
    crash mid-write leaves the previous meta, never truncated JSON."""
    tmp = os.path.join(path, f".{META_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, META_FILE))


def read_meta(path: str) -> dict | None:
    """The layout's persisted meta (num_buckets + row accounting), or
    None when the path holds no mirror yet."""
    meta = os.path.join(path, META_FILE)
    if os.path.exists(meta):
        with open(meta) as f:
            try:
                return json.load(f)
            except ValueError as e:
                # a corrupt meta must fail LOUDLY: guessing the bucket
                # count would route merges through the wrong bucket fn
                # and silently corrupt the layout
                raise ValueError(
                    f"corrupt mirror meta at {meta}: {e}. Restore it "
                    f"(num_buckets must match the layout) or rebuild "
                    f"with write_partitioned_mirror."
                ) from e
    return None


def resolve_num_buckets(path: str, requested: int | None) -> int | None:
    """The ONE bucket count for a mirror: the persisted layout value wins;
    a conflicting explicit request is an error (a different bucket fn
    would corrupt the layout); None for a not-yet-existing mirror."""
    meta = read_meta(path)
    if meta is not None:
        actual = int(meta["num_buckets"])
        if requested is not None and requested != actual:
            raise ValueError(
                f"mirror at {path} is laid out with num_buckets={actual}; "
                f"got {requested}. Rebucketing requires a full "
                f"write_partitioned_mirror rewrite."
            )
        return actual
    return requested


def _delta_path(path: str) -> str:
    return os.path.join(path, DELTA_DIR)


def _has_delta(path: str) -> bool:
    return bool(_delta_buckets(path))


def write_partitioned_mirror(
    mirror: DataFrame, path: str, num_buckets: int = DEFAULT_BUCKETS
) -> None:
    """Initial load / full rewrite: lay the mirror out by key-hash bucket
    and persist the layout meta. Drops any existing delta log (a full
    rewrite supersedes it)."""
    (
        mirror.withColumn("bucket", bucket_of(F.col("id"), num_buckets))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    shutil.rmtree(_delta_path(path), ignore_errors=True)
    total = parquet_rows([path])
    write_meta(path, {"num_buckets": num_buckets, "total_rows": total, "delta_rows": 0})


def _resolve_delta(delta: DataFrame) -> DataFrame:
    """Collapse the delta log to the latest change per id: append order
    (epoch) first, feed order (seq) within a batch — the same
    last-write-wins the sequential merges would have produced. The window
    shuffles the DELTA only (bounded by the fold threshold), never base."""
    w = Window.partitionBy("id").orderBy(F.desc("epoch"), F.desc("seq"))
    return (
        delta.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _mor_view(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> DataFrame:
    """Merge-on-read view of the mirror (optionally restricted to a
    bucket subset): base rows whose id has no delta entry, plus the
    delta's live resolved rows. The anti-join's delta side is fold-
    threshold-bounded and AQE broadcasts it — base never shuffles."""
    base = open_parquet(spark, path)
    if buckets is not None:
        base = base.filter(F.col("bucket").isin(buckets))
    base = base.drop("bucket")
    if not _has_delta(path):
        return base
    delta = open_parquet(spark, _delta_path(path))
    if buckets is not None:
        delta = delta.filter(F.col("bucket").isin(buckets))
    latest = _resolve_delta(delta.drop("bucket"))
    live = latest.filter(~F.col("deleted")).select("id", "doc")
    return base.join(latest.select("id"), on="id", how="left_anti").unionByName(
        live
    )


def read_partitioned_mirror(spark: SparkSession, path: str) -> DataFrame:
    """The mirror's merge-on-read view; empty while the path holds no
    mirror (no meta file — bucket dirs a crashed bootstrap left are not
    a mirror)."""
    if read_meta(path) is not None:
        return _mor_view(spark, path)
    return spark.createDataFrame([], MIRROR_SCHEMA)


def upsert_partitioned_mirror(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    num_buckets: int | None = None,
    type_filter: str | None = None,
    map_hook: Callable[[Column], Column] | None = None,
    mode: str = "auto",
) -> list[int]:
    """Merge a change batch. Returns the touched bucket ids.

    ``mode``: ``"auto"`` picks delta append when rewriting the touched
    buckets would exceed ``DELTA_WRITE_AMP_THRESHOLD``× the batch size
    (the steady-state micro-batch case), bucket rewrite otherwise
    (backfills, bootstrap); ``"delta"``/``"rewrite"`` force a strategy.

    ``num_buckets`` applies only when the mirror doesn't exist yet
    (bootstrap); afterwards the persisted layout value is authoritative
    and a conflicting value raises. ``None`` at bootstrap auto-sizes from
    the batch row count (the initial backfill IS the mirror size)."""
    if mode not in ("auto", "delta", "rewrite"):
        raise ValueError(f"unknown mode {mode!r}: use 'auto', 'delta' or 'rewrite'")
    with writing(path):
        return _upsert_locked(
            spark, path, batch, num_buckets, type_filter, map_hook, mode
        )


def _prepared_batch(
    batch: DataFrame,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
) -> DataFrame:
    """Collapse + filter + hook a change batch ONCE, keeping the change
    shape (seq, id, deleted, doc) — the form both merge strategies and
    the delta log share. Mirrors apply_changes' semantics exactly
    (cdc.py:65-76): filtered-type upserts drop, deletions propagate, the
    map hook rewrites upsert docs only."""
    from couch_to_postgres_spark.functions.json import json_get

    latest = latest_changes(batch)
    if type_filter is not None:
        latest = latest.filter(
            F.col("deleted")
            | (json_get("doc", "type") != F.lit(type_filter))
            | json_get("doc", "type").isNull()
        )
    if map_hook is not None:
        latest = latest.withColumn(
            "doc",
            F.when(~F.col("deleted"), map_hook(F.col("doc"))).otherwise(
                F.col("doc")
            ),
        )
    return latest


def _upsert_locked(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    num_buckets: int | None,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    mode: str,
) -> list[int]:
    meta = read_meta(path)
    num_buckets = resolve_num_buckets(path, num_buckets)
    # a batch the caller already cached (the pipeline's shared raw
    # batch, read again by the index twins) keeps its cache entry:
    # only a persist made here is undone here
    own_cache = batch.storageLevel == StorageLevel.NONE
    if own_cache:
        batch = batch.persist()
    try:
        # one job materializes the persist and yields BOTH the batch
        # size and the touched buckets (driver-bounded: <= the grouping's
        # bucket count) — this runs per micro-batch, so job launches are
        # the trickle-feed floor. An auto-sized bootstrap groups by the
        # finest bucket count: every auto count divides MAX_BUCKETS, so
        # ``fine % N`` is the bucket under the N the batch size picks.
        grouping = MAX_BUCKETS if num_buckets is None else num_buckets
        bucket_rows = batch.groupBy(
            bucket_of(F.col("id"), grouping).alias("bucket")
        ).count().collect()
        n_batch = sum(int(r["count"]) for r in bucket_rows)
        if num_buckets is None:
            num_buckets = auto_num_buckets(n_batch)
        touched = sorted({r["bucket"] % num_buckets for r in bucket_rows})
        if not touched:
            return []
        if meta is None:  # bootstrap: always a full layout write
            merged = apply_changes(
                spark.createDataFrame([], MIRROR_SCHEMA),
                batch,
                type_filter=type_filter,
                map_hook=map_hook,
            )
            write_partitioned_mirror(merged, path, num_buckets)
            return touched

        if mode == "auto":
            touched_rows_est = meta["total_rows"] * len(touched) / num_buckets
            use_delta = n_batch * DELTA_WRITE_AMP_THRESHOLD < touched_rows_est
        else:
            use_delta = mode == "delta"

        if use_delta:
            _append_delta(
                spark,
                path,
                batch,
                num_buckets,
                type_filter,
                map_hook,
                touched,
                meta,
            )
        else:
            _rewrite_buckets(
                spark,
                path,
                batch,
                num_buckets,
                type_filter,
                map_hook,
                touched,
                meta,
            )
        return touched
    finally:
        if own_cache:
            batch.unpersist()


def _append_delta(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    num_buckets: int,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    touched: list[int],
    meta: dict,
) -> None:
    """O(batch) merge: append the collapsed batch to the per-bucket delta
    log. No base file is read or written. ``epoch`` stamps append order
    so read-side resolution replays batches in sequence."""
    prepared = _prepared_batch(batch, type_filter, map_hook)
    epoch = time.time_ns()
    delta_dir = _delta_path(path)
    rows = prepared.select(
        F.lit(epoch).alias("epoch"),
        "seq",
        "id",
        "deleted",
        "doc",
        bucket_of(F.col("id"), num_buckets).alias("bucket"),
    )
    # the appended row count is the footers' rows of the files this
    # append created (the path lock keeps the listing ours) — no count
    # job, and no Observation riding the write: a runtime-empty observed
    # write (type_filter dropping the whole batch) gets its
    # CollectMetrics optimizer-eliminated and the dangling observation
    # corrupts the session for later RDD-closure jobs
    before = set(_data_files(delta_dir))
    (
        rows.repartition("bucket")  # one file per touched bucket, not per task
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(delta_dir)
    )
    n_appended = parquet_rows(set(_data_files(delta_dir)) - before)
    meta["delta_rows"] = int(meta["delta_rows"]) + n_appended
    write_meta(path, meta)


def _rewrite_buckets(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    num_buckets: int,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    touched: list[int],
    meta: dict,
) -> None:
    """Bucket-rewrite merge: partition-pruned read of the touched buckets
    (through the MoR view, folding any pending deltas for them), merge,
    staged write, one publish. Touched buckets' delta dirs
    are retired by the fold."""
    current = _mor_view(spark, path, touched)
    merged = apply_changes(
        current, batch, type_filter=type_filter, map_hook=map_hook
    ).withColumn("bucket", bucket_of(F.col("id"), num_buckets))
    stage = staging(path, "staging")
    merged.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(stage)
    _swap_buckets(path, stage, touched, meta)


def _swap_buckets(path: str, stage: str, buckets: list[int], meta: dict) -> None:
    """Publish the staged ``bucket=`` dirs for ``buckets``: per bucket,
    the base dir swaps and the delta dir retires; the row accounting
    (staged as the new meta file) is the last step.

    ``total_rows`` advances by the footer rows swapped in minus those
    swapped out — O(touched) file opens, no Spark job. ``delta_rows``
    is the remaining delta log's footer rows, bounded by the fold
    threshold."""
    staged = [os.path.join(stage, f"bucket={b}") for b in buckets]
    live = [os.path.join(path, f"bucket={b}") for b in buckets]
    deltas = [os.path.join(_delta_path(path), f"bucket={b}") for b in buckets]
    for d in staged:  # a bucket emptied by deletions swaps in empty
        os.makedirs(d, exist_ok=True)
    meta["total_rows"] += parquet_rows(staged) - parquet_rows(live)
    meta["delta_rows"] = parquet_rows([_delta_path(path)]) - parquet_rows(deltas)
    write_meta(stage, meta)
    steps = []
    for base_dir, staged_dir, delta_dir in zip(live, staged, deltas):
        steps += [(base_dir, staged_dir), (delta_dir, None)]
    steps.append((os.path.join(path, META_FILE), os.path.join(stage, META_FILE)))
    publish(path, steps, stage)


def bucket_file_counts(path: str) -> dict[int, int]:
    """Parquet file count per bucket directory (the small-file metric)."""
    out: dict[int, int] = {}
    if not os.path.exists(path):
        return out
    for entry in os.listdir(path):
        if entry.startswith("bucket="):
            b = int(entry.split("=", 1)[1])
            d = os.path.join(path, entry)
            out[b] = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return out


def _delta_buckets(path: str) -> list[int]:
    d = _delta_path(path)
    if not os.path.isdir(d):
        return []
    out = []
    for entry in os.listdir(d):
        sub = os.path.join(d, entry)
        if entry.startswith("bucket=") and os.path.isdir(sub):
            if any(f.endswith(".parquet") for f in os.listdir(sub)):
                out.append(int(entry.split("=", 1)[1]))
    return sorted(out)


def fold_deltas(
    spark: SparkSession, path: str, force: bool = False
) -> list[int]:
    """Fold the delta log back into base (merge-on-read compaction).

    Runs when the delta exceeds ``DELTA_FOLD_FRACTION`` of base rows (or
    ``force``): one staged job merges every delta-carrying bucket through
    the MoR view and swaps those bucket dirs. Keeping the fraction small
    bounds BOTH read-side resolution cost and the fold's amortized write
    amplification (~1/fraction). Returns the folded bucket ids.

    Callers must hold the root's :func:`commit.writing` (compact_mirror
    does)."""
    meta = read_meta(path)
    if meta is None:
        return []
    buckets = _delta_buckets(path)
    if not buckets:
        return []
    delta_rows = int(meta["delta_rows"])
    total_rows = meta["total_rows"]
    if not force and total_rows and delta_rows < total_rows * DELTA_FOLD_FRACTION:
        return []
    num_buckets = int(meta["num_buckets"])
    folded = _mor_view(spark, path, buckets).withColumn(
        "bucket", bucket_of(F.col("id"), num_buckets)
    )
    stage = staging(path, "folding")
    folded.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(stage)
    _swap_buckets(path, stage, buckets, meta)
    return buckets


def validate_mirror(spark: SparkSession, path: str) -> dict:
    """Layout fsck for a partitioned mirror — the post-incident check a
    100 TB deployment runs before trusting pruned reads again.

    Verifies the invariants every pruning/merge path relies on:

    * **placement** — every base row lives in the directory its key
      hashes to (a misplaced row is silently invisible to pruned merges
      and point lookups);
    * **key uniqueness** — no id appears in two base buckets;
    * **row accounting** — meta's ``total_rows`` matches the base and
      its ``delta_rows`` matches the log (both are maintained
      incrementally from footers);
    * **no unfinished publish** — no stranded staging dir or publish
      plan (the next writer completes a plan; until then the layout is
      mid-swap).

    Read-mostly: one pruned-column scan of (id, bucket) pairs + parquet
    footer counts. Returns a dict with ``ok`` plus per-check numbers."""
    meta = read_meta(path)
    if meta is None:
        return {"ok": False, "error": f"no partitioned mirror at {path}"}
    n = int(meta["num_buckets"])
    base = open_parquet(spark, path).select("id", "bucket")
    misplaced = base.filter(
        F.col("bucket") != bucket_of(F.col("id"), n)
    ).count()
    dup_keys = (
        base.groupBy("id").count().filter(F.col("count") > 1).count()
    )
    base_rows = base.count()
    delta_actual = (
        open_parquet(spark, _delta_path(path)).count() if _has_delta(path) else 0
    )
    delta_meta = int(meta["delta_rows"])
    total_meta = int(meta["total_rows"])
    stranded = [
        d
        for d in (
            *(
                path.rstrip("/") + "." + tag
                for tag in ("staging", "folding", "compact")
            ),
            os.path.join(path, PLAN_FILE),
        )
        if os.path.exists(d)
    ]
    ok = (
        misplaced == 0
        and dup_keys == 0
        and total_meta == base_rows
        and delta_actual == delta_meta
        and not stranded
    )
    return {
        "ok": ok,
        "num_buckets": n,
        "base_rows": base_rows,
        "total_rows_meta": total_meta,
        "misplaced_rows": misplaced,
        "duplicate_keys": dup_keys,
        "delta_rows_meta": delta_meta,
        "delta_rows_actual": delta_actual,
        "stranded_dirs": stranded,
    }


def point_lookup_partitioned(
    spark: SparkSession, path: str, doc_id: str
) -> DataFrame:
    """Point lookup (B1) exploiting the bucket layout: compute the key's
    bucket DRIVER-SIDE (zlib.crc32 ≡ Spark's crc32, pinned by test) and
    scan only that one ``bucket=`` directory. Delta rows for the bucket
    resolve through the same MoR view.

    When it wins, honestly: at local/sub-GB scale a plain full-scan
    filter is FASTER (measured 0.2 s vs 1.1 s at 600k docs) — parquet
    row-group min/max skipping already prunes a point predicate, and the
    MoR resolution adds fixed plan stages. The directory pruning pays off
    when the mirror's FILE COUNT is large (thousands of buckets × files):
    listing and footer-reading every file is the 100 TB bottleneck, and
    this touches exactly one directory regardless of mirror size."""
    import zlib

    meta = read_meta(path)
    if meta is None:
        from couch_to_postgres_spark.operators.mirror import MIRROR_SCHEMA

        return spark.createDataFrame([], MIRROR_SCHEMA)
    n = int(meta["num_buckets"])
    b = zlib.crc32(doc_id.encode("utf-8")) % n
    return _mor_view(spark, path, [b]).filter(F.col("id") == doc_id)


def compact_mirror(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 4,
    target_files: int = 1,
    force_fold: bool = False,
) -> list[int]:
    """Maintenance: fold over-threshold deltas into base, then rewrite
    buckets whose file count exceeds the threshold into ``target_files``
    files each (staged beside the mirror, one publish). Run
    periodically/off-peak — the daemon's watchdog calls this every
    supervision pass (cheap when nothing exceeds a threshold — one
    listdir). Serialized against concurrent merges via the per-path
    lock. Returns the touched bucket ids (folded ∪ compacted)."""
    with writing(path):
        folded = fold_deltas(spark, path, force=force_fold)
        todo = sorted(
            b
            for b, n in bucket_file_counts(path).items()
            if n > max_files_per_bucket
        )
        if todo:
            stage = staging(path, "compact")
            steps = []
            for b in todo:
                src = os.path.join(path, f"bucket={b}")
                tmp = os.path.join(stage, f"bucket={b}")
                open_parquet(spark, src).coalesce(target_files).write.mode(
                    "overwrite"
                ).parquet(tmp)
                steps.append((src, tmp))
            publish(path, steps, stage)
        return sorted(set(folded) | set(todo))
