"""Partitioned mirror with selective rewrite + merge-on-read deltas — the
pure-parquet analog of a table-format MERGE, and the layout that makes
per-batch cost O(batch) instead of O(mirror). Since round 2 this is the
DEFAULT sink of ``pipeline.follow`` and the Daemon (the flat MVCC sink
remains for tiny mirrors via ``sink="flat"``).

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
every subsequent merge/compaction.
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

#: delta row shape: change events + append-order epoch
DELTA_SCHEMA = "epoch long, seq long, id string, deleted boolean, doc string"

def bucket_of(id_col: Column, num_buckets: int = DEFAULT_BUCKETS) -> Column:
    return F.pmod(F.crc32(id_col.cast("binary")), F.lit(num_buckets)).cast("int")


def auto_num_buckets(n_rows: int) -> int:
    """Size the bucket count from the mirror's (initial-load) row count:
    next power of two of rows/TARGET, clamped to [16, 65536]. Powers of
    two keep future split/merge rebucketing cheap (bucket b of 2N is
    b or b+N of N)."""
    if n_rows <= 0:
        return 16
    raw = max(1, round(n_rows / TARGET_ROWS_PER_BUCKET))
    return int(min(65536, max(16, 2 ** math.ceil(math.log2(raw)))))


def write_meta(path: str, meta: dict) -> None:
    """Replace the meta file atomically (dot-temp + ``os.replace``): a
    crash mid-write leaves the previous meta, never truncated JSON."""
    tmp = os.path.join(path, f".{META_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, META_FILE))


def read_meta(path: str) -> dict | None:
    """The layout's persisted meta (num_buckets + row accounting), or
    None for a missing/legacy mirror (legacy = written before meta
    existed: infer num_buckets from the bucket dirs)."""
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
    if os.path.exists(path):
        buckets = [d for d in os.listdir(path) if d.startswith("bucket=")]
        if buckets:
            # pre-meta legacy layout: infer N as max bucket dir + 1 (the
            # initial full load materializes essentially every bucket)
            n = max(int(d.split("=", 1)[1]) for d in buckets) + 1
            return {"num_buckets": n, "total_rows": None, "delta_rows": 0}
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
    if os.path.exists(path):
        return _mor_view(spark, path)
    return spark.createDataFrame([], MIRROR_SCHEMA)


def _update_count_views(
    spark: SparkSession,
    path: str,
    count_views: dict[str, Column],
    pre: DataFrame,
    post: DataFrame,
    touched_ids: DataFrame,
    full_pre: DataFrame,
) -> None:
    """Advance live count views by the batch's O(touched) delta.

    ``pre``/``post`` are the TOUCHED-BUCKET slices of the mirror (the
    delta join is a semi-join on touched ids, which only live in touched
    buckets — untouched rows net zero by construction, so pruned inputs
    give the identical delta at a fraction of the scan). ``full_pre`` is
    the WHOLE pre-merge mirror, used only to bootstrap a view that
    doesn't exist yet (it must be the pre state, not post: the delta is
    applied on top, so bootstrapping from post would double-count the
    batch). Crash window: a crash between the data commit and the view
    swap leaves the view one batch behind; replay nets zero and does NOT
    repair it — the repair is a view-dir delete + bootstrap, same
    contract as the flat sink (pipeline._update_count_view)."""
    from couch_to_postgres_spark.operators.views import (
        apply_count_delta,
        count_view_delta,
    )

    for name, key in count_views.items():
        vdir = os.path.join(path, "_views", name)
        if os.path.exists(vdir):
            view = open_parquet(spark, vdir)
        else:
            view = full_pre.groupBy(key.alias("key")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
        new = apply_count_delta(view, count_view_delta(pre, post, touched_ids, key))
        tmp = vdir + ".tmp"
        new.write.mode("overwrite").parquet(tmp)
        publish(path, [(vdir, tmp)])


def upsert_partitioned_mirror(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    num_buckets: int | None = None,
    type_filter: str | None = None,
    map_hook: Callable[[Column], Column] | None = None,
    count_views: dict[str, Column] | None = None,
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
            spark, path, batch, num_buckets, type_filter, map_hook, count_views, mode
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
    count_views: dict[str, Column] | None,
    mode: str,
) -> list[int]:
    meta = read_meta(path)
    num_buckets = resolve_num_buckets(path, num_buckets)
    batch = batch.persist()
    try:
        if num_buckets is None:
            n_batch = batch.count()
            num_buckets = auto_num_buckets(n_batch)
            bucket_rows = batch.groupBy(
                bucket_of(F.col("id"), num_buckets).alias("bucket")
            ).count().collect()
        else:
            # one job materializes the persist and yields BOTH the batch
            # size and the touched buckets (driver-bounded: <= num_buckets
            # rows) — this runs per micro-batch, so job launches are the
            # trickle-feed floor
            bucket_rows = batch.groupBy(
                bucket_of(F.col("id"), num_buckets).alias("bucket")
            ).count().collect()
            n_batch = sum(int(r["count"]) for r in bucket_rows)
        touched = sorted(r["bucket"] for r in bucket_rows)
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
            if count_views:
                empty = spark.createDataFrame([], MIRROR_SCHEMA)
                _update_count_views(
                    spark,
                    path,
                    count_views,
                    pre=empty,
                    post=read_partitioned_mirror(spark, path),
                    touched_ids=batch.select("id").distinct(),
                    full_pre=empty,
                )
            return touched

        total_rows = meta.get("total_rows")
        if mode == "auto":
            if total_rows is None:
                use_delta = False  # legacy mirror without accounting
            else:
                touched_rows_est = total_rows * len(touched) / num_buckets
                use_delta = (
                    n_batch * DELTA_WRITE_AMP_THRESHOLD < touched_rows_est
                )
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
                count_views,
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
                count_views,
                touched,
                meta,
            )
        return touched
    finally:
        batch.unpersist()


def _append_delta(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    num_buckets: int,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    count_views: dict[str, Column] | None,
    touched: list[int],
    meta: dict,
) -> None:
    """O(batch) merge: append the collapsed batch to the per-bucket delta
    log. No base file is read or written. ``epoch`` stamps append order
    so read-side resolution replays batches in sequence."""
    prepared = _prepared_batch(batch, type_filter, map_hook)
    # snapshot the PRE view before the append lands new files (Spark
    # pins the file listing at DataFrame creation)
    pre = _mor_view(spark, path, touched) if count_views else None
    full_pre = _mor_view(spark, path) if count_views else None
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
    meta["delta_rows"] = int(meta.get("delta_rows") or 0) + n_appended
    write_meta(path, meta)
    if count_views:
        post = apply_changes(pre, batch, type_filter=type_filter, map_hook=map_hook)
        _update_count_views(
            spark,
            path,
            count_views,
            pre=pre,
            post=post,
            touched_ids=batch.select("id").distinct(),
            full_pre=full_pre,
        )


def _rewrite_buckets(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    num_buckets: int,
    type_filter: str | None,
    map_hook: Callable[[Column], Column] | None,
    count_views: dict[str, Column] | None,
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
    if count_views:
        # delta BEFORE the swap: `current` plans over the pre-swap
        # bucket dirs, which the swap below destroys; full_pre is the
        # pre-swap whole mirror (only scanned if a view bootstraps)
        _update_count_views(
            spark,
            path,
            count_views,
            pre=current,
            post=open_parquet(spark, stage).drop("bucket"),
            touched_ids=batch.select("id").distinct(),
            full_pre=_mor_view(spark, path),
        )
    _swap_buckets(path, stage, touched, meta)


def _swap_buckets(path: str, stage: str, buckets: list[int], meta: dict) -> None:
    """Publish the staged ``bucket=`` dirs for ``buckets``: per bucket,
    the base dir swaps and the delta dir retires; the row accounting
    (staged as the new meta file) is the last step.

    ``total_rows`` advances by the footer rows swapped in minus those
    swapped out — O(touched) file opens, no Spark job (a legacy mirror
    without accounting counts every base footer once). ``delta_rows``
    is the remaining delta log's footer rows, bounded by the fold
    threshold."""
    staged = [os.path.join(stage, f"bucket={b}") for b in buckets]
    live = [os.path.join(path, f"bucket={b}") for b in buckets]
    deltas = [os.path.join(_delta_path(path), f"bucket={b}") for b in buckets]
    for d in staged:  # a bucket emptied by deletions swaps in empty
        os.makedirs(d, exist_ok=True)
    total = meta.get("total_rows")
    if total is None:
        total = parquet_rows([path])
    meta["total_rows"] = total + parquet_rows(staged) - parquet_rows(live)
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
    delta_rows = int(meta.get("delta_rows") or 0)
    total_rows = meta.get("total_rows")
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


def snapshot_mirror(path: str, dest: str) -> dict:
    """Point-in-time snapshot — the constructive answer to the layout's
    no-reader-MVCC trade: long scans read the SNAPSHOT while merges
    continue on the live mirror.

    Taken under the path lock (consistent: no swap lands mid-snapshot)
    by HARD-LINKING every data file (base buckets, delta log, views,
    meta) into ``dest`` — O(file count), zero data copied, and because
    links share inodes, later swaps/GC on the source can delete paths
    but never the snapshot's bytes. Falls back to copying when dest is
    on a different filesystem. Read it with
    :func:`read_partitioned_mirror` (deltas resolve as of the snapshot
    moment); delete the directory to release it."""
    with writing(path):
        n_linked = n_copied = 0
        for root, dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            # skip the trash; keep everything live
            if rel.split(os.sep, 1)[0] == ".trash":
                dirs[:] = []
                continue
            out_root = dest if rel == "." else os.path.join(dest, rel)
            os.makedirs(out_root, exist_ok=True)
            for f in files:
                src = os.path.join(root, f)
                dst = os.path.join(out_root, f)
                try:
                    os.link(src, dst)
                    n_linked += 1
                except OSError:  # cross-device or FS without hard links
                    shutil.copy2(src, dst)
                    n_copied += 1
        return {"files_linked": n_linked, "files_copied": n_copied}


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
      incrementally from footers; a legacy mirror without accounting
      has no ``total_rows`` to check);
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
    delta_meta = int(meta.get("delta_rows") or 0)
    total_meta = meta.get("total_rows")
    stranded = [
        d
        for d in (
            *(
                path.rstrip("/") + "." + tag
                for tag in ("staging", "folding", "rebucket", "compact")
            ),
            os.path.join(path, PLAN_FILE),
        )
        if os.path.exists(d)
    ]
    ok = (
        misplaced == 0
        and dup_keys == 0
        and (total_meta is None or int(total_meta) == base_rows)
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


def rebucket_mirror(
    spark: SparkSession, path: str, new_num_buckets: int
) -> int:
    """Layout migration: rewrite the mirror under a new bucket count (the
    one operation `resolve_num_buckets` refuses to do implicitly).

    Run when the mirror outgrew its layout — rows/bucket drifted far from
    TARGET_ROWS_PER_BUCKET. Powers of two keep the shuffle friendly
    (bucket b of 2N receives only rows from bucket b mod N of N).
    Pending deltas fold in transit (the rewrite reads the MoR view).
    The new layout stages beside the live one; one publish moves its
    bucket dirs in, retires the old buckets and the delta log, and
    swaps the meta last. Count views are bucket-agnostic (keyed
    aggregates) and stay in place. Returns the OLD bucket count."""
    with writing(path):
        meta = read_meta(path)
        if meta is None:
            raise ValueError(f"no partitioned mirror at {path}")
        old_n = int(meta["num_buckets"])
        if new_num_buckets == old_n:
            return old_n
        stage = staging(path, "rebucket")
        write_partitioned_mirror(_mor_view(spark, path), stage, new_num_buckets)
        new = {d for d in os.listdir(stage) if d.startswith("bucket=")}
        old = {d for d in os.listdir(path) if d.startswith("bucket=")} - new
        steps = [(os.path.join(path, d), os.path.join(stage, d)) for d in sorted(new)]
        steps += [(os.path.join(path, d), None) for d in sorted(old)]
        steps += [
            (_delta_path(path), None),
            (os.path.join(path, META_FILE), os.path.join(stage, META_FILE)),
        ]
        publish(path, steps, stage)
        return old_n


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


def follow_partitioned(
    spark: SparkSession,
    changes_path: str,
    mirror_path: str,
    checkpoint_path: str,
    num_buckets: int | None = None,
    type_filter: str | None = None,
    map_hook: Callable[[Column], Column] | None = None,
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
    query_name: str | None = None,
):
    """Back-compat alias: ``pipeline.follow`` now defaults to this sink."""
    from couch_to_postgres_spark.streaming.pipeline import follow

    return follow(
        spark,
        changes_path,
        mirror_path,
        checkpoint_path,
        type_filter=type_filter,
        map_hook=map_hook,
        max_files_per_trigger=max_files_per_trigger,
        trigger=trigger,
        query_name=query_name,
        sink="partitioned",
        num_buckets=num_buckets,
    )
