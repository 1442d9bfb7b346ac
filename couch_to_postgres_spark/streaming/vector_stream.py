"""Streaming-incremental vector search: an IVF ANN index maintained under
the CDC change feed, with full UPDATE/DELETE/replay semantics.

A doc UPDATE replaces its embedding, and the new vector may land in a
different cell than the old one, so an id-only tombstone (the batch
:mod:`extensions.ann` contract) cannot express supersession. This index
uses the seq-wins liveness of the shared LSM core (:mod:`streaming.lsm`)
instead, and supplies only the vector payload: cell assignment and the
quantizer.

State (plain parquet under one index root):

* ``centroids`` — (cell, centroid), the coarse quantizer, frozen after
  :func:`init_vector_index` until :func:`rebuild_vector_quantizer`;
* ``quantizer`` — 1-row marker (assigner, n_cells, configured_cells,
  layout_epoch): a batch or query declaring a different quantizer
  fails loudly instead of probing wrong cells, and trained-vs-configured
  cells surface a degraded bootstrap in ``/_status``;
* ``pending`` — the pre-init buffer: change rows held until enough
  upserts exist to train a full-width quantizer (:func:`flush_pending`);
* ``cells`` — the tail: (vec_id, seq, embedding, cell) in ``cell=N``
  dirs, one row per ingested version; liveness reads only its
  (vec_id, seq) columns;
* ``tombstones`` — (vec_id, seq) delete markers;
* ``base/`` — the compacted base, laid down by a fold or by the first
  batch carrying upserts into an empty index: ``base/cells`` (live
  rows, one per doc, ``cell=N`` dirs), ``base/ids`` ((vec_id, seq, cell) in
  ``id_bucket=H`` dirs — the skinny liveness sidecar, from which a
  fold finds a churned doc's old cell without a base/cells scan) and
  ``base/meta`` (1-row: n_cells, n_live, id_buckets, layout_epoch).

Plan shape:

* ingest is O(changed docs): one Arrow pass assigns cells, two skinny
  appends (cells, tombstones). A batch reaching an empty index (a
  quantizer, no meta, no tail, no tombstone — footers only, no job) is
  written once, as the base a full fold of its tail would give;
* a query probes ``nprobe`` cells: base cell dirs are opened by name,
  the tail is update-rate-bounded, and liveness joins only skinny
  (id, seq) projections — skipped on a read-mostly base;
* compaction is churn-proportional
  (:func:`compact_vector_index_incremental`): only the churned ids'
  old and new ``cell=N`` dirs and their ``id_bucket=H`` dirs rewrite;
  the full live-only rewrite (:func:`compact_vector_index`) is the
  first compaction of an index whose first batch found it non-empty;
* quantizer drift is watched on skinny frames
  (:func:`vector_index_balance`) and repaired by the operator-scheduled
  :func:`rebuild_vector_quantizer`.

The reference (couch-to-postgres) has no vector search; this is
extension capability built from the public IVF design (Jégou et al.,
PAMI 2011) on the repo's own LSM machinery.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.ann import (
    _score_probed,
    assign_cells,
    assign_cells_hof,
    nonzero_norm,
    train_centroids,
)
from couch_to_postgres_spark.streaming import lsm
from couch_to_postgres_spark.streaming.commit import publish, staging, writing
from couch_to_postgres_spark.streaming.meta_io import (
    component_rows,
    read_components,
    read_meta_rows,
    try_open_parquet,
    write_meta_rows,
)

_ASSIGNERS = {"vectorized": assign_cells, "hof": assign_cells_hof}

#: quantizer marker schema. ``layout_epoch`` stamps which quantizer
#: generation the base was assigned under; the SAME epoch is recorded
#: in ``base/meta``, and :func:`vector_index_fsck` cross-checks the
#: pair — a crash inside :func:`rebuild_vector_quantizer`'s swap
#: sequence (new base in place, old centroids still current) is
#: otherwise silently invisible when n_cells is unchanged
_QUANTIZER_SCHEMA = (
    "assigner string, n_cells int, configured_cells int, layout_epoch long"
)

#: ``centroids`` schema: one row per cell
_CENTROIDS_SCHEMA = "cell int, centroid array<double>"

#: ``base/meta`` schema (read-mostly fast-path stats + layout
#: continuity + the epoch half of the fsck cross-check)
_BASE_META_SCHEMA = (
    "n_cells int, n_live long, id_buckets int, layout_epoch long"
)


def _layout_epoch(spark: SparkSession, index_path: str) -> int:
    """The quantizer's current layout epoch (0 for a pre-epoch index —
    metas written before r12 lack the column; dict ``.get`` covers
    both)."""
    q = read_meta_rows(spark, _quantizer_path(index_path))
    if not q:
        return 0
    got = q[0].get("layout_epoch")
    return int(got) if got is not None else 0


class TornVectorIndexError(RuntimeError):
    """A fold found ``base/meta`` and the quantizer marker at different
    layout epochs — the torn :func:`rebuild_vector_quantizer` state
    :func:`vector_index_fsck` exists to catch. Folding here would be
    doubly wrong: the staged meta would re-stamp the quantizer's epoch
    (greening the fsck cross-check while the base stays assigned under
    the other layout), and tail rows assigned under one centroid set
    would be merged into a base assigned under the other. Repair by
    re-running :func:`rebuild_vector_quantizer` (idempotent), then
    fold."""


def _fold_epoch(
    spark: SparkSession, index_path: str, base_meta_rows
) -> int:
    """The epoch a FOLD must stamp on its staged ``base/meta``: the
    base's OWN epoch, carried forward. A fold preserves the layout, so
    it must never re-derive the epoch from the quantizer: in the
    torn-rebuild state — base at N+1, quantizer still at N — a
    routine watchdog fold that read the quantizer would rewrite the
    base back to N, permanently masking exactly the corruption the
    epoch cross-check was added for. When the two sides already
    disagree the fold refuses (:class:`TornVectorIndexError`); a base
    with no meta / a pre-epoch meta inherits the quantizer's epoch
    (its rows' cells were assigned under the current quantizer)."""
    q_epoch = _layout_epoch(spark, index_path)
    base_epoch = (
        base_meta_rows[0].get("layout_epoch") if base_meta_rows else None
    )
    if base_epoch is None:
        return q_epoch
    if int(base_epoch) != q_epoch:
        raise TornVectorIndexError(
            f"layout-epoch tear at {index_path}: base/meta epoch "
            f"{int(base_epoch)} != quantizer epoch {q_epoch}; refusing "
            "to fold — re-run rebuild_vector_quantizer to repair, or "
            "see vector_index_fsck"
        )
    return int(base_epoch)

#: ``base/ids`` partition fan-out — the unit the incremental compactor
#: rewrites per churned id bucket. Fixed like the search index's 64
#: token buckets: the sidecar is SKINNY (id, seq, cell), so a bucket
#: stays small far past the corpus sizes where postings needed
#: auto-sized sub-buckets.
DEFAULT_ID_BUCKETS = 64


@dataclass
class VectorIndexBatchStats:
    arrived: int
    upserts: int
    deletes: int


def _paths(index_path: str) -> tuple[str, str]:
    return (
        os.path.join(index_path, "cells"),
        os.path.join(index_path, "tombstones"),
    )


def _base_paths(index_path: str) -> tuple[str, str, str]:
    base = os.path.join(index_path, "base")
    return (
        os.path.join(base, "ids"),
        os.path.join(base, "cells"),
        os.path.join(base, "meta"),
    )


def _centroids_path(index_path: str) -> str:
    return os.path.join(index_path, "centroids")


def _quantizer_path(index_path: str) -> str:
    return os.path.join(index_path, "quantizer")


def _pending_path(index_path: str) -> str:
    return os.path.join(index_path, "pending")


def init_vector_index(
    spark: SparkSession,
    index_path: str,
    sample: DataFrame | None = None,
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    vec_col: str = "embedding",
    assigner: str = "vectorized",
    seed: int = 13,
    configured_cells: int | None = None,
) -> list[list[float]]:
    """Train (or accept) the coarse quantizer and record it. Idempotent:
    re-initialising with the SAME (assigner, n_cells) returns the
    existing centroids untouched (the quantizer is frozen by contract);
    a different configuration raises instead of silently mixing two
    incompatible cell layouts in one index. ``configured_cells`` records
    the cell count the OPERATOR asked for when it exceeds what the
    bootstrap sample could train (``/_status`` surfaces the mismatch as
    ``quantizer_degraded``)."""
    if assigner not in _ASSIGNERS:
        raise ValueError(f"unknown assigner {assigner!r}")
    existing = read_meta_rows(spark, _quantizer_path(index_path))
    if existing:
        got_a = existing[0]["assigner"]
        got_n = int(existing[0]["n_cells"])
        want_n = len(centroids) if centroids is not None else n_cells
        if got_a != assigner or got_n != want_n:
            raise ValueError(
                f"vector index at {index_path} was built with "
                f"(assigner={got_a}, n_cells={got_n}); refusing "
                f"(assigner={assigner}, n_cells={want_n})"
            )
        return [
            list(r["centroid"])
            for r in sorted(
                read_meta_rows(spark, _centroids_path(index_path)),
                key=lambda r: r["cell"],
            )
        ]
    if centroids is None:
        if sample is None:
            raise ValueError(
                "init_vector_index needs either explicit centroids or a "
                "sample frame to train them on"
            )
        centroids = train_centroids(sample, n_cells, vec_col, seed)
    _write_centroids(spark, _centroids_path(index_path), centroids)
    write_meta_rows(
        spark,
        _quantizer_path(index_path),
        [(
            assigner,
            len(centroids),
            int(configured_cells) if configured_cells else len(centroids),
            0,  # layout epoch: bumped only by rebuild_vector_quantizer
        )],
        _QUANTIZER_SCHEMA,
    )
    return centroids


def _write_centroids(
    spark: SparkSession, path: str, centroids: list[list[float]]
) -> None:
    write_meta_rows(
        spark,
        path,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        _CENTROIDS_SCHEMA,
    )


def _quantizer(
    spark: SparkSession, index_path: str
) -> tuple[str, list[list[float]], int]:
    q = read_meta_rows(spark, _quantizer_path(index_path))
    if not q:
        raise ValueError(
            f"vector index at {index_path} has no quantizer — call "
            f"init_vector_index first"
        )
    cents = [
        list(r["centroid"])
        for r in sorted(
            read_meta_rows(spark, _centroids_path(index_path)),
            key=lambda r: r["cell"],
        )
    ]
    return q[0]["assigner"], cents, int(q[0]["n_cells"])


def append_pending(
    spark: SparkSession, index_path: str, changes: DataFrame
) -> int:
    """Buffer a PRE-INIT micro-batch (raw (seq, id, deleted, embedding)
    rows, deletes included — a pre-init insert→delete sequence must not
    resurrect the doc when the buffer flushes) and return the total
    buffered upsert count — the caller's flush trigger. The buffer is
    bootstrap-window-sized by construction (the first batch with enough
    upserts flushes it), so the count-back read is trivially cheap.

    Serialized against :func:`flush_pending` by the per-path lock, and
    the quantizer is RE-checked inside it: the daemon watchdog's
    force-flush lists→ingests→retires the buffer under the same lock,
    so an unserialized append racing that flush could land rows after
    the list and lose them to the retire — silent vector loss breaking
    at-least-once. If the quantizer appeared since the
    caller's check (a flush won the race), returns ``-1``: the caller
    must route the batch to :func:`vector_index_batch` instead."""
    with writing(index_path):
        if read_meta_rows(spark, _quantizer_path(index_path)):
            return -1
        changes.write.mode("append").parquet(_pending_path(index_path))
        return pending_upsert_count(spark, index_path)


def pending_upsert_count(
    spark: SparkSession, index_path: str, vec_col: str = "embedding"
) -> int:
    """Upsert rows buffered in ``pending`` whose vector can train the
    quantizer — non-null and nonzero, the trainer's own rule (0 when no
    buffer exists)."""
    pend = try_open_parquet(spark, _pending_path(index_path))
    if pend is None:
        return 0
    usable = ~F.col("deleted") & nonzero_norm(F.col(vec_col))
    return pend.filter(usable).count()


def flush_pending(
    spark: SparkSession,
    index_path: str,
    n_cells: int,
    assigner: str = "vectorized",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> "VectorIndexBatchStats | None":
    """Train the quantizer on the buffered upserts' LATEST versions,
    ingest the whole buffer as one batch, and retire the buffer. Trains
    at most ``n_cells`` cells — one per distinct buffered vector when
    there are fewer — recording ``n_cells`` as ``configured_cells`` so
    a forced small-feed flush is visible in `/_status`. The buffer is
    not counted here: the trainer's probe counts the usable latest
    upserts. When none carries a usable (non-null, nonzero) vector the
    buffer is retired and None returned: with no quantizer the index
    holds no doc, so what is left are tombstones for docs it never
    held, and they cannot train a quantizer.
    Idempotent against a crash between the quantizer write and the
    ingest: re-entry sees the quantizer and ingests the still-present
    buffer (:func:`_drain_pending`'s path)."""
    with writing(index_path):
        pend_path = _pending_path(index_path)
        pend = try_open_parquet(spark, pend_path)
        if pend is None:
            return None
        if not read_meta_rows(spark, _quantizer_path(index_path)):
            latest_up = (
                pend.groupBy(id_col)
                .agg(
                    F.max_by(
                        F.struct(
                            F.col("deleted").alias("deleted"),
                            F.col(vec_col).alias("vec"),
                        ),
                        F.col("seq"),
                    ).alias("c")
                )
                .filter(~F.col("c.deleted"))
                .select(F.col("c.vec").alias(vec_col))
            )
            centroids = train_centroids(latest_up, int(n_cells), vec_col, seed)
            if not centroids:
                publish(index_path, [(pend_path, None)])
                return None
            init_vector_index(
                spark,
                index_path,
                centroids=centroids,
                assigner=assigner,
                configured_cells=int(n_cells),
            )
        stats = vector_index_batch(
            spark, index_path, pend, id_col=id_col, vec_col=vec_col
        )
        publish(index_path, [(pend_path, None)])
        return stats


def vector_index_batch(
    spark: SparkSession,
    index_path: str,
    changes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seq_col: str = "seq",
    deleted_col: str = "deleted",
) -> VectorIndexBatchStats:
    """Apply one micro-batch of changes. ``changes`` rows are
    (seq, id, deleted, embedding) — upserts carry the new vector,
    deletes carry ``deleted=true`` (vector ignored). An upsert whose
    vector is null or all-zero has no cosine direction to index, so it
    is a delete for this index too. Multiple changes to one doc in a
    batch collapse to the max-seq one. Cost is
    O(changed docs) and the JOB budget is three launches (two for an
    upsert-only batch): one folded stats aggregate that also
    materializes the per-id collapse, the cells append (seq rides the
    assigner's passthrough — no rejoin), and the tombstone append.
    The read-mostly gate reads the cells/tombstone data dirs
    themselves, so there is no sidecar write and no write-order
    invariant to preserve.

    Bootstrap: a batch carrying upserts that reaches an EMPTY index (a
    quantizer but no ``base/meta``, no tail cells and no tombstones —
    read from the meta table and the footers, no Spark job) is written
    as the compacted base instead of a tail (:func:`_publish_base`),
    so the first compaction has nothing to do. A crash after its
    publish makes the replay append a tail: the at-least-once path."""
    cells_path, tomb_path = _paths(index_path)
    _, _, meta_path = _base_paths(index_path)
    with writing(index_path):
        # quantizer read INSIDE the lock: a rebuild
        # (:func:`rebuild_vector_quantizer`) swaps centroids + base
        # under the same lock, and a batch assigning cells with the
        # OLD centroids into the NEW layout would write tail rows that
        # probed reads silently miss
        assigner, cents, n_cells = _quantizer(spark, index_path)
        empty = lsm.is_empty(spark, meta_path, cells_path, tomb_path)
        latest = (
            changes.groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(
                        F.col(seq_col).cast("long").alias("seq"),
                        (
                            F.col(deleted_col).cast("boolean")
                            | ~nonzero_norm(F.col(vec_col))
                        ).alias("deleted"),
                        F.col(vec_col).alias("vec"),
                    ),
                    F.col(seq_col),
                ).alias("c"),
                F.count(F.lit(1)).alias("_n_changes"),
            )
            .select(id_col, "c.seq", "c.deleted", "c.vec", "_n_changes")
            .persist()
        )
        counts = latest.agg(
            F.coalesce(F.sum("_n_changes"), F.lit(0)).alias("arrived"),
            F.coalesce(
                F.sum(F.when(~F.col("deleted"), 1).otherwise(0)), F.lit(0)
            ).alias("n_up"),
            F.coalesce(
                F.sum(F.when(F.col("deleted"), 1).otherwise(0)), F.lit(0)
            ).alias("n_del"),
        ).collect()[0]
        arrived, n_up, n_del = (
            int(counts["arrived"]), int(counts["n_up"]), int(counts["n_del"])
        )
        if n_up:
            upserts = latest.filter(~F.col("deleted")).select(
                id_col, "seq", F.col("vec").alias(vec_col)
            )
            assigned = _ASSIGNERS[assigner](
                upserts, cents, id_col, vec_col, nprobe=1,
                extra_cols=("seq",),
            ).select(id_col, "seq", vec_col, "cell")
            if empty:
                # the base a full fold of this tail would give; a crash
                # before its publish leaves the index empty, so the
                # replayed batch bootstraps again
                _publish_base(
                    spark, index_path, assigned, "bootstrapping-vec",
                    n_cells, _layout_epoch(spark, index_path),
                    DEFAULT_ID_BUCKETS, id_col, vec_col,
                )
            else:
                assigned.write.mode("append").partitionBy("cell").parquet(
                    cells_path
                )
        # a bootstrap's deletes name docs the index never held: like a
        # full fold, the base keeps no tombstone
        if n_del and not (empty and n_up):
            latest.filter(F.col("deleted")).select(
                id_col, "seq"
            ).write.mode("append").parquet(tomb_path)
        latest.unpersist()
        return VectorIndexBatchStats(
            arrived=arrived, upserts=n_up, deletes=n_del
        )


def live_vector_ids(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> DataFrame:
    """(id, seq) of every LIVE vector: max-seq version per doc over
    (base ∪ tail) minus higher-seq tombstones. All three inputs are
    SKINNY (id, seq) projections — base liveness reads the (id, seq,
    cell) sidecar, tail liveness column-prunes the cells files (parquet
    reads only those columns' pages; the embedding column never moves)."""
    cells_path, tomb_path = _paths(index_path)
    base_ids_path, _, _ = _base_paths(index_path)
    schema = f"{id_col} long, seq long"
    tail, base, tomb = read_components(
        spark,
        [(cells_path, schema), (base_ids_path, schema), (tomb_path, schema)],
        id_col,
    )
    return lsm.live_versions(
        tail.select(id_col, "seq").unionByName(base.select(id_col, "seq")),
        tomb.select(id_col, "seq"),
        id_col,
    )


def vector_topk_live(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k over the LIVE corpus, answered from the maintained
    index: (query_id, neighbor_id, rank), ranked on rounded cosine with
    deterministic ties (shared :func:`ann._score_probed` stage — the
    batch IVF path and this one cannot drift numerically).

    The probed slice is O(nprobe/n_cells) of the index: base cell dirs
    are opened by name, the tail is filtered to the probed cells
    (update-rate-sized since the last compaction). On a compacted
    churn-free index (stats-bearing meta, no tail, no tombstones) the
    slice is live and unique by the compaction invariant — no dedup, no
    liveness join. The query-side assignment runs twice (once for the
    probed-cell list, once inside scoring) rather than persisting
    q_cells: a query-sized Arrow pass repeated is cheaper than a cached
    block a long-running daemon leaks until session GC.

    ``candidates`` (optional, an id frame) restricts neighbors to the
    given set — metadata-filtered ANN ("nearest among docs with
    lang=en"): a semi-join on the probed slice, so the filter pays
    slice cost, never corpus cost. POST-filter semantics, the standard
    IVF trade: a highly selective filter thins the probed cells and
    can return fewer than k rows — raise ``nprobe`` for selective
    filters."""
    assigner, cents, _ = _quantizer(spark, index_path)
    cells_path, tomb_path = _paths(index_path)
    _, base_cells_path, meta_path = _base_paths(index_path)

    q_cells = _ASSIGNERS[assigner](
        queries, cents, id_col, vec_col, nprobe=nprobe
    )
    probed = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )
    # read-mostly base: the probed base slice is live and unique, and
    # there is no tail to read
    fast = lsm.base_is_live(
        spark, read_meta_rows(spark, meta_path), cells_path, tomb_path
    )
    base_probed = lsm.open_dirs(
        spark, base_cells_path, [f"cell={c}" for c in probed]
    )
    tail = None if fast else try_open_parquet(spark, cells_path)
    if tail is not None:
        tail = tail.filter(F.col("cell").isin(probed))
    frames = [
        f.select(id_col, "seq", vec_col, "cell")
        for f in (base_probed, tail)
        if f is not None
    ]
    if not frames:
        # carry the QUERY side's id dtype (string couch ids vs long
        # vec_ids — the never-cast-ids rule)
        id_t = dict(queries.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"query_id {id_t}, neighbor_id {id_t}, rank long"
        )
    slice_df = frames[0]
    for f in frames[1:]:
        slice_df = slice_df.unionByName(f)
    if not fast:
        # replay dedup on the probed slice (a version lands in exactly
        # one cell, so (id, seq) identifies it), then the seq-wins
        # liveness semi-join against the skinny global live set.
        # Deliberately global: a slice-scoped variant measured slower at
        # 600k and 6M vectors, because the slice's ids hash across every
        # id bucket while the global merge is one partial-aggregated
        # columnar pass.
        slice_df = slice_df.dropDuplicates([id_col, "seq"]).join(
            live_vector_ids(spark, index_path, id_col),
            on=[id_col, "seq"],
            how="left_semi",
        )
    if candidates is not None:
        slice_df = slice_df.join(
            candidates.select(id_col).distinct(), id_col, "left_semi"
        )
    return _score_probed(q_cells, slice_df, k, id_col, vec_col)


def _live_rows(
    spark: SparkSession, index_path: str, live: DataFrame, id_col: str,
    vec_col: str,
) -> DataFrame | None:
    """The ``(id, seq, vec, cell)`` rows of base ∪ tail whose version is
    in ``live``, replay copies dropped; ``None`` when the index holds no
    cells at all."""
    cells_path, _ = _paths(index_path)
    _, base_cells_path, _ = _base_paths(index_path)
    frames = [
        f.select(id_col, "seq", vec_col, "cell")
        for f in (
            try_open_parquet(spark, base_cells_path),
            try_open_parquet(spark, cells_path),
        )
        if f is not None
    ]
    if not frames:
        return None
    allc = frames[0]
    for f in frames[1:]:
        allc = allc.unionByName(f)
    return allc.dropDuplicates([id_col, "seq"]).join(
        live, on=[id_col, "seq"], how="left_semi"
    )


def _stage_base(
    spark: SparkSession,
    rows: DataFrame,
    stage: str,
    id_col: str,
    vec_col: str,
    id_buckets: int,
) -> int:
    """Write live ``rows`` (one ``(id, seq, vec, cell)`` per doc) as a
    staged base under ``stage``: ``cells`` in ``cell=N`` dirs, then the
    ``ids`` sidecar in ``id_bucket=H`` dirs derived from the staged
    files, never from the rows' lineage. Returns the staged live
    count, from the staged files' footers (no Spark job on a local
    path)."""
    staged_cells = os.path.join(stage, "cells")
    rows.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(staged_cells)
    # the empty-read fallback keeps the rows' id type (couch ids are
    # strings — the never-cast-ids rule)
    id_t = dict(rows.dtypes)[id_col]
    (staged_c,) = read_components(
        spark,
        [(
            staged_cells,
            f"{id_col} {id_t}, seq long, {vec_col} array<double>, cell int",
        )],
        id_col,
    )
    (
        staged_c.select(
            id_col, "seq", "cell",
            lsm.bucket(id_col, id_buckets).alias("id_bucket"),
        )
        .repartition(F.col("id_bucket"))
        .write.mode("overwrite")
        .partitionBy("id_bucket")
        .parquet(os.path.join(stage, "ids"))
    )
    return component_rows(spark, staged_cells)


def compact_vector_index(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_buckets: int = DEFAULT_ID_BUCKETS,
) -> dict:
    """Full fold of base ∪ tail into a live-only base, clearing the tail
    and tombstones — the first-compaction path of an index with no base
    (it lays down the id-bucketed ``base/ids`` sidecar the incremental
    fold needs). Steady-state maintenance is
    :func:`compact_vector_index_incremental`; this rewrite is
    corpus-proportional. Runs under the per-path lock and publishes in
    one ``commit.publish``."""
    _, _, n_cells = _quantizer(spark, index_path)
    _, _, meta_path = _base_paths(index_path)
    with writing(index_path):
        # refuse a torn rebuild before any work
        fold_epoch = _fold_epoch(
            spark, index_path, read_meta_rows(spark, meta_path)
        )
        live = live_vector_ids(spark, index_path, id_col).persist()
        live_rows = _live_rows(spark, index_path, live, id_col, vec_col)
        if live_rows is None:
            live.unpersist()
            return {"mode": "noop", "n_live": 0}
        n_live = _publish_base(
            spark, index_path, live_rows, "compacting-vec", n_cells,
            fold_epoch, id_buckets, id_col, vec_col,
        )
        live.unpersist()
        return {"mode": "full", "n_live": n_live}


def _publish_base(
    spark: SparkSession,
    index_path: str,
    rows: DataFrame,
    tag: str,
    n_cells: int,
    epoch: int,
    id_buckets: int,
    id_col: str,
    vec_col: str,
) -> int:
    """Stage ``rows`` (one live ``(id, seq, vec, cell)`` per doc) as the
    index's whole base in the ``tag`` sibling (:func:`_stage_base`),
    stamp its meta and publish it, retiring the tails. Returns the live
    count."""
    cells_path, tomb_path = _paths(index_path)
    _, _, meta_path = _base_paths(index_path)
    stage = staging(index_path, tag)
    n_live = _stage_base(spark, rows, stage, id_col, vec_col, id_buckets)
    staged_meta = os.path.join(stage, "meta")
    write_meta_rows(
        spark,
        staged_meta,
        [(int(n_cells), n_live, int(id_buckets), epoch)],
        _BASE_META_SCHEMA,
    )
    lsm.fold_publish(
        index_path,
        [(os.path.join(index_path, "base"), stage, ["cells", "ids"])],
        (meta_path, staged_meta),
        [cells_path, tomb_path],
        stage,
    )
    return n_live


def compact_vector_index_incremental(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fold the tail into only the cell dirs it touches — the watchdog's
    steady-state step, churn-proportional instead of
    corpus-proportional.

    The LSM core (:mod:`streaming.lsm`) discovers the churned ids and
    their id buckets, resolves their liveness and publishes the fold.
    This function supplies the vector payload:

    * **old cells** come from the churned ids' ``base/ids`` rows,
      opened by ``id_bucket=H`` dir name (never a base/cells scan);
      **new cells** from the tail rows. Their union is the affected
      set, at most n_cells ints;
    * **non-churned rows in affected cells pass through** with no join
      and no dedup; churned-doc rows pay the replay dedup and the
      liveness filter, on skinny frames until the one embedding-bearing
      rewrite;
    * **rewrites follow effective churn** — churned ids the index
      actually holds. Tombstones for never-indexed ids (a mostly-plain
      feed tombstones every field-less upsert) are read-probed but
      rewrite nothing, and the tombstone retire erases them;
    * meta moves by the exact churn delta; unaffected ``cell=N`` and
      ``id_bucket=H`` dirs are never opened (bit-identical, by test).

    Falls back to :func:`compact_vector_index` when the index has never
    been compacted or its base holds no ``id_bucket`` dirs (every live
    vector folded away). Returns the stats dict
    the daemon watchdog logs (``mode`` = ``full`` | ``noop`` |
    ``incremental``, churn and affected-dir counts, ``n_live``)."""
    with writing(index_path):
        cells_path, tomb_path = _paths(index_path)
        base_ids_path, base_cells_path, meta_path = _base_paths(index_path)
        # cleared on entry: the full fallback below never visits it
        stage = staging(index_path, "compacting-vec-incr")
        meta_rows = read_meta_rows(spark, meta_path)
        if not meta_rows or not lsm.has_partition_prefix(
            base_ids_path, "id_bucket="
        ):
            done = compact_vector_index(spark, index_path, id_col, vec_col)
            return {**done, "mode": "full"}
        n_id_buckets = int(meta_rows[0]["id_buckets"])
        n_cells = int(meta_rows[0]["n_cells"])
        # refuse a torn rebuild before any work
        fold_epoch = _fold_epoch(spark, index_path, meta_rows)

        # footer counts: a churn-free index (a bootstrapped or freshly
        # folded base) answers noop without a Spark job
        if not component_rows(spark, cells_path) and not component_rows(
            spark, tomb_path
        ):
            return {
                "mode": "noop",
                "churned_docs": 0,
                "affected_cells": 0,
                "total_cells": n_cells,
                "n_live": int(meta_rows[0]["n_live"]),
            }
        schema = f"{id_col} long, seq long"
        tail, tomb = read_components(
            spark, [(cells_path, schema), (tomb_path, schema)], id_col
        )
        tail_skinny = (
            tail.select(id_col, "seq", "cell")
            if "cell" in tail.columns
            else tail.select(
                id_col, "seq", F.lit(None).cast("int").alias("cell")
            )
        )

        churned, n_churned, aff_id_buckets = lsm.churn(
            tail_skinny, tomb, id_col, n_id_buckets
        )
        id_t = dict(tail_skinny.dtypes).get(id_col, "long")
        base_ids_aff = lsm.open_dirs(
            spark,
            base_ids_path,
            [f"id_bucket={b}" for b in aff_id_buckets],
            f"{id_col} {id_t}, seq long, cell int, id_bucket int",
        ).persist()
        # churned docs' old sidecar rows: their old cell and old seq
        base_ids_churned = (
            base_ids_aff.join(churned, on=id_col, how="left_semi")
            .select(id_col, "seq", "cell")
            .persist()
        )
        # one churn-sized aggregate yields the whole rewrite plan: the
        # affected cells (old ∪ new) and the effective churn buckets
        # (ids the index holds: a base sidecar row or a tail upsert).
        # At most id_buckets rows, each with at most n_cells cells.
        discovery = (
            base_ids_churned.select(id_col, "cell")
            .unionByName(tail_skinny.select(id_col, "cell"))
            .groupBy(lsm.bucket(id_col, n_id_buckets).alias("b"))
            .agg(
                F.countDistinct(F.col(id_col)).alias("n"),
                F.collect_set("cell").alias("cells"),
            )
            .collect()
        )
        eff_id_buckets = sorted(r["b"] for r in discovery)
        n_eff_churned = sum(int(r["n"]) for r in discovery)
        aff_cells = sorted(
            {c for r in discovery for c in r["cells"] if c is not None}
        )
        cell_dirs = [f"cell={c}" for c in aff_cells]
        churned_live = lsm.live_versions(
            base_ids_churned.select(id_col, "seq").unionByName(
                tail_skinny.select(id_col, "seq")
            ),
            tomb.select(id_col, "seq"),
            id_col,
        ).persist()

        # affected-cell embedding rows, opened by dir name — the only
        # embedding-bearing stage
        staged_schema = (
            f"{id_col} {id_t}, seq long, {vec_col} array<double>, cell int"
        )
        base_c_aff = lsm.open_dirs(
            spark, base_cells_path, cell_dirs, staged_schema
        ).select(id_col, "seq", vec_col, "cell")
        keep = base_c_aff.join(churned, on=id_col, how="left_anti")
        tail_rows = (
            tail.select(id_col, "seq", vec_col, "cell")
            if "cell" in tail.columns
            else spark.createDataFrame([], staged_schema)
        )
        churn_rows = (
            base_c_aff.join(churned, on=id_col, how="left_semi")
            .unionByName(tail_rows)
            .dropDuplicates([id_col, "seq"])
            .join(churned_live, on=[id_col, "seq"], how="left_semi")
        )
        staged_cells = os.path.join(stage, "cells")
        # no repartition: the keep side was read dir-clustered and only
        # passed a broadcast anti-join
        keep.unionByName(churn_rows).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(staged_cells)
        # the sidecar derives from the staged rows, never the merge
        # lineage; the empty-read fallback keeps the tail's id type
        (staged_c,) = read_components(
            spark, [(staged_cells, staged_schema)], id_col
        )
        # sidecar keeps come only from effective buckets: a bucket whose
        # only churn is never-indexed tombstones is not rewritten
        ids_keep = (
            base_ids_aff.filter(F.col("id_bucket").isin(eff_id_buckets))
            .join(churned, on=id_col, how="left_anti")
            .select(id_col, "seq", "cell")
        )
        ids_new = staged_c.join(churned, on=id_col, how="left_semi").select(
            id_col, "seq", "cell"
        )
        staged_ids = os.path.join(stage, "ids")

        def _write_ids() -> None:
            (
                ids_keep.unionByName(ids_new)
                .withColumn("id_bucket", lsm.bucket(id_col, n_id_buckets))
                .repartition(F.col("id_bucket"))
                .write.mode("overwrite")
                .partitionBy("id_bucket")
                .parquet(staged_ids)
            )

        # the sidecar write and the meta delta are independent: the
        # write runs on a second driver thread
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            ids_f = pool.submit(_write_ids)
            delta = lsm.meta_delta(base_ids_churned, churned_live)
            ids_f.result()
        n_live = int(meta_rows[0]["n_live"]) + int(delta["n"])
        staged_meta = os.path.join(stage, "meta")
        write_meta_rows(
            spark,
            staged_meta,
            [(n_cells, n_live, n_id_buckets, fold_epoch)],
            _BASE_META_SCHEMA,
        )
        churned.unpersist()
        base_ids_aff.unpersist()
        base_ids_churned.unpersist()
        churned_live.unpersist()

        lsm.fold_publish(
            index_path,
            [
                (base_cells_path, staged_cells, cell_dirs),
                (
                    base_ids_path,
                    staged_ids,
                    [f"id_bucket={b}" for b in eff_id_buckets],
                ),
            ],
            (meta_path, staged_meta),
            [cells_path, tomb_path],
            stage,
        )
        return {
            "mode": "incremental",
            "churned_docs": n_churned,
            "effective_churned_docs": n_eff_churned,
            "affected_cells": len(aff_cells),
            "total_cells": n_cells,
            "affected_id_buckets": eff_id_buckets,
            "probed_id_buckets": aff_id_buckets,
            "id_buckets": n_id_buckets,
            "n_live": n_live,
        }


def vector_index_status(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> dict:
    """Operator health for one vector index — the `/_status` payload:
    live count, churn since the last compaction (tail versions +
    tombstones, the compaction-debt signal), quantizer shape — trained
    vs configured cells (``quantizer_degraded`` marks a bootstrap that
    trained fewer cells than asked) — and any pre-init buffer. The live
    count is meta-exact on a churn-free base; with churn it is one
    aggregate over the skinny (id, seq) projections, never the
    embeddings."""
    cells_path, tomb_path = _paths(index_path)
    _, _, meta_path = _base_paths(index_path)
    meta_rows = read_meta_rows(spark, meta_path)
    tail_rows, n_tomb, n_live = lsm.tail_status(
        spark, cells_path, tomb_path, meta_rows
    )
    q = read_meta_rows(spark, _quantizer_path(index_path))
    if n_live is None:
        n_live = live_vector_ids(spark, index_path, id_col).count()
    trained = int(q[0]["n_cells"]) if q else None
    configured = (
        int(q[0].get("configured_cells") or trained) if q else None
    )
    return {
        "live_vectors": n_live,
        "tail_rows": tail_rows,
        "tombstones": n_tomb,
        "base_present": bool(meta_rows),
        "n_cells": trained,
        "configured_cells": configured,
        "quantizer_degraded": (
            trained < configured if q else False
        ),
        "assigner": q[0]["assigner"] if q else None,
        "layout_epoch": (
            int(q[0]["layout_epoch"])
            if q and q[0].get("layout_epoch") is not None
            else (0 if q else None)
        ),
        "pending_upserts": (
            pending_upsert_count(spark, index_path) if not q else 0
        ),
        "compaction_debt": lsm.compaction_debt(tail_rows, n_tomb, n_live),
    }


def vector_index_balance(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> dict:
    """Cell-balance report for the frozen coarse quantizer — the drift
    signal an operator watches to decide when an off-peak
    :func:`rebuild_vector_quantizer` pays (standard IVF maintenance; a
    corpus whose distribution has drifted from the training sample
    piles live vectors into few cells and nprobe pruning degrades
    toward a full scan). Computed ENTIRELY on skinny (id, seq, cell)
    frames — the base/ids sidecar plus the tail's pruned columns; the
    embeddings never move. One driver-bounded collect (<= n_cells
    rows)."""
    q = read_meta_rows(spark, _quantizer_path(index_path))
    if not q:
        return {
            "n_cells": None,
            "live_vectors": 0,
            "populated_cells": 0,
            "empty_cells": None,
            "max_cell_rows": 0,
            "mean_cell_rows": 0.0,
            "skew": None,
        }
    n_cells = int(q[0]["n_cells"])
    counts = {
        int(r["cell"]): int(r["n_live"])
        for r in vector_cell_counts(spark, index_path, id_col).collect()
    }
    live = sum(counts.values())
    mean = live / n_cells if n_cells else 0.0
    mx = max(counts.values(), default=0)
    return {
        "n_cells": n_cells,
        "live_vectors": live,
        "populated_cells": len(counts),
        "empty_cells": n_cells - len(counts),
        "max_cell_rows": mx,
        "mean_cell_rows": round(mean, 2),
        # max/mean: 1.0 = perfectly balanced; n_cells = everything in
        # one cell (nprobe=1 reads the whole corpus)
        "skew": round(mx / mean, 2) if mean else None,
    }


def vector_cell_counts(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> DataFrame:
    """(cell, n_live) — each populated cell's LIVE vector count, the
    frame :func:`vector_index_balance` summarizes. Skinny throughout:
    placements come from the base/ids sidecar ∪ the tail's pruned
    (id, seq, cell) columns, replay-deduped, liveness-filtered against
    the (id, seq) live set. At most n_cells output rows."""
    cells_path, _ = _paths(index_path)
    base_ids_path, _, _ = _base_paths(index_path)
    schema = f"{id_col} long, seq long, cell int"
    tail, base = read_components(
        spark, [(cells_path, schema), (base_ids_path, schema)], id_col
    )
    placed = (
        tail.select(id_col, "seq", "cell")
        .unionByName(base.select(id_col, "seq", "cell"))
        .dropDuplicates([id_col, "seq"])
    )
    return (
        placed.join(
            live_vector_ids(spark, index_path, id_col),
            on=[id_col, "seq"],
            how="left_semi",
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_live"))
    )


def rebuild_vector_quantizer(
    spark: SparkSession,
    index_path: str,
    n_cells: int | None = None,
    centroids: list[list[float]] | None = None,
    assigner: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
    id_buckets: int = DEFAULT_ID_BUCKETS,
) -> dict:
    """Retrain (or accept) NEW coarse centroids and rewrite the base
    under them — the documented off-peak answer to quantizer drift
    (:func:`vector_index_balance`) and to a degraded bootstrap
    (``quantizer_degraded`` in `/_status`), and the ONE sanctioned way
    to change the frozen (assigner, n_cells) configuration. Trains on
    the LIVE vectors (``train_centroids``' sample cap bounds the fit)
    unless explicit ``centroids`` are given; defaults keep the current
    assigner and cell count.

    Cost is one full live rewrite — deliberately identical in shape to
    :func:`compact_vector_index` (every embedding re-assigns, so
    corpus-proportional is the floor, not a design miss) — which is
    exactly why the DAEMON never triggers it: rebuilds are
    operator-scheduled off-peak, while the watchdog's recurring step
    stays the churn-proportional fold. Serialized against ingest by
    the per-path lock (batches read the quantizer inside it); LOCK-FREE
    readers racing the swap can probe stale cells for the swap's
    duration — the documented recovery-window trade, here applied to
    the centroids too."""
    with writing(index_path):
        old_assigner, _, old_n = _quantizer(spark, index_path)
        use_assigner = assigner or old_assigner
        if use_assigner not in _ASSIGNERS:
            raise ValueError(f"unknown assigner {use_assigner!r}")
        cells_path, tomb_path = _paths(index_path)
        base_ids_path, base_cells_path, meta_path = _base_paths(index_path)
        live = live_vector_ids(spark, index_path, id_col).persist()
        live_rows = _live_rows(spark, index_path, live, id_col, vec_col)
        if live_rows is None:
            live.unpersist()
            raise ValueError(
                f"vector index at {index_path} holds no vectors to "
                f"rebuild the quantizer from"
            )
        live_rows = live_rows.drop("cell").persist()
        if centroids is None:
            centroids = train_centroids(
                live_rows, n_cells or old_n, vec_col, seed
            )
        assigned = _ASSIGNERS[use_assigner](
            live_rows, centroids, id_col, vec_col, nprobe=1,
            extra_cols=("seq",),
        ).select(id_col, "seq", vec_col, "cell")
        stage = staging(index_path, "rebuilding-vec")
        n_live = _stage_base(
            spark, assigned, stage, id_col, vec_col, id_buckets
        )
        live_rows.unpersist()
        live.unpersist()
        # everything the new layout needs — base meta, centroids,
        # quantizer marker — is staged before any swap, stamped with
        # the bumped layout epoch, so the swap is one publish. A crash
        # inside it leaves base/meta at epoch N+1 with the quantizer
        # still at N — what vector_index_fsck's epoch cross-check
        # reports — until the next writer completes it.
        new_epoch = _layout_epoch(spark, index_path) + 1
        staged_meta = os.path.join(stage, "meta")
        write_meta_rows(
            spark,
            staged_meta,
            [(len(centroids), n_live, int(id_buckets), new_epoch)],
            _BASE_META_SCHEMA,
        )
        staged_centroids = os.path.join(stage, "centroids")
        _write_centroids(spark, staged_centroids, centroids)
        staged_quantizer = os.path.join(stage, "quantizer")
        write_meta_rows(
            spark,
            staged_quantizer,
            [(use_assigner, len(centroids), len(centroids), new_epoch)],
            _QUANTIZER_SCHEMA,
        )
        # step order: base first (a racing reader sees old centroids
        # + new base — the documented stale-probe window — rather than
        # new centroids + no base), tails before the quantizer pair (an
        # old tail assigned under the old centroids must never survive
        # into the new layout where a later fold would merge its stale
        # cell placements), centroids before the marker that declares
        # them current
        publish(
            index_path,
            [
                (base_cells_path, os.path.join(stage, "cells")),
                (base_ids_path, os.path.join(stage, "ids")),
                (meta_path, staged_meta),
                (cells_path, None),
                (tomb_path, None),
                (_centroids_path(index_path), staged_centroids),
                (_quantizer_path(index_path), staged_quantizer),
            ],
            stage,
        )
        return {
            "mode": "rebuild",
            "n_live": n_live,
            "n_cells": len(centroids),
            "prev_cells": old_n,
            "assigner": use_assigner,
            "layout_epoch": new_epoch,
        }


def vector_index_fsck(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> dict:
    """Integrity report for one vector index — the index-side analog of
    the partitioned mirror's ``validate_mirror`` (`/_fsck`): the checks
    an operator runs before trusting pruned reads after an incident
    (crash mid-maintenance, manual surgery, filesystem restore).

    Verifies the invariants every pruned read depends on:

    * **sidecar ↔ cells agreement** — ``base/ids`` and ``base/cells``
      hold exactly the same (id, seq, cell) placements (a probed read
      opens cell dirs BY NAME from the sidecar's discovery; a
      placement present in one but not the other is a silently
      invisible or undiscoverable vector);
    * **base uniqueness** — one live row per doc in the base (the
      compaction invariant the read-mostly fast path skips dedup on);
    * **meta exactness** — ``base/meta``'s ``n_live`` equals the
      actual live count (what `/_status` reports churn against);
    * **quantizer consistency** — centroid count equals the recorded
      ``n_cells`` and every placed cell id is in range;
    * **layout-epoch agreement** — ``base/meta`` and the quantizer
      marker carry the same epoch (a torn
      :func:`rebuild_vector_quantizer` swap is the one corruption the
      count/range checks cannot see when n_cells is unchanged —
      ADVICE r11).

    All checks run on SKINNY (id, seq, cell) projections; embeddings
    are never read. Returns ``{"ok": bool, ...detail}``."""
    cells_path, tomb_path = _paths(index_path)
    base_ids_path, base_cells_path, meta_path = _base_paths(index_path)
    q = read_meta_rows(spark, _quantizer_path(index_path))
    if not q:
        return {"ok": None, "reason": "uninitialized (no quantizer)"}
    n_cells = int(q[0]["n_cells"])
    n_centroids = len(read_meta_rows(spark, _centroids_path(index_path)))
    schema = f"{id_col} long, seq long, cell int"
    base_ids, base_cells = read_components(
        spark, [(base_ids_path, schema), (base_cells_path, schema)], id_col
    )
    sidecar = base_ids.select(id_col, "seq", "cell")
    placed = base_cells.select(id_col, "seq", "cell")
    # one pass over each skinny side: full-outer on the placement key,
    # counting rows present on only one side + per-doc multiplicity
    mismatch = (
        sidecar.withColumn("_s", F.lit(1))
        .join(
            placed.withColumn("_p", F.lit(1)),
            on=[id_col, "seq", "cell"],
            how="full_outer",
        )
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_p").isNull(), 1)), F.lit(0)
            ).alias("sidecar_only"),
            F.coalesce(
                F.sum(F.when(F.col("_s").isNull(), 1)), F.lit(0)
            ).alias("cells_only"),
        )
        .collect()[0]
    )
    dup_docs = (
        placed.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    bad_cells = placed.filter(
        (F.col("cell") < 0) | (F.col("cell") >= n_cells)
    ).count()
    meta_rows = read_meta_rows(spark, meta_path)
    n_live_meta = (
        int(meta_rows[0]["n_live"])
        if meta_rows and "n_live" in meta_rows[0]
        else None
    )
    # layout-epoch cross-check (ADVICE r11): base/meta and the
    # quantizer marker are stamped with the same epoch by every writer;
    # a crash inside rebuild_vector_quantizer's swap sequence leaves
    # the base one epoch AHEAD of the quantizer — the (old centroids,
    # new base) state whose probes silently miss neighbors and which
    # no count/range check can see when n_cells is unchanged. Either
    # side missing the column = a pre-epoch index: skip (vacuously ok).
    q_epoch = q[0].get("layout_epoch")
    base_epoch = (
        meta_rows[0].get("layout_epoch") if meta_rows else None
    )
    # asymmetric vacuity (ADVICE r12): a base WITHOUT the column is a
    # pre-epoch index (skip), but a base WITH the column next to a
    # quantizer without it is the first rebuild of a pre-epoch index
    # crashed mid-swap — _layout_epoch treats the missing marker as 0
    # and rebuild stamped the base 1, so compare against 0, don't skip
    epoch_ok = base_epoch is None or int(base_epoch) == (
        int(q_epoch) if q_epoch is not None else 0
    )
    n_live_actual = live_vector_ids(spark, index_path, id_col).count()
    schema = f"{id_col} long, seq long"
    tail, tomb = read_components(
        spark, [(cells_path, schema), (tomb_path, schema)], id_col
    )
    tail_rows = tail.count()
    n_tomb = tomb.count()
    # meta is only claimed exact on a churn-free base; with churn it is
    # the last compaction's count and the live set legitimately differs
    meta_exact = (
        n_live_meta is None
        or tail_rows > 0
        or n_tomb > 0
        or n_live_meta == n_live_actual
    )
    ok = (
        int(mismatch["sidecar_only"]) == 0
        and int(mismatch["cells_only"]) == 0
        and dup_docs == 0
        and bad_cells == 0
        and meta_exact
        and n_centroids == n_cells
        and epoch_ok
    )
    return {
        "ok": ok,
        "layout_epoch_quantizer": (
            int(q_epoch) if q_epoch is not None else None
        ),
        "layout_epoch_base": (
            int(base_epoch) if base_epoch is not None else None
        ),
        "epoch_ok": epoch_ok,
        "sidecar_only_rows": int(mismatch["sidecar_only"]),
        "cells_only_rows": int(mismatch["cells_only"]),
        "multi_row_docs_in_base": dup_docs,
        "out_of_range_cells": bad_cells,
        "n_live_meta": n_live_meta,
        "n_live_actual": n_live_actual,
        "meta_exact": meta_exact,
        "tail_rows": tail_rows,
        "tombstones": n_tomb,
        "n_cells": n_cells,
        "n_centroids": n_centroids,
    }
