"""CDC-maintained vector index: live top-k must EQUAL the brute-force
cosine ranking over the model's live corpus — across inserts, updates
(vectors MOVING cells), deletes, replays, and compaction. nprobe =
n_cells in the equivalence tests so IVF probing is exhaustive and the
check is exact; cell pruning is pinned separately."""

import os

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.streaming.vector_stream import (
    compact_vector_index,
    init_vector_index,
    live_vector_ids,
    vector_index_batch,
    vector_index_status,
    vector_topk_live,
)

# fixed 2-d anchors: cells = quadrant-ish directions (deterministic)
ANCHORS = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]

# (id, vector) model corpus; ids chosen so updates move cells
V0 = {
    1: [0.9, 0.1], 2: [0.8, 0.3], 3: [0.1, 0.9],
    4: [-0.7, 0.2], 5: [0.2, -0.8], 6: [0.6, 0.6],
}


def _changes(spark, rows):
    # (seq, vec_id, deleted, embedding)
    return spark.createDataFrame(
        rows, "seq long, vec_id long, deleted boolean, embedding array<double>"
    )


def _queries(spark, model):
    return spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(
            [[1.0, 0.05], [0.05, 1.0], [-0.5, 0.5]]
        )],
        "vec_id long, embedding array<double>",
    )


def _brute(spark, model, queries, k):
    """Exact ranking with _score_probed's own rounding/tie rules: every
    (query, live doc) pair scored — the all-cells 'index'."""
    from couch_to_postgres_spark.extensions.ann import _score_probed

    corpus = spark.createDataFrame(
        [(i, v, 0) for i, v in model.items()],
        "vec_id long, embedding array<double>, cell int",
    )
    q = queries.select("vec_id", "embedding", F.lit(0).alias("cell"))
    return _score_probed(q, corpus, k, "vec_id", "embedding")


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    )


@pytest.fixture()
def index(spark, tmp_path):
    p = str(tmp_path / "vec_index")
    init_vector_index(spark, p, centroids=ANCHORS, assigner="hof")
    return p


def _check(spark, index, model, k=4):
    got = _rows(vector_topk_live(
        spark, index, _queries(spark, model), k=k, nprobe=len(ANCHORS)
    ))
    want = _rows(_brute(spark, model, _queries(spark, model), k=k))
    assert got == want


def test_inserts_equal_brute_force(spark, index):
    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    _check(spark, index, V0)
    assert vector_index_status(spark, index)["live_vectors"] == len(V0)


def test_update_moves_cells_and_supersedes(spark, index):
    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    # doc 1 flips from the +x cell to the +y cell: the OLD version lives
    # in a cell the new one does not — id-only tombstones could never
    # express this; seq-wins liveness must
    model = {**V0, 1: [0.05, 0.95]}
    st = vector_index_batch(
        spark, index, _changes(spark, [(10, 1, False, model[1])])
    )
    assert (st.arrived, st.upserts, st.deletes) == (1, 1, 0)
    _check(spark, index, model)
    assert vector_index_status(spark, index)["live_vectors"] == len(model)


def test_delete_and_reinsert(spark, index):
    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    model = dict(V0)
    model.pop(3)
    vector_index_batch(spark, index, _changes(spark, [(10, 3, True, None)]))
    _check(spark, index, model)
    model[3] = [0.3, 0.7]
    vector_index_batch(
        spark, index, _changes(spark, [(11, 3, False, model[3])])
    )
    _check(spark, index, model)


def test_replay_is_idempotent(spark, index):
    batch = [(i, i, False, v) for i, v in V0.items()]
    vector_index_batch(spark, index, _changes(spark, batch))
    before = _rows(vector_topk_live(
        spark, index, _queries(spark, V0), k=4, nprobe=len(ANCHORS)
    ))
    st = vector_index_batch(spark, index, _changes(spark, batch))
    assert st.arrived == len(V0)  # redelivered, absorbed
    after = _rows(vector_topk_live(
        spark, index, _queries(spark, V0), k=4, nprobe=len(ANCHORS)
    ))
    assert before == after
    assert vector_index_status(spark, index)["live_vectors"] == len(V0)


def test_compaction_preserves_results_and_restores_fast_path(
    spark, index
):
    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    model = {**V0, 1: [0.05, 0.95]}
    vector_index_batch(spark, index, _changes(spark, [(10, 1, False, model[1])]))
    model.pop(5)
    vector_index_batch(spark, index, _changes(spark, [(11, 5, True, None)]))
    before = _rows(vector_topk_live(
        spark, index, _queries(spark, model), k=4, nprobe=len(ANCHORS)
    ))
    st = compact_vector_index(spark, index)
    assert st["mode"] == "full" and st["n_live"] == len(model)
    after = _rows(vector_topk_live(
        spark, index, _queries(spark, model), k=4, nprobe=len(ANCHORS)
    ))
    assert before == after
    _check(spark, index, model)
    status = vector_index_status(spark, index)
    assert status["tail_rows"] == 0 and status["tombstones"] == 0
    assert status["live_vectors"] == len(model)
    assert status["compaction_debt"] == 0.0
    # post-compaction churn works on top of the base
    model[7] = [0.7, -0.6]
    vector_index_batch(spark, index, _changes(spark, [(12, 7, False, model[7])]))
    _check(spark, index, model)


def test_cell_pruning_opens_only_probed_dirs(spark, index, tmp_path):
    """After compaction a 1-probe query must not OPEN unprobed cell
    dirs: corrupting an unprobed dir changes nothing, corrupting the
    probed one fails. (Open-by-name pruning, VERDICT r09 #6.)"""
    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index(spark, index)
    q = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    want = _rows(vector_topk_live(spark, index, q, k=2, nprobe=1))
    assert want  # the +x cell holds docs 1, 2, 6
    # cell 2 (-x direction) is never probed by this query — corrupt it
    bad = os.path.join(index, "base", "cells", "cell=2")
    assert os.path.isdir(bad)
    for f in os.listdir(bad):
        if f.endswith(".parquet"):
            with open(os.path.join(bad, f), "wb") as fh:
                fh.write(b"not parquet")
    assert _rows(vector_topk_live(spark, index, q, k=2, nprobe=1)) == want


def test_quantizer_mismatch_fails_loudly(spark, index):
    with pytest.raises(ValueError, match="refusing"):
        init_vector_index(
            spark, index, centroids=ANCHORS[:2], assigner="hof"
        )
    with pytest.raises(ValueError, match="refusing"):
        init_vector_index(
            spark, index, centroids=ANCHORS, assigner="vectorized"
        )
    # same config is idempotent and returns the stored centroids
    assert init_vector_index(
        spark, index, centroids=ANCHORS, assigner="hof"
    ) == ANCHORS


def test_uninitialized_index_fails_loudly(spark, tmp_path):
    with pytest.raises(ValueError, match="quantizer"):
        vector_index_batch(
            spark, str(tmp_path / "nope"), _changes(spark, [])
        )


def test_live_vector_ids_model(spark, index):
    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    vector_index_batch(spark, index, _changes(spark, [
        (10, 1, False, [0.0, 1.0]),   # update
        (11, 2, True, None),          # delete
    ]))
    live = {
        (r["vec_id"], r["seq"])
        for r in live_vector_ids(spark, index).collect()
    }
    assert live == {(1, 10), (3, 3), (4, 4), (5, 5), (6, 6)}


# ---------------------------------------------------------------------------
# r11: churn-proportional incremental compaction, job budget, bootstrap
# ---------------------------------------------------------------------------

def _dir_snapshot(root):
    """{relpath: (size, sha)} of every data file under root."""
    import hashlib

    snap = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                b = fh.read()
            snap[os.path.relpath(p, root)] = (
                len(b), hashlib.sha256(b).hexdigest()
            )
    return snap


def test_incremental_compact_equals_full_and_restores_fast_path(
    spark, index
):
    """Churn on a compacted base, folded incrementally, must give the
    same live results as the from-tail merge and the same state shape
    as a full rewrite (no tail, no tombstones, meta-exact live count)."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    # first compaction: falls back to the FULL rewrite internally
    st0 = compact_vector_index_incremental(spark, index)
    assert st0["mode"] == "full" and st0["n_live"] == len(V0)
    # churn: an update that MOVES cells (+x -> +y), a delete, an insert
    model = {**V0, 1: [0.05, 0.95], 7: [-0.9, -0.1]}
    model.pop(5)
    vector_index_batch(spark, index, _changes(spark, [
        (10, 1, False, model[1]),
        (11, 5, True, None),
        (12, 7, False, model[7]),
    ]))
    before = _rows(vector_topk_live(
        spark, index, _queries(spark, model), k=4, nprobe=len(ANCHORS)
    ))
    st = compact_vector_index_incremental(spark, index)
    assert st["mode"] == "incremental"
    assert st["churned_docs"] == 3
    assert st["n_live"] == len(model)
    # old cells of 1 (+x) and 5 (-y), new cells of 1 (+y) and 7 (-x)
    assert 0 < st["affected_cells"] <= st["total_cells"]
    after = _rows(vector_topk_live(
        spark, index, _queries(spark, model), k=4, nprobe=len(ANCHORS)
    ))
    assert before == after
    _check(spark, index, model)
    status = vector_index_status(spark, index)
    assert status["tail_rows"] == 0 and status["tombstones"] == 0
    assert status["live_vectors"] == len(model)
    assert status["compaction_debt"] == 0.0
    # idempotent second fold: nothing to do
    st2 = compact_vector_index_incremental(spark, index)
    assert st2["mode"] == "noop" and st2["n_live"] == len(model)


def test_incremental_compact_touches_only_affected_dirs(spark, index):
    """Unaffected cell= and id_bucket= dirs must be BIT-IDENTICAL
    through an incremental fold — the churn-proportionality invariant
    (the fold opens affected dirs by name; everything else is never
    read, never rewritten)."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)  # full: lays the base
    pre_cells = _dir_snapshot(os.path.join(index, "base", "cells"))
    pre_ids = _dir_snapshot(os.path.join(index, "base", "ids"))
    # churn ONLY doc 3 (+y cell) in place — the +x/-x/-y cells and every
    # other id bucket must pass through untouched
    vector_index_batch(
        spark, index, _changes(spark, [(10, 3, False, [0.2, 0.8])])
    )
    st = compact_vector_index_incremental(spark, index)
    assert st["mode"] == "incremental" and st["affected_cells"] == 1
    post_cells = _dir_snapshot(os.path.join(index, "base", "cells"))
    post_ids = _dir_snapshot(os.path.join(index, "base", "ids"))
    changed_cells = {
        p.split(os.sep)[0]
        for p in set(pre_cells) ^ set(post_cells)
        | {p for p in pre_cells if post_cells.get(p) != pre_cells[p]}
    }
    assert changed_cells == {"cell=1"}
    changed_ids = {
        p.split(os.sep)[0]
        for p in set(pre_ids) ^ set(post_ids)
        | {p for p in pre_ids if post_ids.get(p) != pre_ids[p]}
    }
    # doc 3 hashes into exactly one id bucket
    assert len(changed_ids) == 1 and all(
        b.startswith("id_bucket=") for b in changed_ids
    )
    _check(spark, index, {**V0, 3: [0.2, 0.8]})


def test_incremental_compact_delete_only_churn(spark, index):
    """Tombstone-only churn (no tail cells) still folds: the dead doc's
    OLD cell is discovered from the id-bucketed base/ids sidecar."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)
    model = dict(V0)
    model.pop(4)
    vector_index_batch(spark, index, _changes(spark, [(10, 4, True, None)]))
    st = compact_vector_index_incremental(spark, index)
    assert st["mode"] == "incremental" and st["n_live"] == len(model)
    assert st["affected_cells"] == 1  # doc 4's -x cell only
    _check(spark, index, model)
    assert vector_index_status(spark, index)["tombstones"] == 0


def test_batch_job_budget(spark, index):
    """Per-micro-batch Spark-job budget (VERDICT r10 #4): the folded
    stats aggregate (4 jobs under AQE — shuffle stages + cache build)
    plus ONE write per component touched. The r10 layout paid a tail
    ids write and a cells-side rejoin on every batch; this pins the
    sidecar-free shape so it can't regress."""
    sc = spark.sparkContext

    def jobs(tag, fn):
        sc.setJobGroup(tag, tag)
        fn()
        sc.setJobGroup("idle", "idle")
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    n_up = jobs("vjb-up", lambda: vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    ))
    assert n_up <= 5
    n_mixed = jobs("vjb-mixed", lambda: vector_index_batch(
        spark, index,
        _changes(spark, [(10, 1, False, [0.0, 1.0]), (11, 2, True, None)]),
    ))
    assert n_mixed <= 6


def test_pending_bootstrap_defers_tiny_first_batch(spark, tmp_path):
    """A 2-upsert trickle first batch must NOT freeze a 2-cell
    quantizer (ADVICE r10): it buffers; the flush trains the full
    configured width once enough upserts accumulate, and the buffered
    docs (deletes included, in seq order) land in the index."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        append_pending,
        flush_pending,
        pending_upsert_count,
    )

    p = str(tmp_path / "boot_index")
    n1 = append_pending(spark, p, _changes(spark, [
        (1, 1, False, [0.9, 0.1]), (2, 2, False, [0.1, 0.9]),
    ]))
    assert n1 == 2 == pending_upsert_count(spark, p)
    # a pre-init delete buffers too — flushing must not resurrect doc 2
    append_pending(spark, p, _changes(spark, [(3, 2, True, None)]))
    append_pending(spark, p, _changes(spark, [
        (4, 3, False, [-0.8, 0.1]), (5, 4, False, [0.1, -0.9]),
        (6, 5, False, [0.7, 0.7]),
    ]))
    st = flush_pending(spark, p, n_cells=4)
    assert st is not None and st.deletes == 1
    status = vector_index_status(spark, p)
    assert status["n_cells"] == 4
    assert status["configured_cells"] == 4
    assert not status["quantizer_degraded"]
    assert status["live_vectors"] == 4  # 1, 3, 4, 5 — doc 2 deleted
    assert status["pending_upserts"] == 0
    assert not os.path.isdir(os.path.join(p, "pending"))


def test_forced_flush_marks_degraded_quantizer(spark, tmp_path):
    """A small feed force-flushed below the configured width trains
    min(n_cells, upserts) cells and `/_status` surfaces the mismatch
    instead of silently near-full-scanning (ADVICE r10)."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        append_pending,
        flush_pending,
    )

    p = str(tmp_path / "tiny_index")
    append_pending(spark, p, _changes(spark, [
        (1, 1, False, [0.9, 0.1]), (2, 2, False, [0.1, 0.9]),
    ]))
    st = flush_pending(spark, p, n_cells=16)
    assert st is not None and st.upserts == 2
    status = vector_index_status(spark, p)
    assert status["n_cells"] == 2
    assert status["configured_cells"] == 16
    assert status["quantizer_degraded"]
    assert status["live_vectors"] == 2


def test_flush_pending_noop_without_upserts(spark, tmp_path):
    from couch_to_postgres_spark.streaming.vector_stream import (
        append_pending,
        flush_pending,
    )

    p = str(tmp_path / "del_only")
    append_pending(spark, p, _changes(spark, [(1, 9, True, None)]))
    assert flush_pending(spark, p, n_cells=4) is None
    assert vector_index_status(spark, p)["n_cells"] is None


def test_field_removal_tombstones_stale_vector(spark, tmp_path):
    """Pipeline-level (ADVICE r10): a doc indexed with an embedding,
    then UPDATED to a version WITHOUT the field, must leave the ANN
    results — a field-less upsert is a tombstone for this index, and a
    never-embedded doc's tombstone is harmless."""
    import json

    from couch_to_postgres_spark.streaming.pipeline import (
        _feed_vector_index,
    )

    p = str(tmp_path / "field_idx")

    def batch(rows):
        # (seq, id, deleted, doc-json)
        return spark.createDataFrame(
            rows, "seq long, id string, deleted boolean, doc string"
        )

    docs = [
        (i, str(i), False, json.dumps({"embedding": v}))
        for i, v in V0.items()
    ]
    # a never-embedded doc rides the same feed from the start
    docs.append((7, "7", False, json.dumps({"title": "plain"})))
    _feed_vector_index(batch(docs), p, None, None, vector_cells=4)
    q = spark.createDataFrame(
        [("q", [0.9, 0.2])], "vec_id string, embedding array<double>"
    )
    first = {
        r["neighbor_id"]
        for r in vector_topk_live(spark, p, q, k=6, nprobe=4).collect()
    }
    assert first == {str(i) for i in V0}
    # doc 1 updated WITHOUT the field -> must disappear from results
    _feed_vector_index(
        batch([(10, "1", False, json.dumps({"title": "no vec"}))]),
        p, None, None, vector_cells=4,
    )
    second = {
        r["neighbor_id"]
        for r in vector_topk_live(spark, p, q, k=6, nprobe=4).collect()
    }
    assert second == {str(i) for i in V0 if i != 1}
    st = vector_index_status(spark, p)
    assert st["live_vectors"] == len(V0) - 1


# ---------------------------------------------------------------------------
# r11: quantizer lifecycle completion — balance monitoring + off-peak rebuild
# ---------------------------------------------------------------------------

def test_balance_tracks_live_cells(spark, index):
    from couch_to_postgres_spark.streaming.vector_stream import (
        vector_index_balance,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    # anchors: +x holds {1,2,6}, +y {3}, -x {4}, -y {5}
    b = vector_index_balance(spark, index)
    assert b["n_cells"] == 4 and b["live_vectors"] == 6
    assert b["populated_cells"] == 4 and b["empty_cells"] == 0
    assert b["max_cell_rows"] == 3 and b["mean_cell_rows"] == 1.5
    assert b["skew"] == 2.0
    # doc 1 moves +x -> +y; doc 5 deleted: -y empties, +x thins
    vector_index_batch(spark, index, _changes(spark, [
        (10, 1, False, [0.05, 0.95]), (11, 5, True, None),
    ]))
    b2 = vector_index_balance(spark, index)
    assert b2["live_vectors"] == 5
    assert b2["populated_cells"] == 3 and b2["empty_cells"] == 1
    # compaction must not change the report (same live placement)
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
    )

    compact_vector_index_incremental(spark, index)
    assert vector_index_balance(spark, index) == b2


def test_balance_uninitialized(spark, tmp_path):
    from couch_to_postgres_spark.streaming.vector_stream import (
        vector_index_balance,
    )

    b = vector_index_balance(spark, str(tmp_path / "none"))
    assert b["n_cells"] is None and b["live_vectors"] == 0


def test_rebuild_quantizer_with_explicit_anchors(spark, tmp_path):
    """Rebuild is the sanctioned config change: a degraded 2-cell
    bootstrap rebuilt to the 4-anchor quantizer must re-assign every
    live vector (results still equal brute force), clear the tails,
    update the recorded config, and keep serving later batches."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        rebuild_vector_quantizer,
    )

    p = str(tmp_path / "rebuild_idx")
    init_vector_index(spark, p, centroids=ANCHORS[:2], assigner="hof")
    vector_index_batch(
        spark, p,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    model = dict(V0)
    model.pop(2)
    vector_index_batch(spark, p, _changes(spark, [(10, 2, True, None)]))
    st = rebuild_vector_quantizer(
        spark, p, centroids=ANCHORS, assigner="hof"
    )
    assert st == {
        "mode": "rebuild", "n_live": 5, "n_cells": 4,
        "prev_cells": 2, "assigner": "hof", "layout_epoch": 1,
    }
    status = vector_index_status(spark, p)
    assert status["n_cells"] == 4 and not status["quantizer_degraded"]
    assert status["tail_rows"] == 0 and status["tombstones"] == 0
    assert status["live_vectors"] == 5
    _check(spark, p, model)
    # 1-probe pruning works on the NEW layout: only the probed new
    # cell dir opens (the -x anchor holds exactly doc 4)
    q = spark.createDataFrame(
        [(100, [-1.0, 0.1])], "vec_id long, embedding array<double>"
    )
    got = _rows(vector_topk_live(spark, p, q, k=2, nprobe=1))
    assert got == [(100, 4, 1)]
    # later churn keeps working against the rebuilt quantizer
    model[7] = [0.7, 0.6]
    vector_index_batch(
        spark, p, _changes(spark, [(11, 7, False, model[7])])
    )
    _check(spark, p, model)


def test_rebuild_quantizer_trains_on_live(spark, tmp_path):
    from couch_to_postgres_spark.streaming.vector_stream import (
        rebuild_vector_quantizer,
        vector_index_balance,
    )

    p = str(tmp_path / "retrain_idx")
    init_vector_index(spark, p, centroids=ANCHORS[:2], assigner="hof")
    vector_index_batch(
        spark, p,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    st = rebuild_vector_quantizer(spark, p, n_cells=3)
    assert st["mode"] == "rebuild" and st["n_cells"] == 3
    # exhaustive probing is quantizer-independent — results still exact
    _check(spark, p, V0, k=4)
    assert vector_index_balance(spark, p)["n_cells"] == 3


def test_rebuild_empty_index_raises(spark, tmp_path):
    from couch_to_postgres_spark.streaming.vector_stream import (
        rebuild_vector_quantizer,
    )

    p = str(tmp_path / "empty_idx")
    init_vector_index(spark, p, centroids=ANCHORS, assigner="hof")
    with pytest.raises(ValueError, match="no vectors"):
        rebuild_vector_quantizer(spark, p, centroids=ANCHORS[:2])


def test_filtered_ann_candidates(spark, index):
    """Metadata-filtered ANN: the candidates frame restricts neighbors
    to the given id set (post-filter on the probed slice) and equals
    brute force over the filtered live model under exhaustive probing;
    updates/deletes still honor seq-wins liveness inside the filter."""
    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    model = {**V0, 1: [0.05, 0.95]}
    model.pop(5)
    vector_index_batch(spark, index, _changes(spark, [
        (10, 1, False, model[1]), (11, 5, True, None),
    ]))
    allowed = {1, 2, 5, 6}  # 5 is deleted -> effective {1, 2, 6}
    cand = spark.createDataFrame(
        [(i,) for i in allowed], "vec_id long"
    )
    got = _rows(vector_topk_live(
        spark, index, _queries(spark, model), k=4,
        nprobe=len(ANCHORS), candidates=cand,
    ))
    want = _rows(_brute(
        spark, {i: v for i, v in model.items() if i in allowed},
        _queries(spark, model), k=4,
    ))
    assert got == want
    assert {n for (_, n, _) in got} <= allowed - {5}


def test_stale_staging_dirs_are_harmless(spark, index):
    """A crash can leave .compacting-vec-incr / .rebuilding-vec staging
    siblings behind; queries never read them and the next maintenance
    pass clears and proceeds."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
        rebuild_vector_quantizer,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    for suffix in (".compacting-vec-incr", ".rebuilding-vec"):
        junk = index.rstrip("/") + suffix
        os.makedirs(os.path.join(junk, "cells"), exist_ok=True)
        with open(os.path.join(junk, "cells", "garbage"), "w") as fh:
            fh.write("not parquet")
    _check(spark, index, V0)  # queries ignore staging siblings
    st = compact_vector_index_incremental(spark, index)
    assert st["mode"] == "full" and st["n_live"] == len(V0)
    assert not os.path.exists(index.rstrip("/") + ".compacting-vec-incr")
    done = rebuild_vector_quantizer(
        spark, index, centroids=ANCHORS, assigner="hof"
    )
    assert done["n_live"] == len(V0)
    assert not os.path.exists(index.rstrip("/") + ".rebuilding-vec")
    _check(spark, index, V0)


def test_fsck_clean_and_corrupted(spark, index):
    """vector_index_fsck passes on every healthy lifecycle state and
    catches the invariants pruned reads depend on: a sidecar/cells
    placement divergence and a stale meta count on a churn-free base."""
    from couch_to_postgres_spark.streaming.meta_io import write_meta_rows
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
        vector_index_fsck,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    st = vector_index_fsck(spark, index)
    assert st["ok"] and st["n_live_actual"] == len(V0)
    assert st["meta_exact"]  # no base yet -> nothing to be exact about
    compact_vector_index_incremental(spark, index)
    # churn on top of the base: meta is legitimately stale WITH churn
    vector_index_batch(spark, index, _changes(spark, [(10, 6, True, None)]))
    st2 = vector_index_fsck(spark, index)
    assert st2["ok"] and st2["meta_exact"] and st2["tombstones"] == 1
    compact_vector_index_incremental(spark, index)
    st3 = vector_index_fsck(spark, index)
    assert st3["ok"] and st3["n_live_meta"] == st3["n_live_actual"] == 5

    # corruption 1: a forged meta count on a churn-free base
    write_meta_rows(
        spark, os.path.join(index, "base", "meta"),
        [(len(ANCHORS), 99, 64)], "n_cells int, n_live long, id_buckets int",
    )
    bad = vector_index_fsck(spark, index)
    assert not bad["ok"] and not bad["meta_exact"]
    write_meta_rows(
        spark, os.path.join(index, "base", "meta"),
        [(len(ANCHORS), 5, 64)], "n_cells int, n_live long, id_buckets int",
    )
    assert vector_index_fsck(spark, index)["ok"]

    # corruption 2: a cell dir removed from base/cells while the
    # sidecar still advertises its placements
    import shutil as _sh

    victim = os.path.join(index, "base", "cells", "cell=0")
    assert os.path.isdir(victim)
    _sh.rmtree(victim)
    bad2 = vector_index_fsck(spark, index)
    assert not bad2["ok"] and bad2["sidecar_only_rows"] > 0


def test_fsck_uninitialized(spark, tmp_path):
    from couch_to_postgres_spark.streaming.vector_stream import (
        vector_index_fsck,
    )

    assert vector_index_fsck(spark, str(tmp_path / "no_idx"))["ok"] is None


# ---------------------------------------------------------------------------
# r12: string-id lifecycle, rebuild tear detection, pending-append race,
#      never-indexed tombstone churn
# ---------------------------------------------------------------------------


def _schanges(spark, rows):
    # (seq, vec_id, deleted, embedding) with couch-style STRING ids
    return spark.createDataFrame(
        rows,
        "seq long, vec_id string, deleted boolean, embedding array<double>",
    )


def test_long_queries_over_string_ids_match_cosine_topk(spark, tmp_path):
    """Self-exclusion compares a long/string id pair as strings: long
    query ids probing a string-id corpus must not ANSI-cast the doc ids
    (CAST_INVALID_INPUT); with every cell probed the live index equals
    the exact ranking."""
    from couch_to_postgres_spark.extensions.similarity import cosine_topk

    p = str(tmp_path / "sid_idx")
    init_vector_index(spark, p, centroids=ANCHORS, assigner="hof")
    vector_index_batch(
        spark, p,
        _schanges(spark, [(i, f"doc-{i}", False, v) for i, v in V0.items()]),
    )
    queries = _queries(spark, V0)
    corpus = spark.createDataFrame(
        [(f"doc-{i}", v) for i, v in V0.items()],
        "vec_id string, embedding array<double>",
    )
    got = _rows(vector_topk_live(spark, p, queries, k=4, nprobe=len(ANCHORS)))
    want = _rows(cosine_topk(queries, corpus, k=4))
    assert got == want and len(got) == 3 * 4


def test_not_self_casts_only_a_string_nonstring_pair(spark):
    """The self-exclusion predicate is chosen at plan time: same-typed
    (and numeric/numeric) ids compare raw, only a string/non-string pair
    pays the per-pair string cast."""
    from couch_to_postgres_spark.extensions.similarity import _not_self

    def pred(qt, nt):
        q = spark.createDataFrame([], f"query_id {qt}")
        c = spark.createDataFrame([], f"neighbor_id {nt}")
        return str(_not_self(q, c)).upper()

    for qt, nt in (("long", "long"), ("string", "string"), ("int", "long")):
        assert "CAST" not in pred(qt, nt), (qt, nt)
    for qt, nt in (("long", "string"), ("string", "long")):
        assert "CAST" in pred(qt, nt), (qt, nt)


def test_string_id_full_lifecycle(spark, tmp_path):
    """Couch `_id`s ARE strings (reference data model): the vector twin
    must run its whole maintenance lifecycle — ingest, incremental
    fold, off-peak quantizer rebuild, probed query — on string ids
    with zero casts (never-cast-ids rule; VERDICT r11 #4 pinned the
    rebuild staged read-back and the fold tail fallback)."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
        rebuild_vector_quantizer,
        vector_index_fsck,
    )

    p = str(tmp_path / "sid_idx")
    init_vector_index(spark, p, centroids=ANCHORS, assigner="hof")
    model = {f"doc-{i}": v for i, v in V0.items()}
    vector_index_batch(
        spark, p,
        _schanges(
            spark,
            [(i, f"doc-{i}", False, v) for i, v in V0.items()],
        ),
    )
    st0 = compact_vector_index_incremental(spark, p)
    assert st0["mode"] == "full" and st0["n_live"] == len(model)
    # churn: a cell-moving update, a delete, an insert — then the
    # incremental fold on the string-id base
    model["doc-1"] = [0.05, 0.95]
    model.pop("doc-5")
    model["doc-7"] = [-0.9, -0.1]
    vector_index_batch(spark, p, _schanges(spark, [
        (10, "doc-1", False, model["doc-1"]),
        (11, "doc-5", True, None),
        (12, "doc-7", False, model["doc-7"]),
    ]))
    st1 = compact_vector_index_incremental(spark, p)
    assert st1["mode"] == "incremental" and st1["n_live"] == len(model)
    # delete-only churn exercises the fold's tail-read FALLBACK (no
    # tail cells exist, only tombstones — the empty tail frame must
    # carry the sibling's string id dtype)
    model.pop("doc-6")
    vector_index_batch(spark, p, _schanges(spark, [(13, "doc-6", True, None)]))
    st2 = compact_vector_index_incremental(spark, p)
    assert st2["mode"] == "incremental" and st2["n_live"] == len(model)
    # off-peak rebuild on the string-id base (staged read-back must
    # not assume long ids)
    st3 = rebuild_vector_quantizer(spark, p, centroids=ANCHORS)
    assert st3["mode"] == "rebuild" and st3["n_live"] == len(model)
    assert vector_index_fsck(spark, p, id_col="vec_id")["ok"]

    def _sq(spark):
        return spark.createDataFrame(
            [(f"q-{i}", v) for i, v in enumerate(
                [[1.0, 0.05], [0.05, 1.0], [-0.5, 0.5]]
            )],
            "vec_id string, embedding array<double>",
        )

    from couch_to_postgres_spark.extensions.ann import _score_probed

    corpus = spark.createDataFrame(
        [(i, v, 0) for i, v in model.items()],
        "vec_id string, embedding array<double>, cell int",
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in _score_probed(
            _sq(spark).select("vec_id", "embedding", F.lit(0).alias("cell")),
            corpus, 4, "vec_id", "embedding",
        ).collect()
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in vector_topk_live(
            spark, p, _sq(spark), k=4, nprobe=len(ANCHORS)
        ).collect()
    )
    assert got == want


def test_fsck_detects_torn_rebuild_epoch(spark, index):
    """The one corruption counts/ranges can't see (ADVICE r11): a crash
    inside rebuild's swap sequence leaves the base one layout epoch
    AHEAD of the quantizer with n_cells unchanged. fsck's epoch
    cross-check must flag it."""
    from couch_to_postgres_spark.streaming.meta_io import write_meta_rows
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
        rebuild_vector_quantizer,
        vector_index_fsck,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)
    st = rebuild_vector_quantizer(spark, index, centroids=ANCHORS)
    assert st["layout_epoch"] == 1
    good = vector_index_fsck(spark, index)
    assert good["ok"] and good["epoch_ok"]
    assert good["layout_epoch_base"] == good["layout_epoch_quantizer"] == 1
    # simulate the torn swap: quantizer rolled back one epoch (same
    # assigner, same n_cells — the undetectable-before case)
    write_meta_rows(
        spark, os.path.join(index, "quantizer"),
        [("hof", len(ANCHORS), len(ANCHORS), 0)],
        "assigner string, n_cells int, configured_cells int, "
        "layout_epoch long",
    )
    bad = vector_index_fsck(spark, index)
    assert not bad["ok"] and not bad["epoch_ok"]
    assert bad["layout_epoch_base"] == 1
    assert bad["layout_epoch_quantizer"] == 0


def test_append_pending_rechecks_quantizer_under_lock(spark, index):
    """append_pending on an ALREADY-initialized index must refuse (-1)
    instead of buffering rows no flush will ever ingest — the re-check
    half of the ADVICE r11 append-vs-force-flush race fix (the lock
    half serializes it against flush_pending's list→ingest→retire)."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        append_pending,
    )

    got = append_pending(
        spark, index, _changes(spark, [(1, 1, False, [0.9, 0.1])])
    )
    assert got == -1
    assert not os.path.isdir(os.path.join(index, "pending"))


def test_never_indexed_tombstones_rewrite_nothing(spark, index):
    """A mostly-plain feed tombstones every field-less upsert; churn
    from docs the index never held must not rewrite ANY base dir
    (ADVICE r11 — sidecar rewrites otherwise scale with the whole
    feed's update rate, not embedded churn)."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)
    pre_cells = _dir_snapshot(os.path.join(index, "base", "cells"))
    pre_ids = _dir_snapshot(os.path.join(index, "base", "ids"))
    # 20 tombstones for ids the index never held (plain-doc updates)
    vector_index_batch(
        spark, index,
        _changes(spark, [(100 + i, 1000 + i, True, None) for i in range(20)]),
    )
    st = compact_vector_index_incremental(spark, index)
    assert st["mode"] == "incremental"
    assert st["churned_docs"] == 20
    assert st["effective_churned_docs"] == 0
    assert st["affected_cells"] == 0
    assert st["affected_id_buckets"] == []
    assert st["n_live"] == len(V0)
    assert _dir_snapshot(os.path.join(index, "base", "cells")) == pre_cells
    assert _dir_snapshot(os.path.join(index, "base", "ids")) == pre_ids
    status = vector_index_status(spark, index)
    assert status["tombstones"] == 0 and status["tail_rows"] == 0
    _check(spark, index, V0)
    # mixed churn: one REAL update + more never-indexed tombstones —
    # rewrites stay scoped to the real churn's dirs
    model = {**V0, 3: [0.2, 0.8]}
    vector_index_batch(spark, index, _changes(spark, [
        (200, 3, False, model[3]),
        (201, 2000, True, None),
        (202, 2001, True, None),
    ]))
    st2 = compact_vector_index_incremental(spark, index)
    assert st2["mode"] == "incremental"
    assert st2["churned_docs"] == 3
    assert st2["effective_churned_docs"] == 1
    assert st2["affected_cells"] == 1
    assert len(st2["affected_id_buckets"]) == 1
    _check(spark, index, model)


def test_rebuild_repairs_torn_state(spark, index):
    """Recovery path for a detected tear: re-running
    rebuild_vector_quantizer from the torn state (base one epoch ahead
    of the quantizer) retrains/re-assigns from the base's live rows —
    which never depended on the stale centroids — and re-stamps both
    sides to one epoch: fsck green, results equal brute force."""
    from couch_to_postgres_spark.streaming.meta_io import write_meta_rows
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
        rebuild_vector_quantizer,
        vector_index_fsck,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)
    rebuild_vector_quantizer(spark, index, centroids=ANCHORS)
    write_meta_rows(
        spark, os.path.join(index, "quantizer"),
        [("hof", len(ANCHORS), len(ANCHORS), 0)],
        "assigner string, n_cells int, configured_cells int, "
        "layout_epoch long",
    )
    assert not vector_index_fsck(spark, index)["ok"]
    st = rebuild_vector_quantizer(spark, index, centroids=ANCHORS)
    assert st["mode"] == "rebuild" and st["n_live"] == len(V0)
    good = vector_index_fsck(spark, index)
    assert good["ok"] and good["epoch_ok"]
    assert good["layout_epoch_base"] == good["layout_epoch_quantizer"] == 1
    _check(spark, index, V0)


def test_fold_refuses_and_never_masks_torn_epoch(spark, index):
    """ADVICE r12 (medium): both fold shapes stamp the staged base/meta
    with the base's OWN carried-forward epoch, never the quantizer's —
    and in the torn state (base one epoch ahead) they must REFUSE
    outright. Before the fix, a routine watchdog fold in that state
    rewrote base/meta back to the quantizer's epoch, permanently
    GREENING fsck's cross-check while probes kept running old centroids
    over the new-layout base (and folding tail rows assigned under the
    old centroids into it)."""
    from couch_to_postgres_spark.streaming.meta_io import write_meta_rows
    from couch_to_postgres_spark.streaming.vector_stream import (
        TornVectorIndexError,
        compact_vector_index_incremental,
        rebuild_vector_quantizer,
        vector_index_fsck,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)
    rebuild_vector_quantizer(spark, index, centroids=ANCHORS)
    # tear: quantizer rolled back one epoch (crash-mid-swap shape)
    write_meta_rows(
        spark, os.path.join(index, "quantizer"),
        [("hof", len(ANCHORS), len(ANCHORS), 0)],
        "assigner string, n_cells int, configured_cells int, "
        "layout_epoch long",
    )
    # churn so a fold would actually have work to do
    vector_index_batch(
        spark, index, _changes(spark, [(50, 1, False, [0.85, 0.2])])
    )
    with pytest.raises(TornVectorIndexError):
        compact_vector_index_incremental(spark, index)
    with pytest.raises(TornVectorIndexError):
        compact_vector_index(spark, index)
    # the tear is still visible — neither refused fold masked it
    bad = vector_index_fsck(spark, index)
    assert not bad["epoch_ok"]
    assert bad["layout_epoch_base"] == 1
    assert bad["layout_epoch_quantizer"] == 0
    # repair, then folds run again and CARRY the epoch forward
    rebuild_vector_quantizer(spark, index, centroids=ANCHORS)
    vector_index_batch(
        spark, index, _changes(spark, [(51, 2, False, [0.7, 0.4])])
    )
    st = compact_vector_index_incremental(spark, index)
    assert st["mode"] == "incremental"
    good = vector_index_fsck(spark, index)
    assert good["ok"]
    assert good["layout_epoch_base"] == good["layout_epoch_quantizer"] == 1
    _check(spark, index, {**V0, 1: [0.85, 0.2], 2: [0.7, 0.4]})


def test_fsck_flags_pre_epoch_quantizer_behind_epoch_base(spark, index):
    """ADVICE r12 (low): the one-time upgrade path — the FIRST rebuild
    of a pre-epoch index crashes mid-swap, leaving base epoch 1 next to
    a quantizer marker that lacks the column entirely. _layout_epoch
    treats that marker as epoch 0, so fsck must compare 1 != 0 and
    flag, not skip vacuously; a base WITHOUT the column stays the
    vacuous pre-epoch skip."""
    from couch_to_postgres_spark.streaming.meta_io import write_meta_rows
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
        rebuild_vector_quantizer,
        vector_index_fsck,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)
    rebuild_vector_quantizer(spark, index, centroids=ANCHORS)
    # crash-mid-upgrade shape: quantizer written back with the PRE-r12
    # 3-column schema (no layout_epoch), base/meta still at epoch 1
    write_meta_rows(
        spark, os.path.join(index, "quantizer"),
        [("hof", len(ANCHORS), len(ANCHORS))],
        "assigner string, n_cells int, configured_cells int",
    )
    bad = vector_index_fsck(spark, index)
    assert not bad["ok"] and not bad["epoch_ok"]
    assert bad["layout_epoch_base"] == 1
    assert bad["layout_epoch_quantizer"] is None


def test_unprobed_supersession_excluded(spark, index):
    """The sharpest liveness pin: a probed doc's superseding version
    can live in an UNPROBED cell (update moved it) or be a tombstone —
    the 1-probe read must still exclude the stale probed version (why
    liveness must see every version of a sliced id, not just the
    probed cell's rows)."""
    from couch_to_postgres_spark.streaming.vector_stream import (
        compact_vector_index_incremental,
    )

    vector_index_batch(
        spark, index,
        _changes(spark, [(i, i, False, v) for i, v in V0.items()]),
    )
    compact_vector_index_incremental(spark, index)
    # churn ON TOP of the base: doc 1 moves +x -> +y (its live version
    # now sits in a cell the query below never probes); doc 2 deleted
    vector_index_batch(spark, index, _changes(spark, [
        (10, 1, False, [0.05, 0.95]),
        (11, 2, True, None),
    ]))
    q = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    out = vector_topk_live(spark, index, q, k=4, nprobe=1)
    got = {r["neighbor_id"] for r in out.collect()}
    # +x cell held {1, 2, 6}: 1 superseded into +y, 2 tombstoned
    assert got == {6}
