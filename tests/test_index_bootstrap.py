"""A batch carrying upserts that reaches an EMPTY search or vector index
is written as the index's compacted base, not as a tail: the base must
equal the one a full fold of that tail gives, the first incremental
fold is then a job-free noop, and the status reads and noop checks of a
read-mostly index launch no Spark job."""

import os

import pytest

from couch_to_postgres_spark.streaming.meta_io import open_parquet, read_meta_rows
from couch_to_postgres_spark.streaming.search_stream import (
    compact_index_incremental,
    index_status,
    live_postings,
    search_index_batch,
    search_index_fsck,
)
from couch_to_postgres_spark.streaming.stats_stream import (
    live_attrs,
    stats_index_batch,
)
from couch_to_postgres_spark.streaming.vector_stream import (
    compact_vector_index_incremental,
    init_vector_index,
    vector_index_batch,
    vector_index_fsck,
    vector_index_status,
)

TEXTS = {
    1: "spark merges the window rows before the shuffle",
    2: "window functions rank rows inside a spark partition",
    3: "the merge statement upserts changed rows",
    4: "couch documents replicate through the changes feed",
    5: "spark spark spark tuning guide for the shuffle",
    6: None,  # a NULL-text upsert: live, zero postings
}
# one batch: every doc inserted, doc 2 updated and doc 4 deleted within
# it, and a delete of a doc the index never held
BATCH = (
    [(i, d, False, t, f"src{d % 2}") for i, (d, t) in enumerate(TEXTS.items(), 1)]
    + [(10, 2, False, "window rows rank again", "src9"), (11, 4, True, None, None),
       (12, 99, True, None, None)]
)


def _jobs(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = fn()
    return out, sched.nextJobId() - before


def _changes(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, doc_id long, deleted boolean, text string, source string",
    )


def _component(spark, index, comp):
    path = os.path.join(index, "base", comp)
    if not os.path.exists(path):
        return None
    df = open_parquet(spark, path)
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(sorted(df.columns)).collect()
    )


def _base_state(spark, index):
    return {
        "live_postings": sorted(
            tuple(r) for r in live_postings(spark, index)
            .select("doc_id", "token", "tf", "seq").collect()
        ),
        **{c: _component(spark, index, c)
           for c in ("postings", "dfs", "doclen", "attrs")},
        "meta": read_meta_rows(spark, os.path.join(index, "base", "meta")),
    }


@pytest.mark.parametrize("impacts", [True, False])
def test_search_bootstrap_equals_tail_plus_full_fold(spark, tmp_path, impacts):
    """Impacts on: the search twin, through ``stats_index_batch`` so the
    attrs ride along. Impacts off: the shingle twin's layout."""

    def ingest(path, rows):
        if impacts:
            stats_index_batch(spark, path, _changes(spark, rows))
        else:
            search_index_batch(
                spark, path, _changes(spark, rows).drop("source"),
                impacts_default=False,
            )

    boot, ref = str(tmp_path / "boot"), str(tmp_path / "ref")
    ingest(boot, BATCH)
    for tail in ("doclen", "postings", "tombstones", "attrs"):
        assert not os.path.exists(os.path.join(boot, tail)), tail
    assert not os.path.exists(boot + ".bootstrapping")
    # the reference: a delete-only first batch keeps the index
    # non-empty, so the same batch lands as a tail, then a full fold
    ingest(ref, [(0, 98, True, None, None)])
    ingest(ref, BATCH)
    assert os.path.isdir(os.path.join(ref, "doclen"))
    done = compact_index_incremental(spark, ref, impacts_default=impacts)
    assert done["mode"] == "full"
    want = _base_state(spark, ref)
    got = _base_state(spark, boot)
    assert got == want
    assert (got["attrs"] is not None) == impacts
    meta = got["meta"][0]
    assert meta["n_live"] == 5  # docs 1, 2, 3, 5, 6
    assert (meta["impact_hist_bins"] is None) == (not impacts)
    for p in (boot, ref):
        assert search_index_fsck(spark, p)["ok"], p
    # the first fold after a bootstrap has nothing to do: noop, no job
    done, n = _jobs(spark, lambda: compact_index_incremental(spark, boot))
    assert done["mode"] == "noop" and n == 0


def test_bootstrap_attrs_survive_the_next_fold(spark, tmp_path):
    """``stats_index_batch`` attrs written into a bootstrapped base are
    kept by the next incremental fold, which retires the attrs tail and
    rewrites only the churned docs' attrs."""
    index = str(tmp_path / "idx")
    stats_index_batch(spark, index, _changes(spark, BATCH))
    stats_index_batch(spark, index, _changes(
        spark, [(20, 3, False, "merge rows moved", "src7"),
                (21, 7, False, "a brand new doc", "src8")],
    ))
    want = {1: "src1", 2: "src9", 3: "src7", 5: "src1", 6: "src0", 7: "src8"}
    got = {r["doc_id"]: r["source"] for r in live_attrs(spark, index).collect()}
    assert got == want
    done = compact_index_incremental(spark, index)
    assert done["mode"] == "incremental" and done["attrs_mode"] == "pruned"
    got = {r["doc_id"]: r["source"] for r in live_attrs(spark, index).collect()}
    assert got == want
    assert not os.path.exists(os.path.join(index, "attrs"))


def test_search_status_and_noop_launch_no_job(spark, tmp_path):
    index = str(tmp_path / "idx")
    search_index_batch(spark, index, _changes(spark, BATCH).drop("source"))
    st, n = _jobs(spark, lambda: index_status(spark, index))
    assert n == 0
    assert st["live_docs"] == 5 and st["compaction_debt"] == 0.0
    assert st["tail_doclen_rows"] == 0 and st["tombstones"] == 0
    # with churn, the tail and tombstone counts are still footer sums
    search_index_batch(spark, index, _changes(
        spark, [(20, 1, True, None, None), (21, 3, False, "x y", "s")]
    ).drop("source"))
    st = index_status(spark, index)
    assert (st["tail_doclen_rows"], st["tombstones"]) == (1, 1)


ANCHORS = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
VECS = {1: [0.9, 0.1], 2: [0.1, 0.9], 3: [-0.7, 0.2], 4: [0.2, -0.8],
        5: [0.6, 0.6], 6: [0.0, 0.0]}
VBATCH = (
    [(i, d, False, v) for i, (d, v) in enumerate(VECS.items(), 1)]
    + [(10, 2, False, [-0.2, 0.9]), (11, 4, True, None), (12, 99, True, None)]
)


def _vchanges(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, vec_id long, deleted boolean, embedding array<double>"
    )


def test_vector_bootstrap_equals_tail_plus_full_fold(spark, tmp_path):
    boot, ref = str(tmp_path / "boot"), str(tmp_path / "ref")
    for p in (boot, ref):
        init_vector_index(spark, p, centroids=ANCHORS, assigner="hof")
    vector_index_batch(spark, boot, _vchanges(spark, VBATCH))
    assert not os.path.exists(os.path.join(boot, "cells"))
    assert not os.path.exists(os.path.join(boot, "tombstones"))
    assert not os.path.exists(boot + ".bootstrapping-vec")
    vector_index_batch(spark, ref, _vchanges(spark, [(0, 98, True, None)]))
    vector_index_batch(spark, ref, _vchanges(spark, VBATCH))
    assert compact_vector_index_incremental(spark, ref)["mode"] == "full"

    def state(p):
        return {
            "cells": _component(spark, p, "cells"),
            "ids": _component(spark, p, "ids"),
            "meta": read_meta_rows(spark, os.path.join(p, "base", "meta")),
        }

    got = state(boot)
    assert got == state(ref)
    # docs 1, 2, 3, 5 (6 is all-zero: a delete for this index)
    assert got["meta"][0]["n_live"] == 4
    for p in (boot, ref):
        assert vector_index_fsck(spark, p)["ok"], p
    st, n = _jobs(spark, lambda: vector_index_status(spark, boot))
    assert n == 0 and st["live_vectors"] == 4 and st["compaction_debt"] == 0.0
    done, n = _jobs(spark, lambda: compact_vector_index_incremental(spark, boot))
    assert done["mode"] == "noop" and n == 0


def test_delete_only_first_batch_does_not_bootstrap(spark, tmp_path):
    """A first batch with no upsert leaves tombstones, so the index is
    no longer empty and the next batch appends a tail."""
    index = str(tmp_path / "idx")
    init_vector_index(spark, index, centroids=ANCHORS, assigner="hof")
    vector_index_batch(spark, index, _vchanges(spark, [(1, 5, True, None)]))
    vector_index_batch(spark, index, _vchanges(spark, [(2, 1, False, [1.0, 0.0])]))
    assert not os.path.exists(os.path.join(index, "base"))
    st = vector_index_status(spark, index)
    assert (st["tail_rows"], st["tombstones"], st["live_vectors"]) == (1, 1, 1)


def test_tail_free_read_makes_no_reader_call_for_absent_tail(
    spark, tmp_path, monkeypatch
):
    """A read of a bootstrapped (tail-free) index learns from a local
    stat that its tail components are absent: Spark's reader is never
    asked for the search ``doclen``/``postings``/``tombstones`` or the
    vector ``cells``/``tombstones``, and the answers equal those of the
    reader probe a non-local path takes."""
    from couch_to_postgres_spark.streaming import meta_io
    from couch_to_postgres_spark.streaming.search_stream import (
        bm25_topk_from_index,
    )
    from couch_to_postgres_spark.streaming.vector_stream import vector_topk_live

    sidx, vidx = str(tmp_path / "sidx"), str(tmp_path / "vidx")
    search_index_batch(spark, sidx, _changes(spark, BATCH).drop("source"))
    init_vector_index(spark, vidx, centroids=ANCHORS, assigner="hof")
    vector_index_batch(spark, vidx, _vchanges(spark, VBATCH))
    qtab = spark.createDataFrame(
        [(1, "spark"), (1, "rows"), (2, "merge")], "query_id int, term string"
    )
    qvec = spark.createDataFrame(
        [(101, [1.0, 0.2]), (102, [-0.3, 0.9])],
        "vec_id long, embedding array<double>",
    )

    def answers():
        return (
            sorted(tuple(r) for r in bm25_topk_from_index(
                spark, sidx, qtab, k=3).collect()),
            sorted(tuple(r) for r in vector_topk_live(
                spark, vidx, qvec, k=2, nprobe=len(ANCHORS)).collect()),
        )

    opened = []
    real_open = meta_io.open_parquet

    def recording_open(spark_, *paths, **kw):
        opened.extend(paths)
        return real_open(spark_, *paths, **kw)

    monkeypatch.setattr(meta_io, "open_parquet", recording_open)
    got = answers()
    absent = [os.path.join(sidx, c) for c in ("doclen", "postings", "tombstones")]
    absent += [os.path.join(vidx, c) for c in ("cells", "tombstones")]
    for path in absent:
        assert not os.path.exists(path), path
        assert path not in opened, path
    # the reader probe (every path taken as non-local) answers the same
    monkeypatch.setattr(meta_io, "_local", lambda path: None)
    opened.clear()
    assert answers() == got
    assert set(absent) & set(opened)
    assert got[0] and got[1]
