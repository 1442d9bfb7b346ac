"""Crash-point sweep over the publish of each stored-state writer: with
``os.rename`` raising at call k — for every k the writer reaches — the
next writer (the replayed batch, or the re-run compactor) must converge
on exactly the crash-free state. This is the exactly-once argument
(replayable source + idempotent sink) tested at every rename."""

import os
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.operators.mirror import CHANGES_SCHEMA, docs_mirror
from couch_to_postgres_spark.streaming.partitioned import (
    compact_mirror,
    read_partitioned_mirror,
    upsert_partitioned_mirror,
    validate_mirror,
    write_partitioned_mirror,
)
from couch_to_postgres_spark.streaming.search_stream import (
    compact_index_inplace,
    compact_index_incremental,
    live_postings,
    search_index_batch,
)
from couch_to_postgres_spark.streaming.vector_stream import (
    compact_vector_index_incremental,
    init_vector_index,
    live_vector_ids,
    vector_index_batch,
    vector_topk_live,
)


class Crash(Exception):
    pass


@contextmanager
def renames_fail_at(k):
    """Count ``os.rename`` calls; the k-th (0-based) raises instead of
    renaming. ``k=None`` only counts. Yields the 1-item call counter."""
    real = os.rename
    calls = [0]

    def rename(src, dst):
        if calls[0] == k:
            raise Crash(k)
        calls[0] += 1
        real(src, dst)

    os.rename = rename
    try:
        yield calls
    finally:
        os.rename = real


def _sweep(tmp_path, pre, write, observe):
    """Run ``write(path)`` on a copy of the ``pre`` tree crash-free and
    then crashing at each of its renames; after each crash run ``write``
    again (the next writer) and compare ``observe(path)``."""
    clean = str(tmp_path / "clean")
    shutil.copytree(pre, clean)
    with renames_fail_at(None) as calls:
        write(clean)
    n = calls[0]
    assert n > 0
    want = observe(clean)
    for k in range(n):
        path = str(tmp_path / f"k{k}")
        shutil.copytree(pre, path)
        with pytest.raises(Crash), renames_fail_at(k):
            write(path)
        write(path)
        assert observe(path) == want, f"crash at rename {k} of {n}"
    return n


def _state(spark, path):
    return sorted(
        (r["id"], r["doc"]) for r in read_partitioned_mirror(spark, path).collect()
    )


def _mirror_observe(spark):
    def observe(path):
        check = validate_mirror(spark, path)
        assert check["ok"], check
        return _state(spark, path)

    return observe


@pytest.fixture()
def mirror_with_delta(spark, sf_dir, tmp_path):
    """A 4-bucket mirror of the fixture docs plus one pending delta batch."""
    path = str(tmp_path / "pre")
    write_partitioned_mirror(docs_mirror(spark, sf_dir, with_rev=True), path, 4)
    delta = spark.createDataFrame(
        [
            (1, "3", False, '{"doc_id":3,"_rev":"2-d","n":1}'),
            (2, "8", True, None),
        ],
        CHANGES_SCHEMA,
    )
    upsert_partitioned_mirror(spark, path, delta, mode="delta")
    return path


def test_mirror_bucket_rewrite_crash_sweep(spark, tmp_path, mirror_with_delta):
    batch = spark.createDataFrame(
        [
            (10, "3", False, '{"doc_id":3,"_rev":"3-r","n":2}'),
            (11, "5", True, None),
            (12, "new1", False, '{"doc_id":-1,"_rev":"1-n","n":3}'),
        ],
        CHANGES_SCHEMA,
    )

    def write(path):
        upsert_partitioned_mirror(spark, path, batch, mode="rewrite")

    _sweep(tmp_path, mirror_with_delta, write, _mirror_observe(spark))


def test_mirror_fold_crash_sweep(spark, tmp_path, mirror_with_delta):
    def write(path):
        compact_mirror(spark, path, force_fold=True)

    _sweep(tmp_path, mirror_with_delta, write, _mirror_observe(spark))


DOCS = [
    (1, "spark merges the window rows"),
    (2, "window functions rank rows"),
    (3, "the merge statement upserts rows"),
    (4, "couch documents replicate through feeds"),
    (5, "broadcast joins skip the shuffle"),
]


def _text_changes(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, doc_id long, deleted boolean, text string"
    )


def test_search_incremental_fold_crash_sweep(spark, tmp_path):
    pre = str(tmp_path / "pre")
    search_index_batch(
        spark,
        pre,
        _text_changes(spark, [(s, d, False, t) for s, (d, t) in enumerate(DOCS, 1)]),
    )
    compact_index_inplace(spark, pre, token_buckets=4, id_subbuckets=2)
    search_index_batch(
        spark,
        pre,
        _text_changes(spark, [(10, 2, False, "window rank"), (11, 4, True, None)]),
    )

    def write(path):
        compact_index_incremental(spark, path)

    def observe(path):
        return sorted(
            tuple(r) for r in live_postings(spark, path).select(
                "doc_id", "token", "tf", "seq"
            ).collect()
        )

    _sweep(tmp_path, pre, write, observe)


ANCHORS = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]


def _vec_changes(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, vec_id long, deleted boolean, embedding array<double>"
    )


def test_vector_incremental_fold_crash_sweep(spark, tmp_path):
    pre = str(tmp_path / "pre")
    init_vector_index(spark, pre, centroids=ANCHORS, assigner="hof")
    v0 = {1: [0.9, 0.1], 2: [0.1, 0.9], 3: [-0.7, 0.2], 4: [0.2, -0.8]}
    vector_index_batch(
        spark, pre, _vec_changes(spark, [(i, i, False, v) for i, v in v0.items()])
    )
    compact_vector_index_incremental(spark, pre)
    vector_index_batch(
        spark,
        pre,
        _vec_changes(spark, [(10, 1, False, [0.1, 0.95]), (11, 3, True, None)]),
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05]), (101, [0.05, 1.0]), (102, [-0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )

    def write(path):
        compact_vector_index_incremental(spark, path)

    def observe(path):
        ids = sorted(tuple(r) for r in live_vector_ids(spark, path).collect())
        top = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in vector_topk_live(
                spark, path, queries, k=3, nprobe=len(ANCHORS)
            ).collect()
        )
        return ids, top

    _sweep(tmp_path, pre, write, observe)
