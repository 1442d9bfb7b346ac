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
    search_index_fsck,
)
from couch_to_postgres_spark.streaming.vector_stream import (
    compact_vector_index_incremental,
    init_vector_index,
    live_vector_ids,
    vector_index_batch,
    vector_index_fsck,
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


def _sweep(tmp_path, pre, write, observe, after_crash=None):
    """Run ``write(path)`` on a copy of the ``pre`` tree crash-free and
    then crashing at each of its renames; after each crash run
    ``after_crash(path)`` if given, then ``write`` again (the next
    writer) and compare ``observe(path)``."""
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
        if after_crash is not None:
            after_crash(path)
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


def test_mirror_bootstrap_crash_before_meta(spark, tmp_path, monkeypatch):
    """A bootstrap does no rename: it writes the bucket dirs, then the
    meta file. A crash between the two leaves bucket dirs and no meta,
    which means no mirror yet — the replayed batch bootstraps again, at
    the bucket count it sizes (16), not one read off the dirs the crash
    left (the batch leaves the highest buckets empty)."""
    import zlib

    from couch_to_postgres_spark.streaming import partitioned

    ids = ["d0", "d1", "d3", "d4", "d6"]
    assert max(zlib.crc32(i.encode()) % 16 for i in ids) < 15
    batch = spark.createDataFrame(
        [
            (n + 1, i, False, f'{{"_id":"{i}","_rev":"1-a","n":{n}}}')
            for n, i in enumerate(ids)
        ],
        CHANGES_SCHEMA,
    )
    real = partitioned.write_meta
    calls = [0]

    def write_meta(path, meta):
        calls[0] += 1
        if calls[0] == 1:
            raise Crash("write_meta")
        real(path, meta)

    monkeypatch.setattr(partitioned, "write_meta", write_meta)
    path = str(tmp_path / "mirror")
    with pytest.raises(Crash):
        upsert_partitioned_mirror(spark, path, batch)
    assert any(d.startswith("bucket=") for d in os.listdir(path))
    assert read_partitioned_mirror(spark, path).count() == 0  # no mirror yet
    upsert_partitioned_mirror(spark, path, batch)
    check = validate_mirror(spark, path)
    assert check["ok"], check
    assert check["num_buckets"] == 16
    assert read_partitioned_mirror(spark, path).count() == len(ids)
    assert [i for i, _ in _state(spark, path)] == sorted(ids)


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


def _search_observe(spark):
    def observe(path):
        assert search_index_fsck(spark, path)["ok"]
        return sorted(
            tuple(r) for r in live_postings(spark, path).select(
                "doc_id", "token", "tf", "seq"
            ).collect()
        )

    return observe


def test_search_bootstrap_crash_sweep(spark, tmp_path):
    """The first batch into an empty index publishes its base: a crash
    at the publish's rename is completed by the replayed batch's
    writer, which then appends the batch as a tail."""
    pre = str(tmp_path / "pre")
    os.makedirs(pre)
    batch = _text_changes(
        spark,
        [(s, d, False, t) for s, (d, t) in enumerate(DOCS, 1)]
        + [(9, 3, True, None)],
    )

    def write(path):
        search_index_batch(spark, path, batch)

    assert _sweep(tmp_path, pre, write, _search_observe(spark)) == 1


def test_search_bootstrap_crash_before_publish(spark, tmp_path, monkeypatch):
    """A crash after the base is staged but before its publish leaves
    the index empty: the replayed batch bootstraps again, no tail."""
    from couch_to_postgres_spark.streaming import search_stream

    path = str(tmp_path / "idx")
    batch = _text_changes(
        spark, [(s, d, False, t) for s, (d, t) in enumerate(DOCS, 1)]
    )

    def crash(*args, **kwargs):
        raise Crash("publish")

    with monkeypatch.context() as m:
        m.setattr(search_stream, "publish", crash)
        with pytest.raises(Crash):
            search_index_batch(spark, path, batch)
    assert os.path.isdir(path + ".bootstrapping")
    assert not os.path.exists(os.path.join(path, "base"))
    search_index_batch(spark, path, batch)
    assert not os.path.exists(os.path.join(path, "doclen"))
    assert not os.path.exists(path + ".bootstrapping")
    clean = str(tmp_path / "clean")
    search_index_batch(spark, clean, batch)
    observe = _search_observe(spark)
    assert observe(path) == observe(clean)


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


def test_vector_bootstrap_crash_sweep(spark, tmp_path):
    """The first batch into an empty vector index publishes base cells,
    the ids sidecar and base meta: a crash at any of those renames is
    completed by the replayed batch's writer."""
    pre = str(tmp_path / "pre")
    init_vector_index(spark, pre, centroids=ANCHORS, assigner="hof")
    batch = _vec_changes(
        spark,
        [(1, 1, False, [0.9, 0.1]), (2, 2, False, [0.1, 0.9]),
         (3, 3, False, [-0.7, 0.2]), (4, 3, True, None)],
    )

    def write(path):
        vector_index_batch(spark, path, batch)

    def observe(path):
        assert vector_index_fsck(spark, path)["ok"]
        return sorted(tuple(r) for r in live_vector_ids(spark, path).collect())

    assert _sweep(tmp_path, pre, write, observe) == 3


def test_view_refresh_crash_sweep(spark, tmp_path):
    """``MaterializedView.refresh`` lands the new view with one publish
    (retire the live dir, rename the staged one in): after a crash at
    either rename a reader still opens a complete view — the previous
    one or the refreshed one, never a missing path — and the next
    refresh converges."""
    from couch_to_postgres_spark.operators.views import MaterializedView

    rows = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(20)], "n int, kind string"
    )

    def view(path, cut):
        return MaterializedView(
            spark, "crash_view", os.path.join(path, "view"),
            build=lambda: rows.filter(F.col("n") < cut).groupBy("kind").count(),
        )

    def contents(v):
        return sorted(tuple(r) for r in v.read().collect())

    pre = str(tmp_path / "pre")
    os.makedirs(pre)
    view(pre, 6).refresh()
    before = contents(view(pre, 6))

    def after_crash(path):
        assert contents(view(path, 20)) in (before, want)

    want = [("a", 10), ("b", 10)]
    assert (
        _sweep(
            tmp_path, pre,
            write=lambda path: view(path, 20).refresh(),
            observe=lambda path: contents(view(path, 20)),
            after_crash=after_crash,
        )
        == 2
    )
