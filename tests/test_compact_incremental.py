"""Bucket-scoped incremental index compaction (VERDICT r08 #2):
``compact_index_incremental`` folds the append tail into ONLY the token
buckets it touches — unaffected bucket directories stay bit-identical —
while query answers, doclen, dfs, and meta end up exactly what a full
rewrite would produce. Precedent: ``ann.compact_ivf_index``'s
affected-cell-only compaction and its bit-identical-untouched-files
test."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.search import bm25_topk_batch
from couch_to_postgres_spark.streaming.search_stream import (
    base_is_live,
    bm25_topk_from_index,
    compact_index,
    compact_index_incremental,
    compact_index_inplace,
    live_doclen,
    search_index_batch,
)

DOCS = [
    (1, "spark merges the window rows before the shuffle"),
    (2, "window functions rank rows inside a spark partition"),
    (3, "the merge statement upserts changed rows"),
    (4, "couch documents replicate through the changes feed"),
    (5, "spark spark spark tuning guide for the shuffle"),
    (6, "feed the window with late arriving rows"),
    (7, "quorum reads hedge against a slow replica node"),
    (8, "broadcast joins skip the shuffle for small tables"),
]

N_BUCKETS = 32


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, doc_id long, deleted boolean, text string"
    )


def _qtab(spark):
    return spark.createDataFrame(
        [(1, "spark"), (1, "window"), (2, "merge"), (2, "rows"),
         (3, "quorum"), (3, "feed")],
        "query_id int, term string",
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in df.collect()
    )


def _bucket_snapshot(index, component="postings"):
    """{relative_partition_dir: {filename: md5}} over a bucketed base
    component's LEAF partition dirs — the bit-identical witness. Walks
    nested (token_bucket=X/id_sub=Y) and flat (id_bucket=N) layouts
    alike."""
    root = os.path.join(index, "base", component)
    snap = {}
    for dirpath, dirnames, filenames in os.walk(root):
        data = [f for f in filenames if not f.startswith(("_", "."))]
        if not data:
            continue
        rel = os.path.relpath(dirpath, root)
        if rel == ".":
            continue
        files = {}
        for f in sorted(data):
            with open(os.path.join(dirpath, f), "rb") as fh:
                files[f] = hashlib.md5(fh.read()).hexdigest()
        snap[rel] = files
    return snap


@pytest.fixture()
def compacted(spark, tmp_path):
    """An index with an established base (full compaction) and no tail.

    ``id_subbuckets`` is pinned > 1 here ON PURPOSE: the default
    auto-sizing (``_auto_id_subbuckets``) correctly degenerates to 1 on
    a corpus this small, and these tests exist to witness the two-level
    (token_bucket × id_sub) pair scoping — explicit override keeps that
    layout under test while production picks the fan-out from corpus
    size."""
    index = str(tmp_path / "idx")
    search_index_batch(
        spark, index,
        _changes(spark, [(s, d, False, t)
                         for s, (d, t) in enumerate(DOCS, start=1)]),
    )
    compact_index_inplace(
        spark, index, token_buckets=N_BUCKETS, id_subbuckets=4
    )
    return index


def test_incremental_equals_full_and_untouched_buckets_bit_identical(
    spark, compacted, tmp_path
):
    index = compacted
    before = _bucket_snapshot(index)
    before_dfs = _bucket_snapshot(index, "dfs")
    before_dl = _bucket_snapshot(index, "doclen")
    # churn: update doc 2 (its OLD base rows must die in buckets the new
    # text never touches), insert doc 9, delete doc 5, replay the insert
    new2 = "merge conflicts resolved by the latest revision"
    churn = [
        (20, 2, False, new2),
        (21, 9, False, "zebra quagga yak exotic unseen tokens"),
        (22, 5, True, None),
    ]
    search_index_batch(spark, index, _changes(spark, churn))
    search_index_batch(  # at-least-once replay of the same batch
        spark, index, _changes(spark, churn)
    )
    done = compact_index_incremental(spark, index)
    assert done["mode"] == "incremental"
    assert 0 < done["affected_pairs"] < N_BUCKETS * done["id_subbuckets"]
    assert done["total_buckets"] == N_BUCKETS

    # unaffected partition dirs are BIT-IDENTICAL across ALL bucketed
    # components; affected ones were swapped. The affected unit is the
    # (token_bucket, id_sub) PAIR: a hot bucket touched by the churn
    # still keeps its other id_sub dirs byte-identical.
    affected = set(done["affected_dirs"])
    aff_id = {f"id_bucket={b}" for b in done["affected_id_buckets"]}
    for snap_before, snap_after, aff in (
        (before, _bucket_snapshot(index), affected),
        (before_dfs, _bucket_snapshot(index, "dfs"), affected),
        (before_dl, _bucket_snapshot(index, "doclen"), aff_id),
    ):
        untouched = set(snap_before) - aff
        assert untouched, "test corpus must leave some dirs untouched"
        for d in untouched:
            assert snap_after.get(d) == snap_before[d], f"{d} rewritten"

    # the result IS the read-mostly state a full rewrite would produce
    assert base_is_live(spark, index)
    final_docs = [(d, new2 if d == 2 else t) for d, t in DOCS if d != 5]
    final_docs.append((9, "zebra quagga yak exotic unseen tokens"))
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, index, qtab, k=6)
    want = bm25_topk_batch(
        spark.createDataFrame(final_docs, "doc_id long, text string"),
        qtab, k=6,
    )
    assert _rows(got) == _rows(want)
    live = {r["doc_id"] for r in live_doclen(spark, index).collect()}
    assert live == {1, 2, 3, 4, 6, 7, 8, 9}

    # dfs never drifts from the base: equal to a from-scratch full
    # compaction over the same live corpus
    ref = str(tmp_path / "ref_idx")
    search_index_batch(
        spark, ref,
        _changes(spark, [(s, d, False, t)
                         for s, (d, t) in enumerate(final_docs, start=1)]),
    )
    ref_base = str(tmp_path / "ref_base")
    compact_index(spark, ref, ref_base, token_buckets=N_BUCKETS)

    # dfs rows are PER-PAIR PARTIALS whose granularity follows the
    # layout's id_sub fan-out (pinned 4 here vs the reference's
    # auto-sized 1) — readers sum a token's partials, so the
    # layout-independent invariant is the per-token sum
    def _dfs_by_token(path):
        return sorted(
            (r["token"], r["dft"])
            for r in spark.read.parquet(os.path.join(path, "base", "dfs"))
            .groupBy("token")
            .agg(F.sum("dft").alias("dft"))
            .collect()
        )

    assert _dfs_by_token(index) == _dfs_by_token(ref_base)


def test_id_subbuckets_auto_size(spark, tmp_path):
    """VERDICT r09 #1: the id_sub fan-out scales with the corpus instead
    of a fixed 16 — 1 at small corpora (where the two-level layout
    degenerates to the flat one: no write/listing overhead for a level
    that bounds nothing), doubling per ~600 k live docs toward the
    measured-good 16 at 6 M, capped at 256."""
    from couch_to_postgres_spark.streaming.search_stream import (
        _auto_id_subbuckets,
    )

    assert _auto_id_subbuckets(0) == 1
    assert _auto_id_subbuckets(60_000) == 1  # fixed job costs dominate
    assert _auto_id_subbuckets(600_000) == 4  # r10 sweep sweet spot
    assert _auto_id_subbuckets(6_000_000) == 16  # the r09 flat-at-10x point
    assert _auto_id_subbuckets(10**12) == 256  # driver-bounded pair cap

    # end-to-end: a small corpus compacts into id_sub=0-only dirs (the
    # flat layout), meta records the picked fan-out, and the incremental
    # fold keeps working against it
    index = str(tmp_path / "auto_idx")
    search_index_batch(
        spark, index,
        _changes(spark, [(s, d, False, t)
                         for s, (d, t) in enumerate(DOCS, start=1)]),
    )
    compact_index_inplace(spark, index, token_buckets=N_BUCKETS)
    meta = spark.read.parquet(os.path.join(index, "base", "meta")).collect()
    assert meta[0]["id_subbuckets"] == 1
    subdirs = {
        os.path.basename(p)
        for p in os.listdir(os.path.join(index, "base", "postings"))
        if p.startswith("token_bucket=")
    }
    assert subdirs  # bucketed layout present
    for d in subdirs:
        inner = os.listdir(os.path.join(index, "base", "postings", d))
        assert [e for e in inner if e.startswith("id_sub=")] == ["id_sub=0"]
    search_index_batch(
        spark, index, _changes(spark, [(50, 1, False, "fresh words here")])
    )
    done = compact_index_incremental(spark, index)
    assert done["mode"] == "incremental" and done["id_subbuckets"] == 1
    assert base_is_live(spark, index)


def test_incremental_noop_when_no_churn(spark, compacted):
    before = _bucket_snapshot(compacted)
    done = compact_index_incremental(spark, compacted)
    assert done["mode"] == "noop" and done["affected_pairs"] == 0
    assert _bucket_snapshot(compacted) == before


def test_incremental_falls_back_to_full_without_base(spark, tmp_path):
    index = str(tmp_path / "fresh_idx")
    # a delete-only first batch leaves the index non-empty, so the docs
    # land as a tail instead of bootstrapping the base
    search_index_batch(spark, index, _changes(spark, [(0, 99, True, None)]))
    search_index_batch(
        spark, index,
        _changes(spark, [(s, d, False, t)
                         for s, (d, t) in enumerate(DOCS, start=1)]),
    )
    done = compact_index_incremental(spark, index)
    assert done["mode"] == "full"
    assert base_is_live(spark, index)
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, index, qtab, k=6)
    want = bm25_topk_batch(
        spark.createDataFrame(DOCS, "doc_id long, text string"), qtab, k=6
    )
    assert _rows(got) == _rows(want)


def test_incremental_delete_only_churn(spark, compacted):
    """A tombstone with NO new version: the dead doc's base rows are
    scrubbed from every bucket that held them, nothing else moves."""
    index = compacted
    n_before = live_doclen(spark, index).count()
    search_index_batch(spark, index, _changes(spark, [(30, 5, True, None)]))
    done = compact_index_incremental(spark, index)
    assert done["mode"] == "incremental"
    assert base_is_live(spark, index)
    live = {r["doc_id"] for r in live_doclen(spark, index).collect()}
    assert live == {1, 2, 3, 4, 6, 7, 8} and len(live) == n_before - 1
    # doc 5's signature token is gone from the index entirely
    from couch_to_postgres_spark.streaming.search_stream import (
        live_postings,
    )

    assert (
        live_postings(spark, index, terms=["tuning"]).count() == 0
    )
    # stats carried correctly: meta n_live matches
    meta = spark.read.parquet(os.path.join(index, "base", "meta")).collect()
    assert meta[0]["n_live"] == 7


def test_incremental_string_ids_delete_all_churn(spark, tmp_path):
    """ADVICE r09: on a STRING-id corpus whose churn deletes every live
    row in the affected pairs, the staged postings/doclen writes come
    back EMPTY and their fallback read schemas must carry the corpus's
    id dtype — a hardcoded bigint empty frame would ANSI-cast-throw
    against the string-id churn set mid-compaction."""
    index = str(tmp_path / "sid_idx")
    rows = [(s, f"{d}-6", False, t) for s, (d, t) in enumerate(DOCS, start=1)]
    search_index_batch(
        spark, index,
        spark.createDataFrame(
            rows, "seq long, doc_id string, deleted boolean, text string"
        ),
    )
    compact_index_inplace(
        spark, index, token_buckets=N_BUCKETS, id_subbuckets=4
    )
    # tombstone EVERY live doc: the affected pairs end up with zero live
    # rows, so the staged postings dataset is empty on read-back
    search_index_batch(
        spark, index,
        spark.createDataFrame(
            [(100 + i, f"{d}-6", True, None)
             for i, (d, _) in enumerate(DOCS)],
            "seq long, doc_id string, deleted boolean, text string",
        ),
    )
    done = compact_index_incremental(spark, index)
    assert done["mode"] == "incremental"
    assert done["churned_docs"] == len(DOCS)
    assert live_doclen(spark, index).count() == 0
    meta = spark.read.parquet(os.path.join(index, "base", "meta")).collect()
    assert meta[0]["n_live"] == 0


def test_incremental_attrs_carry_through(spark, tmp_path):
    """The stats attrs state (doc → source) survives bucket-scoped
    compaction as latest-per-live-doc, exactly like the full rewrite —
    and since r10 the fold is CHURN-SCOPED for attrs too: base/attrs is
    id-bucketed, only the churned docs' buckets move, every other attrs
    dir stays bit-identical (this was the last doc-count-proportional
    residual inside the incremental fold)."""
    from couch_to_postgres_spark.streaming.stats_stream import (
        live_attrs,
        stats_index_batch,
    )

    index = str(tmp_path / "attrs_idx")
    rows = [(s, d, False, f"s{d % 2}", t)
            for s, (d, t) in enumerate(DOCS, start=1)]
    stats_index_batch(
        spark, index,
        spark.createDataFrame(
            rows,
            "seq long, doc_id long, deleted boolean, source string, text string",
        ),
    )
    compact_index_inplace(spark, index, token_buckets=N_BUCKETS)
    assert os.path.isdir(os.path.join(index, "base", "attrs"))
    before_attrs = _bucket_snapshot(index, "attrs")
    stats_index_batch(
        spark, index,
        spark.createDataFrame(
            [(40, 1, False, "s9", "totally new text for doc one")],
            "seq long, doc_id long, deleted boolean, source string, text string",
        ),
    )
    done = compact_index_incremental(spark, index)
    assert done["mode"] == "incremental"
    assert done["attrs_mode"] == "pruned"
    got = {
        r["doc_id"]: r["source"]
        for r in live_attrs(spark, index).collect()
    }
    assert got[1] == "s9" and len(got) == len(DOCS)
    # churn-scoped: only the churned doc's id-bucket dirs moved
    after_attrs = _bucket_snapshot(index, "attrs")
    aff_id = {f"id_bucket={b}" for b in done["affected_id_buckets"]}
    untouched = set(before_attrs) - aff_id
    assert untouched, "test corpus must leave some attrs dirs untouched"
    for d in untouched:
        assert after_attrs.get(d) == before_attrs[d], f"{d} rewritten"
    # the flat attrs tail is folded away (retired into .trash)
    assert not os.path.isdir(os.path.join(index, "attrs"))
