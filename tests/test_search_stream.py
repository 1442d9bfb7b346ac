"""Streaming-incremental BM25 index (VERDICT r03 #4): post-batch top-k
from the maintained index must EQUAL a fresh batch build over the
equivalent corpus snapshot — across inserts, updates, deletes, replays,
and compaction."""

import os
import time

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.extensions.search import bm25_topk_batch
from couch_to_postgres_spark.streaming.search_stream import (
    bm25_topk_from_index,
    compact_index,
    live_doclen,
    search_index_batch,
    search_index_stream,
)

# a tiny corpus with real term overlap so BM25 has something to rank
DOCS = [
    (1, "spark merges the window rows before the shuffle"),
    (2, "window functions rank rows inside a spark partition"),
    (3, "the merge statement upserts changed rows"),
    (4, "couch documents replicate through the changes feed"),
    (5, "spark spark spark tuning guide for the shuffle"),
    (6, "feed the window with late arriving rows"),
]


def _changes(spark, rows):
    # (seq, doc_id, deleted, text)
    return spark.createDataFrame(
        rows, "seq long, doc_id long, deleted boolean, text string"
    )


def _qtab(spark):
    return spark.createDataFrame(
        [(1, "spark"), (1, "window"), (2, "merge"), (2, "rows")],
        "query_id int, term string",
    )


def _fresh(spark, docs, qtab, k=5):
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    return bm25_topk_batch(corpus, qtab, k=k)


def _rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in df.collect()
    )


@pytest.fixture()
def index(tmp_path):
    return str(tmp_path / "search_index")


def test_inserts_across_batches_equal_fresh_build(spark, index):
    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS[:3], start=1)])
    )
    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS[3:], start=4)])
    )
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, index, qtab, k=5)
    want = _fresh(spark, DOCS, qtab, k=5)
    assert _rows(got) == _rows(want)


def test_update_and_delete_supersede(spark, index):
    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS, start=1)])
    )
    # update doc 2 (new text — old postings must die), delete doc 5
    new2 = "merge conflicts resolved by the latest revision"
    search_index_batch(
        spark, index,
        _changes(spark, [(10, 2, False, new2), (11, 5, True, None)]),
    )
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, index, qtab, k=6)
    final_docs = [(d, new2 if d == 2 else t) for d, t in DOCS if d != 5]
    want = _fresh(spark, final_docs, qtab, k=6)
    assert _rows(got) == _rows(want)
    live = {r["doc_id"] for r in live_doclen(spark, index).collect()}
    assert live == {1, 2, 3, 4, 6}


def test_within_batch_last_write_wins(spark, index):
    # same doc twice in one batch: only the max-seq version survives
    search_index_batch(
        spark, index,
        _changes(spark, [
            (1, 1, False, "old stale text"),
            (2, 1, False, "spark window rows"),
        ]),
    )
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, index, qtab, k=3)
    want = _fresh(spark, [(1, "spark window rows")], qtab, k=3)
    assert _rows(got) == _rows(want)


def test_replay_is_idempotent(spark, index):
    batch = _changes(
        spark, [(s, d, False, t) for s, (d, t) in enumerate(DOCS, start=1)]
    )
    search_index_batch(spark, index, batch)
    qtab = _qtab(spark)
    before = _rows(bm25_topk_from_index(spark, index, qtab, k=6))
    # at-least-once transport replays the whole batch
    search_index_batch(spark, index, batch)
    after = _rows(bm25_topk_from_index(spark, index, qtab, k=6))
    assert before == after


def test_compacted_index_same_results(spark, index, tmp_path):
    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS, start=1)])
    )
    search_index_batch(
        spark, index,
        _changes(spark, [(10, 2, False, "merge conflicts everywhere"),
                         (11, 4, True, None)]),
    )
    qtab = _qtab(spark)
    want = _rows(bm25_topk_from_index(spark, index, qtab, k=6))
    compacted = str(tmp_path / "compacted")
    compact_index(spark, index, compacted, token_buckets=8)
    got = _rows(bm25_topk_from_index(spark, compacted, qtab, k=6))
    assert got == want
    # compaction dropped the dead rows: base postings hold only live versions
    live = live_doclen(spark, compacted)
    postings = spark.read.parquet(os.path.join(compacted, "base", "postings"))
    dead = postings.join(
        live.select("doc_id", "seq"), on=["doc_id", "seq"], how="left_anti"
    )
    assert dead.count() == 0


def test_tail_appends_after_compaction(spark, index, tmp_path):
    # the LSM read path: compacted base + fresh append tail, read together
    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS, start=1)])
    )
    compacted = str(tmp_path / "compacted")
    compact_index(spark, index, compacted, token_buckets=8)
    # tail: update doc 2, delete doc 5, insert doc 7 — all POST-compaction
    new2 = "merge conflicts resolved by the latest revision"
    new7 = "spark window merge rows all at once"
    search_index_batch(
        spark, compacted,
        _changes(spark, [(10, 2, False, new2), (11, 5, True, None),
                         (12, 7, False, new7)]),
    )
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, compacted, qtab, k=7)
    final_docs = [(d, new2 if d == 2 else t) for d, t in DOCS if d != 5]
    final_docs.append((7, new7))
    want = _fresh(spark, final_docs, qtab, k=7)
    assert _rows(got) == _rows(want)
    # compact AGAIN (base+tail in, merged base out) — still equal
    merged = str(tmp_path / "merged")
    compact_index(spark, compacted, merged, token_buckets=4)
    got2 = bm25_topk_from_index(spark, merged, qtab, k=7)
    assert _rows(got2) == _rows(want)


def test_bucket_pruning_reads_only_matching_dirs(spark, index, tmp_path):
    from couch_to_postgres_spark.streaming.lsm import term_buckets
    from couch_to_postgres_spark.streaming.search_stream import query_postings

    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS, start=1)])
    )
    compacted = str(tmp_path / "compacted")
    compact_index(spark, index, compacted, token_buckets=8)
    terms = ["spark", "window"]
    buckets = term_buckets(terms, 8)
    hits = query_postings(spark, compacted, terms)
    # r10 (VERDICT r09 #6): the base's matching token_bucket dirs are
    # opened BY NAME — the pruning happens at LISTING time, before the
    # planner ever sees the other directories (a whole-root reader pays
    # a full file listing at scaled bucket counts even though execution
    # would partition-prune). inputFiles() therefore shows it directly:
    # every listed base file lives under a matching bucket dir.
    base_files = [
        f for f in hits.inputFiles() if "/base/postings/" in f
    ]
    assert base_files, "base postings files must be read"
    want_dirs = {f"token_bucket={b}" for b in buckets}
    for f in base_files:
        assert any(d in f for d in want_dirs), f
    # the token filter still pushes into the parquet scan
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(token, [spark,window])" in plan
    # and the pruned read still returns exactly the matching rows
    got = {(r["doc_id"], r["token"]) for r in hits.collect()}
    assert got == {(1, "spark"), (2, "spark"), (5, "spark"),
                   (1, "window"), (2, "window"), (6, "window")}


def test_high_df_term_unforced_broadcast_and_df_cap(spark, index):
    # "the" appears in 5 of 6 docs — the case where a forced broadcast of
    # the hit slice would be corpus-proportional at scale. The hint-free
    # join must still return exactly the fresh-build numbers...
    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS, start=1)])
    )
    qtab = spark.createDataFrame(
        [(1, "the"), (1, "spark")], "query_id int, term string"
    )
    got = bm25_topk_from_index(spark, index, qtab, k=6)
    want = _fresh(spark, DOCS, qtab, k=6)
    assert _rows(got) == _rows(want)
    # ...and the live-version join stays hint-free (the bounded
    # broadcasts in bm25_rank_components — 1-row stats, query-term-sized
    # dft/q — are fine; a hint on the df(term)-proportional hit slice is
    # the regression this pins, since the materialized result hides the
    # upstream plan)
    import inspect

    from couch_to_postgres_spark.streaming import search_stream as mod

    src = inspect.getsource(mod.bm25_topk_from_index)
    assert "F.broadcast(hit" not in src
    # max_df_frac mirrors the batch path: the stop-word drops from scoring
    got_cap = bm25_topk_from_index(spark, index, qtab, k=6, max_df_frac=0.5)
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    want_cap = bm25_topk_batch(corpus, qtab, k=6, max_df_frac=0.5)
    assert _rows(got_cap) == _rows(want_cap)


def test_stream_end_to_end(spark, index, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    b1 = _changes(
        spark, [(s, d, False, t) for s, (d, t) in enumerate(DOCS[:4], start=1)]
    )
    b2 = _changes(
        spark,
        [(s, d, False, t) for s, (d, t) in enumerate(DOCS[4:], start=5)]
        + [(20, 3, True, None)],
    )
    b1.coalesce(1).write.parquet(str(feed / "f1"))
    b2.coalesce(1).write.parquet(str(feed / "f2"))
    now = time.time()
    for i, d in enumerate(("f1", "f2")):
        for f in (feed / d).iterdir():
            os.utime(f, (now + i, now + i))

    stream = (
        spark.readStream.schema("seq long, doc_id long, deleted boolean, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    q = search_index_stream(spark, stream, index, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, index, qtab, k=6)
    final_docs = [(d, t) for d, t in DOCS if d != 3]
    want = _fresh(spark, final_docs, qtab, k=6)
    assert _rows(got) == _rows(want)


def test_string_doc_ids_no_tombstones(spark, index):
    """String-id corpora (couch ids like '100009-6') with components
    missing must not ANSI-cast ids to the long fallback: fresh index, no
    tombstones yet → query, then delete → query, then compact with an
    absent tail → query."""
    rows = [(s, f"{d}-6", False, t) for s, (d, t) in enumerate(DOCS, start=1)]
    ch = spark.createDataFrame(
        rows, "seq long, doc_id string, deleted boolean, text string"
    )
    search_index_batch(spark, index, ch)
    qtab = _qtab(spark)
    got = bm25_topk_from_index(spark, index, qtab, k=6)
    corpus = spark.createDataFrame(
        [(f"{d}-6", t) for d, t in DOCS], "doc_id string, text string"
    )
    assert _rows(got) == _rows(bm25_topk_batch(corpus, qtab, k=6))
    # delete one doc (string-id tombstone), results drop it
    search_index_batch(
        spark, index,
        spark.createDataFrame(
            [(10, "5-6", True, None)],
            "seq long, doc_id string, deleted boolean, text string",
        ),
    )
    got2 = bm25_topk_from_index(spark, index, qtab, k=6)
    corpus2 = corpus.filter(F.col("doc_id") != "5-6")
    assert _rows(got2) == _rows(bm25_topk_batch(corpus2, qtab, k=6))
    # compacted base with NO tail dirs: the empty tail must follow the
    # base's string id dtype too
    compacted = index + "_compacted"
    compact_index(spark, index, compacted, token_buckets=4)
    got3 = bm25_topk_from_index(spark, compacted, qtab, k=6)
    assert _rows(got3) == _rows(bm25_topk_batch(corpus2, qtab, k=6))
    assert live_doclen(spark, compacted).count() == len(DOCS) - 1


def test_inplace_compaction_swap_retires_to_trash(spark, index):
    """r07 ADVICE (medium): the in-place compaction swap must never
    leave a window where the index ROOT does not exist, and replaced
    components go to the grace-window ``.trash`` (recovery copies),
    never an instant rmtree — the daemon watchdog triggers this
    automatically while unlocked readers can race it."""
    from couch_to_postgres_spark.streaming.search_stream import (
        compact_index_inplace,
        index_status,
    )

    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS, start=1)])
    )
    search_index_batch(
        spark, index,
        _changes(spark, [(10, 2, False, "merge conflicts everywhere"),
                         (11, 4, True, None)]),
    )
    qtab = _qtab(spark)
    want = _rows(bm25_topk_from_index(spark, index, qtab, k=6))
    pre_components = {
        n for n in os.listdir(index) if not n.startswith(".")
    }
    compact_index_inplace(spark, index, token_buckets=8)
    # root survived, results identical, base present / tail cleared
    assert os.path.isdir(index)
    assert _rows(bm25_topk_from_index(spark, index, qtab, k=6)) == want
    st = index_status(spark, index)
    assert st["base_present"] and st["tail_doclen_rows"] == 0
    assert st["tombstones"] == 0
    # every replaced component is a recovery copy in .trash, not deleted
    trash = os.path.join(index, ".trash")
    assert os.path.isdir(trash)
    retired = {n.split("-", 1)[1] for n in os.listdir(trash)}
    assert pre_components <= retired
    # and no sibling root leftovers from the old rename-the-root swap
    assert not os.path.exists(index.rstrip("/") + ".old")
    assert not os.path.exists(index.rstrip("/") + ".compacting")


def test_index_status_live_docs_exact_without_corpus_aggregate(
    spark, index, tmp_path
):
    """live_docs must stay EXACT through every churn shape (new doc,
    update, delete, delete-of-new, replay) while being computed from
    meta + churn-proportional reads on a compacted base — pinned by
    equality with the exact live_doclen aggregate at every step."""
    from couch_to_postgres_spark.streaming.search_stream import (
        compact_index_inplace,
        index_status,
    )

    search_index_batch(
        spark, index, _changes(spark, [(i, i, False, t) for i, t in DOCS])
    )
    compact_index_inplace(spark, index, token_buckets=8)

    def check():
        st = index_status(spark, index)
        assert st["live_docs"] == live_doclen(spark, index).count()
        return st

    assert check()["live_docs"] == 6  # steady state: meta is the count

    # new doc + update of an existing doc in one tail batch
    search_index_batch(
        spark, index, _changes(spark, [
            (10, 7, False, "a brand new document about spark"),
            (11, 1, False, "doc one rewritten, still about windows"),
        ]),
    )
    assert check()["live_docs"] == 7

    # delete an old base doc and the new doc
    search_index_batch(
        spark, index, _changes(spark, [
            (12, 2, True, None),
            (13, 7, True, None),
        ]),
    )
    assert check()["live_docs"] == 5

    # replayed tail batch (byte-identical) must not change the count
    search_index_batch(
        spark, index, _changes(spark, [
            (12, 2, True, None),
            (13, 7, True, None),
        ]),
    )
    assert check()["live_docs"] == 5

    # tombstone for an id the index never saw: churn, not a live doc
    search_index_batch(spark, index, _changes(spark, [(14, 99, True, None)]))
    assert check()["live_docs"] == 5


def test_spark_hash_str_matches_engine(spark):
    """lsm.spark_hash_str must equal F.hash(string) byte-for-byte — the
    pin that makes the driver-side bucket computation safe. Covers every
    UTF-8 tail length (0-3 residual bytes), multi-byte code points,
    high-bit (signed-byte) tails, and long strings."""
    from couch_to_postgres_spark.streaming.lsm import spark_hash_str

    cases = [
        "", "a", "ab", "abc", "abcd", "abcde",
        "RAIL", "TRUCK", "l_extendedprice", "churn9",
        "é", "héllo wörld", "日本語テキスト", "emoji 🙂 tail",
        "ÿ", "aÿ", "abÿ", "abcÿ",  # high-bit byte at every tail offset
        "x" * 100, "tok_" + "9" * 37,
    ]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select("s", F.hash("s").alias("h"))
        .collect()
    }
    for c in cases:
        assert spark_hash_str(c) == got[c], repr(c)
    # and the pmod identity used by lsm.term_buckets
    pm = {
        r["s"]: r["b"]
        for r in spark.createDataFrame([(c,) for c in cases if c], "s string")
        .select("s", F.pmod(F.hash("s"), F.lit(64)).alias("b"))
        .collect()
    }
    for c in cases:
        if c:
            assert spark_hash_str(c) % 64 == pm[c], repr(c)


def test_randomized_lifecycle_equivalence(spark, index):
    """Seeded random walk over the whole index lifecycle — mixed
    insert/update/delete batches, probabilistic replays, a full in-place
    compaction and two incremental folds — asserting after EVERY step
    that (a) from-index BM25 equals a fresh batch build over the model
    corpus and (b) index_status.live_docs equals the model's live count.
    The targeted tests pin each transition; this pins their
    INTERACTIONS (delete-then-reinsert across a fold, replay landing on
    a compacted base, fold-after-fold churn)."""
    import random

    from couch_to_postgres_spark.streaming.search_stream import (
        compact_index_incremental,
        compact_index_inplace,
        index_status,
    )

    rng = random.Random(20260816)
    vocab = [
        "spark", "window", "merge", "rows", "feed",
        "shuffle", "rank", "late", "tuning", "guide",
    ]
    docs: dict[int, str] = {}
    seq = 0
    for step in range(7):
        ops = []
        for _ in range(rng.randint(1, 5)):
            seq += 1
            did = rng.randint(1, 12)
            if rng.random() < 0.25 and did in docs:
                ops.append((seq, did, True, None))
                docs.pop(did)
            else:
                text = " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(3, 9))
                )
                ops.append((seq, did, False, text))
                docs[did] = text
        search_index_batch(spark, index, _changes(spark, ops))
        if rng.random() < 0.4:  # at-least-once redelivery of the batch
            search_index_batch(spark, index, _changes(spark, ops))
        if step == 2:
            compact_index_inplace(spark, index, token_buckets=8)
        if step in (4, 6):
            assert compact_index_incremental(spark, index)["mode"] in (
                "incremental", "noop"
            )
        if docs:
            got = _rows(bm25_topk_from_index(spark, index, _qtab(spark), k=5))
            want = _rows(_fresh(spark, list(docs.items()), _qtab(spark), k=5))
            assert got == want, f"step {step}: index diverged from model"
        assert index_status(spark, index)["live_docs"] == len(docs), (
            f"step {step}: live_docs diverged from model"
        )


def test_null_text_upsert_counts_zero_postings(spark, index):
    """A custom search_text hook can yield NULL text for an upsert: it
    must contribute ZERO postings and dl=0 — bare size(NULL) is -1
    (legacy sizeOfNull) and skewed both the batch-stats telemetry and
    the doclen row (ADVICE r10)."""
    st = search_index_batch(spark, index, _changes(spark, [
        (1, 1, False, "spark merges rows"),
        (2, 2, False, None),
    ]))
    assert st.upserts == 2
    assert st.postings_rows == 3  # only doc 1's distinct tokens
    import os

    dl = {
        r["doc_id"]: r["dl"]
        for r in spark.read.parquet(os.path.join(index, "doclen")).collect()
    }
    assert dl[2] == 0.0 and dl[1] == 3.0


def test_search_index_fsck(spark, index, tmp_path):
    """Bounded integrity check on the compacted base: clean after
    compaction (and legitimately ok=None before), meta forgery caught,
    a drifted dfs partial caught within the sampled pair dirs."""
    from couch_to_postgres_spark.streaming.meta_io import write_meta_rows
    from couch_to_postgres_spark.streaming.search_stream import (
        compact_index_inplace,
        search_index_fsck,
    )

    search_index_batch(spark, index, _changes(spark, [
        (1, 1, False, "spark merges rows"),
        (2, 2, False, "window rows sort"),
        (3, 3, False, "spark window stream"),
    ]))
    assert search_index_fsck(spark, index)["ok"] is None  # tail-only
    compact_index_inplace(spark, index)
    st = search_index_fsck(spark, index, sample_pairs=10_000)
    assert st["ok"]
    assert st["n_live_meta"] == st["n_live_actual"] == 3
    assert st["sampled_pair_dirs"] and (
        len(st["sampled_pair_dirs"]) == st["total_pair_dirs"]
    )

    # forged meta -> caught
    import os as _os

    meta_path = _os.path.join(index, "base", "meta")
    from couch_to_postgres_spark.streaming.meta_io import read_meta_rows

    row = read_meta_rows(spark, meta_path)[0]
    write_meta_rows(
        spark, meta_path,
        [(int(row["token_buckets"]), int(row["id_subbuckets"]), 99,
          float(row["sum_dl"]))],
        "token_buckets int, id_subbuckets int, n_live long, sum_dl double",
    )
    assert not search_index_fsck(spark, index)["meta_live_ok"]
    write_meta_rows(
        spark, meta_path,
        [(int(row["token_buckets"]), int(row["id_subbuckets"]),
          int(row["n_live"]), float(row["sum_dl"]))],
        "token_buckets int, id_subbuckets int, n_live long, sum_dl double",
    )
    assert search_index_fsck(spark, index)["ok"]

    # drifted dfs: drop one pair's partials entirely -> every token in
    # that pair counts as a mismatch (sampled exhaustively here)
    import shutil as _sh

    dfs_root = _os.path.join(index, "base", "dfs")
    victim = None
    for tb in sorted(_os.listdir(dfs_root)):
        if tb.startswith("token_bucket="):
            for sb in sorted(_os.listdir(_os.path.join(dfs_root, tb))):
                if sb.startswith("id_sub="):
                    victim = _os.path.join(dfs_root, tb, sb)
                    break
        if victim:
            break
    assert victim
    _sh.rmtree(victim)
    bad = search_index_fsck(spark, index, sample_pairs=10_000)
    assert not bad["ok"] and bad["dfs_mismatch_tokens"] > 0


def test_from_index_candidates_filter_keeps_corpus_stats(spark, tmp_path):
    """bm25_topk_from_index(candidates=…): the filtered ranking is
    EXACTLY the unfiltered ranking restricted to the candidate set with
    ranks recomputed — scores unchanged because N/avgdl/df stay
    corpus-global by contract (a per-doc BM25 score does not depend on
    which other docs are ranked)."""
    idx = str(tmp_path / "cand_idx")
    docs = [
        (1, "spark rows merge window"),
        (2, "spark window"),
        (3, "merge rows stream"),
        (4, "spark spark spark window"),
        (5, "filler text entirely"),
    ]
    search_index_batch(spark, idx, spark.createDataFrame(
        [(i, i, False, t) for i, t in docs],
        "seq long, doc_id long, deleted boolean, text string",
    ))
    queries = spark.createDataFrame(
        [(1, "spark"), (1, "window")], "query_id long, term string"
    )
    full = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_from_index(spark, idx, queries, k=5).collect()
    }
    cands = spark.createDataFrame([(2,), (4,), (5,)], "doc_id long")
    got = bm25_topk_from_index(
        spark, idx, queries, k=5, candidates=cands
    ).collect()
    assert {r["doc_id"] for r in got} == {2, 4}  # 5 matches no term
    for r in got:
        assert r["score"] == full[r["doc_id"]]
    ranks = {r["doc_id"]: r["rank"] for r in got}
    # rank order preserved among survivors, ranks densely recomputed
    assert sorted(ranks.values()) == [1, 2]
    assert (ranks[4] < ranks[2]) == (full[4] > full[2])


def test_batch_candidates_filter_matches_from_index(spark, tmp_path):
    """The batch path's candidates= obeys the same contract (shared
    scoring stage): filtered batch == filtered from-index over the
    equivalent corpus snapshot."""
    from couch_to_postgres_spark.extensions.search import bm25_topk_batch

    idx = str(tmp_path / "cand_idx2")
    docs = [
        (1, "spark rows merge window"),
        (2, "spark window"),
        (3, "merge rows stream"),
        (4, "spark spark spark window"),
        (5, "filler text entirely"),
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    search_index_batch(spark, idx, spark.createDataFrame(
        [(i, i, False, t) for i, t in docs],
        "seq long, doc_id long, deleted boolean, text string",
    ))
    queries = spark.createDataFrame(
        [(1, "spark"), (1, "window")], "query_id long, term string"
    )
    cands = spark.createDataFrame([(1,), (2,), (4,)], "doc_id long")
    a = sorted(
        tuple(r) for r in bm25_topk_batch(
            corpus, queries, k=5, candidates=cands
        ).collect()
    )
    b = sorted(
        tuple(r) for r in bm25_topk_from_index(
            spark, idx, queries, k=5, candidates=cands
        ).collect()
    )
    assert a == b and a


# --- MaxScore / block-max pruned read (VERDICT r12 #1) -----------------

def _synth_corpus(n=160, seed=13):
    """A Zipf-ish corpus: 'common' in every doc with varying tf, 'needle'
    in exactly 3 docs, fillers varying dl — the shape where exact BM25
    is df-proportional and MaxScore has something to skip."""
    import random

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "filler1", "filler2"]
    docs = []
    for d in range(1, n + 1):
        words = ["common"] * rng.randint(1, 4)
        words += [rng.choice(vocab) for _ in range(rng.randint(3, 14))]
        if d in (7, 70, 133):
            words.append("needle")
        rng.shuffle(words)
        docs.append((d, " ".join(words)))
    return docs


def _compacted(spark, tmp_path, docs, name="pruned_idx"):
    raw = str(tmp_path / f"{name}_raw")
    idx = str(tmp_path / name)
    search_index_batch(spark, raw, _changes(
        spark, [(i, d, False, t) for i, (d, t) in enumerate(docs, start=1)]
    ))
    compact_index(spark, raw, idx, token_buckets=8)
    return idx


def test_maxscore_pruned_read_exact_and_engaged(spark, tmp_path):
    """The pruned read must return EXACTLY the fresh batch build's
    top-k (the strongest oracle in this file) while actually engaging:
    positive cuts, candidate count below the hit count, and the impact
    cut pushed into the parquet scan (the block-skipping contract).
    ``pruned="force"`` pins the PRUNED PLAN's exactness regardless of
    the cost gate's verdict — at this corpus size the histogram
    estimate rightly says pruning can't pay (nothing can, at 160
    docs); the gate's own decisions are pinned separately in
    test_maxscore_cost_gate_*."""
    docs = _synth_corpus()
    idx = _compacted(spark, tmp_path, docs)
    qtab = spark.createDataFrame(
        [(1, "common"), (2, "common"), (2, "needle"), (3, "needle")],
        "query_id int, term string",
    )
    diag = {}
    got = bm25_topk_from_index(
        spark, idx, qtab, k=10, diag=diag, pruned="force"
    )
    want = _fresh(spark, docs, qtab, k=10)
    assert _rows(got) == _rows(want)
    assert diag["pruned"] is True
    # the needle-only query CANNOT prune even under force — df(needle)
    # = 3 < k means no provable θ seed exists — so it rides the full
    # path (which reads its 3 postings; nothing to skip), and the
    # batch unions the two paths
    assert diag["engaged_queries"] == 2
    assert diag["fallback_queries"] == 1
    # the common term's cut is positive (its df=160 >> k=10) and the
    # candidate set is far below its df — the df-proportionality break
    assert diag["cuts"]["common"] > 0.0
    assert diag["candidates"] < len(docs)
    assert "impact0" in diag["phase_b_plan"]
    assert "GreaterThanOrEqual(impact0" in diag["phase_b_plan"]


def test_maxscore_keeps_boundary_ties(spark, tmp_path):
    """Every doc identical -> every score identical -> the k-th place is
    an all-way tie broken by id. Pruning may only drop docs STRICTLY
    below the k-th best score, so all docs stay candidates and the
    ranking equals the batch build's tie-break exactly."""
    docs = [(d, "alpha beta") for d in range(1, 41)]
    idx = _compacted(spark, tmp_path, docs, "ties_idx")
    qtab = spark.createDataFrame([(1, "alpha")], "query_id int, term string")
    diag = {}
    got = bm25_topk_from_index(
        spark, idx, qtab, k=7, diag=diag, pruned="force"
    )
    want = _fresh(spark, docs, qtab, k=7)
    assert _rows(got) == _rows(want)
    assert diag["pruned"] is True
    assert diag["candidates"] == 40  # ties at theta all survive


def test_maxscore_exact_after_avgdl_drift_folds(spark, tmp_path):
    """Incremental folds stamp rewritten rows under a DIFFERENT corpus
    avgdl than the full compaction stamped the keep rows with; the
    meta bracket (impact_avgdl_min/max) plus the r_max/s_min correction
    must keep pruning provably safe — results equal the fresh build
    over the post-churn live corpus, with pruning still engaged."""
    from couch_to_postgres_spark.streaming.search_stream import (
        compact_index_incremental,
    )

    docs = _synth_corpus(n=120)
    idx = _compacted(spark, tmp_path, docs, "drift_idx")
    # churn: 10 docs rewritten MUCH longer, 15 new long docs -> avgdl
    # rises materially between folds
    long_tail = " ".join(["pad"] * 60) + " common common"
    updates = [(1000 + d, d, False, f"{long_tail} upd{d}") for d in range(1, 11)]
    inserts = [
        (2000 + d, 120 + d, False, f"{long_tail} ins{d}") for d in range(1, 16)
    ]
    search_index_batch(spark, idx, _changes(spark, updates + inserts))
    st = compact_index_incremental(spark, idx)
    assert st["mode"] == "incremental"
    live_docs = (
        [(d, t) for d, t in docs if d > 10]
        + [(d, f"{long_tail} upd{d}") for d in range(1, 11)]
        + [(120 + d, f"{long_tail} ins{d}") for d in range(1, 16)]
    )
    qtab = spark.createDataFrame(
        [(1, "common"), (2, "common"), (2, "pad")], "query_id int, term string"
    )
    diag = {}
    got = bm25_topk_from_index(
        spark, idx, qtab, k=8, diag=diag, pruned="force"
    )
    want = _fresh(spark, live_docs, qtab, k=8)
    assert _rows(got) == _rows(want)
    assert diag["pruned"] is True
    # the bracket actually widened (drift happened) and was applied
    assert diag["r_max"] > 1.0 or diag["s_min"] < 1.0


def test_maxscore_gates_fall_back_exactly(spark, tmp_path):
    """Every gate must fall back to the exact full path, never fork
    semantics: non-stamped (k1, b), k above the stored top-G, a
    candidates= filter, and a legacy meta without the impact layer."""
    docs = _synth_corpus(n=80)
    idx = _compacted(spark, tmp_path, docs, "gates_idx")
    qtab = spark.createDataFrame(
        [(1, "common"), (1, "alpha")], "query_id int, term string"
    )
    # non-default k1 -> fall back, still exact vs batch at that k1
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=5, k1=1.6, diag=diag)
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    want = bm25_topk_batch(corpus, qtab, k=5, k1=1.6)
    assert diag["pruned"] is False
    assert _rows(got) == _rows(want)
    # k above the stored top-G -> fall back
    from couch_to_postgres_spark.streaming.search_stream import IMPACT_TOP_G

    diag = {}
    got = bm25_topk_from_index(
        spark, idx, qtab, k=IMPACT_TOP_G + 1, diag=diag
    )
    want = _fresh(spark, docs, qtab, k=IMPACT_TOP_G + 1)
    assert diag["pruned"] is False
    assert _rows(got) == _rows(want)
    # candidates= -> fall back (theta bounds the index-wide k-th best,
    # not the in-set one)
    cands = spark.createDataFrame([(d,) for d in range(1, 31)], "doc_id long")
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=5, candidates=cands, diag=diag)
    assert diag["pruned"] is False
    assert {r["doc_id"] for r in got.collect()} <= set(range(1, 31))


def test_maxscore_legacy_meta_falls_back_then_fold_upgrades(spark, tmp_path):
    """A pre-impact-layer base (meta without impact_k1) must (a) read
    via the exact full path and (b) be upgraded by the next incremental
    fold via one full rewrite — after which the pruned read engages."""
    from couch_to_postgres_spark.streaming.meta_io import (
        read_meta_rows,
        write_meta_rows,
    )
    from couch_to_postgres_spark.streaming.search_stream import (
        compact_index_incremental,
    )

    docs = _synth_corpus(n=60)
    idx = _compacted(spark, tmp_path, docs, "legacy_idx")
    meta_path = os.path.join(idx, "base", "meta")
    row = read_meta_rows(spark, meta_path)[0]
    write_meta_rows(
        spark, meta_path,
        [(int(row["token_buckets"]), int(row["id_subbuckets"]),
          int(row["n_live"]), float(row["sum_dl"]))],
        "token_buckets int, id_subbuckets int, n_live long, sum_dl double",
    )
    qtab = spark.createDataFrame([(1, "common")], "query_id int, term string")
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=5, diag=diag)
    assert diag["pruned"] is False
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=5))
    # churn + fold: the legacy gate takes the full-upgrade path
    search_index_batch(spark, idx, _changes(
        spark, [(9001, 1, False, "common rewritten text")]
    ))
    st = compact_index_incremental(spark, idx)
    assert st["mode"] == "full"
    live_docs = [(1, "common rewritten text")] + [
        (d, t) for d, t in docs if d != 1
    ]
    diag = {}
    got = bm25_topk_from_index(
        spark, idx, qtab, k=5, diag=diag, pruned="force"
    )
    assert diag["pruned"] is True
    assert _rows(got) == _rows(_fresh(spark, live_docs, qtab, k=5))


def test_maxscore_randomized_equivalence(spark, tmp_path):
    """Seeded randomized pin over a small dense vocabulary (many equal
    tf/dl pairs -> frequent score ties): pruned-or-not, every query's
    top-k equals the fresh batch build bit-for-bit."""
    import random

    rng = random.Random(99)
    vocab = ["w0", "w1", "w2", "w3", "w4", "w5"]
    docs = [
        (
            d,
            " ".join(
                rng.choice(vocab) for _ in range(rng.randint(2, 9))
            ),
        )
        for d in range(1, 91)
    ]
    idx = _compacted(spark, tmp_path, docs, "rand_idx")
    qrows = []
    for qid in range(6):
        for t in rng.sample(vocab, rng.randint(1, 3)):
            qrows.append((qid, t))
    qtab = spark.createDataFrame(qrows, "query_id int, term string")
    want = _fresh(spark, docs, qtab, k=4)
    # cost-gated default AND forced-pruning both bit-equal the fresh
    # build — the force leg exercises the pruned plan (plus any
    # partial union) even where the gate would rightly refuse
    for mode in (True, "force"):
        got = bm25_topk_from_index(spark, idx, qtab, k=4, pruned=mode)
        assert _rows(got) == _rows(want)


# --- the pruned read's COST GATE (r13) ---------------------------------
#
# MaxScore's degenerate regime is the all-common-term query: similar
# per-term bounds leave ~nothing provably skippable, phase B reads
# ~everything, and the pruned plan COSTS more than the exact full path
# (measured r13: a 20-query all-common batch 18.3 s pruned vs 12.3 s
# full at 6M docs). The per-query gate estimates the win from the
# stored impact histograms and refuses exactly that shape.


def test_maxscore_cost_gate_refuses_all_common(spark, tmp_path, monkeypatch):
    """Every 'hot' posting carries the SAME stored impact (equal tf,
    equal dl), so a cut just under it skips nothing — the histogram
    proves it, the gate refuses, and the query rides the exact full
    path. (Floor zeroed so the SCREEN mechanics run: with the real
    ~3M-pair floor this tiny corpus is refused by the r14 meta-only
    short-circuit before any estimate — pinned separately below.)"""
    from couch_to_postgres_spark.streaming import search_stream as ss

    monkeypatch.setattr(ss, "IMPACT_GATE_FLOOR_ROWS", 0)
    docs = [
        (d, "hot filler pad" if d % 2 == 0 else "cold filler pad")
        for d in range(1, 301)
    ]
    idx = _compacted(spark, tmp_path, docs, "gate_common_idx")
    qtab = spark.createDataFrame([(1, "hot")], "query_id int, term string")
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=5, diag=diag)
    assert diag["pruned"] is False
    g = diag["gate"]["queries"][1]
    assert g["engaged"] is False
    # the estimate saw the truth: the cut skips (essentially) nothing
    assert g["phase_b_est"] >= 0.9 * g["full_rows"]
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=5))


def _skewed_corpus():
    """50 short 'hot' docs (high stored impact), 700 long 'hot' docs
    (low impact), 1250 'cold' docs of one equal shape — 'hot' queries
    have a provably skippable low-impact cohort; 'cold' queries have
    nothing skippable."""
    filler = " ".join(f"f{i}" for i in range(31))
    return (
        [(d, "hot x") for d in range(1, 51)]
        + [(d, f"hot {filler}") for d in range(51, 751)]
        + [(d, "cold y z") for d in range(751, 2001)]
    )


def test_maxscore_cost_gate_engages_when_pruning_pays(
    spark, tmp_path, monkeypatch
):
    """With k inside the short-doc cohort, θ lands among the high
    impacts, the histogram shows the 700-doc long cohort below the
    cut, and the gate engages — exact result, candidates ≪ df. The
    global fixed-cost floor is zeroed: at 2000 docs NOTHING clears the
    real ~3M-pair floor (that refusal is pinned separately below);
    this test pins the screen + engagement MECHANICS."""
    from couch_to_postgres_spark.streaming import search_stream as ss

    monkeypatch.setattr(ss, "IMPACT_GATE_FLOOR_ROWS", 0)
    docs = _skewed_corpus()
    idx = _compacted(spark, tmp_path, docs, "gate_skew_idx")
    qtab = spark.createDataFrame([(1, "hot")], "query_id int, term string")
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=10, diag=diag)
    assert diag["pruned"] is True
    assert diag["gate"]["queries"][1]["engaged"] is True
    assert diag["gate"]["global"]["engaged"] is True
    assert diag["fallback_queries"] == 0
    # the df-proportionality break: 750 hot postings, ~50 candidates
    assert diag["candidates"] < 200
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=10))


def test_maxscore_cost_gate_global_floor_refuses_small_wins(
    spark, tmp_path, monkeypatch
):
    """The same skewed shape with a floor the corpus CAN reach (1000 <
    the 2000-pair meta bound, so the r14 short-circuit stands aside and
    the histogram estimates run): the per-query screen passes (pruning
    would read ~50 of 750 postings) but the predicted net savings
    (~hundreds of pairs) cannot cover the pruned plan's fixed driver
    actions — the global decision refuses and the query rides the
    measured-optimal full path. This is the r13 calibration finding:
    engagement must pay for its own jobs, not just its rows."""
    from couch_to_postgres_spark.streaming import search_stream as ss

    monkeypatch.setattr(ss, "IMPACT_GATE_FLOOR_ROWS", 1000)
    docs = _skewed_corpus()
    idx = _compacted(spark, tmp_path, docs, "gate_floor_idx")
    qtab = spark.createDataFrame([(1, "hot")], "query_id int, term string")
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=10, diag=diag)
    assert diag["pruned"] is False
    assert diag["gate"]["queries"][1]["engaged"] is True  # screen ok
    g = diag["gate"]["global"]
    assert g["engaged"] is False
    assert g["net_pairs"] < g["floor"] + g["extra_scan"]
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=10))


def test_maxscore_gate_short_circuits_from_meta(spark, tmp_path):
    """r14 (VERDICT r13 #4): with the REAL floor, a query whose
    (query, term)-pair count × n_live cannot reach it is refused from
    meta alone — no dfs planning collect, no estimates (the refused
    read's fixed gate cost on the bench's recompacted/selective legs).
    The refusal decision is provably identical: net savings ≤ pairs ×
    n_live < floor ≤ floor + extra_scan. Results still equal the fresh
    build via the exact full path."""
    docs = _skewed_corpus()
    idx = _compacted(spark, tmp_path, docs, "gate_sc_idx")
    qtab = spark.createDataFrame([(1, "hot")], "query_id int, term string")
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=10, diag=diag)
    assert diag["pruned"] is False
    assert diag["gate"]["short_circuit"] is True
    assert "queries" not in diag["gate"]  # estimates never ran
    assert diag["gate"]["bound_pairs"] < diag["gate"]["floor"]
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=10))


def test_bm25_dl_carry_equals_doclen_join(spark, tmp_path, monkeypatch):
    """r14 pin for the index-side dl-carry scoring shape: the stored-dl
    passthrough (search_stream._DL_CARRY_INDEX, production default
    True) must produce IDENTICAL rows to the r03-r13 corpus-doclen-join
    shape on both the compacted read-mostly full fast path and the
    forced MaxScore rescore."""
    from couch_to_postgres_spark.streaming import search_stream as ss

    docs = _skewed_corpus()
    idx = _compacted(spark, tmp_path, docs, "dl_carry_idx")
    qtab = spark.createDataFrame(
        # hot+x: the skippable-cohort shape (forced pruning engages);
        # cold+y: nothing skippable — covers the fallback-union branch
        [(1, "hot"), (1, "x"), (2, "cold"), (2, "y")],
        "query_id int, term string",
    )

    assert ss._DL_CARRY_INDEX is True  # production default

    # index paths: both knob arms equal
    def index_paths():
        return {
            "full": _rows(
                bm25_topk_from_index(spark, idx, qtab, k=7, pruned=False)
            ),
            "forced": _rows(
                bm25_topk_from_index(spark, idx, qtab, k=7, pruned="force")
            ),
        }

    carried = index_paths()
    monkeypatch.setattr(ss, "_DL_CARRY_INDEX", False)
    assert index_paths() == carried
    # and both equal the fresh-build oracle
    assert carried["full"] == _rows(_fresh(spark, docs, qtab, k=7))


def test_dfs_rows_arrow_equals_window(spark):
    """r14 pin for the Arrow partial-merge dfs aggregator: bit-exact
    equality with the window formulation (dft, max_impact0, the exact
    top-G arrays, histogram bins) on a corpus with ties, the
    impact0 == 1.0 top-bin clamp, and groups larger than G — across
    multiple partitions so cross-batch partial merging is exercised."""
    import random

    from couch_to_postgres_spark.streaming.search_stream import (
        _dfs_rows,
        _dfs_rows_arrow,
    )

    random.seed(7)
    rows = [
        (
            random.randint(0, 7),
            random.randint(0, 3),
            f"t{random.randint(0, 200)}",
            round(random.random(), 6) or 0.5,
        )
        for _ in range(8000)
    ]
    rows += [(0, 0, "edge", 1.0)] * 40 + [(0, 0, "edge", 0.5)] * 40
    df = spark.createDataFrame(
        rows, "token_bucket int, id_sub int, token string, impact0 double"
    ).repartition(5)

    def _canon(d):
        return sorted(
            (
                r["token_bucket"], r["id_sub"], r["token"], r["dft"],
                r["max_impact0"], tuple(r["top_impacts"]),
                tuple(r["impact_hist"]),
            )
            for r in d.collect()
        )

    assert _canon(_dfs_rows_arrow(df)) == _canon(
        _dfs_rows(df, impacts=True)
    )


def test_maxscore_cost_gate_candidate_cap(spark, tmp_path, monkeypatch):
    """Absolute-selectivity cap (r13 measured: fractionally-selective
    seeds WON at 600k docs but LOST at 6M — the candidate machinery's
    shuffles grow with the candidate count and outrun the pair savings
    past the broadcast regime): with the floor zeroed but the cap
    below the candidate estimate, the global decision refuses and the
    result rides the exact full path."""
    from couch_to_postgres_spark.streaming import search_stream as ss

    monkeypatch.setattr(ss, "IMPACT_GATE_FLOOR_ROWS", 0)
    monkeypatch.setattr(ss, "IMPACT_GATE_MAX_CANDIDATES", 10)
    docs = _skewed_corpus()
    idx = _compacted(spark, tmp_path, docs, "gate_cap_idx")
    qtab = spark.createDataFrame([(1, "hot")], "query_id int, term string")
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=10, diag=diag)
    assert diag["pruned"] is False
    g = diag["gate"]["global"]
    assert g["engaged"] is False
    assert g["b_total"] > g["cap"]
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=10))


def test_maxscore_batch_splits_per_query(spark, tmp_path, monkeypatch):
    """A mixed batch: the skewed-impact query engages, the all-equal
    query is refused, and the unioned result equals the fresh build
    for BOTH — one stop-word query must never drag a prunable query
    off its fast plan (or corrupt its answer)."""
    from couch_to_postgres_spark.streaming import search_stream as ss

    monkeypatch.setattr(ss, "IMPACT_GATE_FLOOR_ROWS", 0)
    docs = _skewed_corpus()
    idx = _compacted(spark, tmp_path, docs, "gate_split_idx")
    qtab = spark.createDataFrame(
        [(1, "hot"), (2, "cold")], "query_id int, term string"
    )
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=10, diag=diag)
    assert diag["pruned"] is True
    assert diag["engaged_queries"] == 1
    assert diag["fallback_queries"] == 1
    assert diag["gate"]["queries"][1]["engaged"] is True
    assert diag["gate"]["queries"][2]["engaged"] is False
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=10))


def test_impactless_mode_for_fingerprint_indexes(spark, tmp_path):
    """r13: ``compact_index(impacts=False)`` — the shingle/fingerprint
    twin's mode. The base carries no bound layer (skinny postings, no
    per-pair impact sort; dfs = plain df partials), meta stamps the
    impact columns NULL as an EXPLICIT sentinel (distinct from the
    legacy missing-column state, which still upgrades), ranked reads
    gate off it onto the exact full path, and — the point — the
    incremental fold stays incremental AND impact-less forever, never
    burning repeated full upgrades or the bound layer's write cost on
    an index nothing will ever BM25-rank."""
    from couch_to_postgres_spark.streaming.meta_io import read_meta_rows
    from couch_to_postgres_spark.streaming.search_stream import (
        compact_index_incremental,
        compact_index_inplace,
    )

    docs = _synth_corpus(n=80)
    raw = str(tmp_path / "nolayer_raw")
    idx = str(tmp_path / "nolayer")
    search_index_batch(spark, raw, _changes(
        spark, [(i, d, False, t) for i, (d, t) in enumerate(docs, start=1)]
    ))
    compact_index(spark, raw, idx, token_buckets=8, impacts=False)
    meta = read_meta_rows(spark, os.path.join(idx, "base", "meta"))
    assert "impact_k1" in meta[0] and meta[0]["impact_k1"] is None
    assert meta[0]["impact_hist_bins"] is None
    po = spark.read.parquet(os.path.join(idx, "base", "postings"))
    assert "impact0" not in po.columns and "dl" not in po.columns
    dfs = spark.read.parquet(os.path.join(idx, "base", "dfs"))
    assert "top_impacts" not in dfs.columns
    assert "impact_hist" not in dfs.columns
    # ranked reads still work, exactly, via the full path
    qtab = spark.createDataFrame(
        [(1, "common"), (1, "needle")], "query_id int, term string"
    )
    diag = {}
    got = bm25_topk_from_index(spark, idx, qtab, k=5, diag=diag)
    assert diag["pruned"] is False
    assert _rows(got) == _rows(_fresh(spark, docs, qtab, k=5))
    # churn + fold: INCREMENTAL (the sentinel is not the legacy state)
    # and still impact-less
    search_index_batch(spark, idx, _changes(
        spark, [(9001, 1, False, "common rewritten text")]
    ))
    st = compact_index_incremental(spark, idx)
    assert st["mode"] == "incremental"
    meta2 = read_meta_rows(spark, os.path.join(idx, "base", "meta"))
    assert meta2[0]["impact_hist_bins"] is None
    po2 = spark.read.parquet(os.path.join(idx, "base", "postings"))
    assert "impact0" not in po2.columns
    live_docs = [(1, "common rewritten text")] + [
        (d, t) for d, t in docs if d != 1
    ]
    got2 = bm25_topk_from_index(spark, idx, qtab, k=5)
    assert _rows(got2) == _rows(_fresh(spark, live_docs, qtab, k=5))
    # a full in-place rewrite PRESERVES the mode (continuity, not reset)
    compact_index_inplace(spark, idx)
    meta3 = read_meta_rows(spark, os.path.join(idx, "base", "meta"))
    assert meta3[0]["impact_hist_bins"] is None


def test_compaction_dfs_consistent_with_written_postings(spark, index):
    """r13 optimization pin: compact_index (impacts mode) derives the
    dfs bound layer from the PERSISTED staged frame instead of
    re-reading the written base postings (the cache reuses the staged
    exchange+sort, dropping the dfs window's Exchange and Sort). The
    load-bearing invariant is that the cache IS the written content:
    recomputing the dfs rows from the base postings files must
    reproduce the stored dfs exactly — dft, max_impact0, the exact
    top-G arrays, and the histogram bins."""
    import os as _os

    from couch_to_postgres_spark.streaming.search_stream import _dfs_rows

    search_index_batch(
        spark, index, _changes(spark, [(s, d, False, t) for s, (d, t) in
                                       enumerate(DOCS, start=1)])
    )
    out = index + ".compacted"
    compact_index(spark, index, out, token_buckets=8)
    stored = spark.read.parquet(_os.path.join(out, "base", "dfs"))
    recomputed = _dfs_rows(
        spark.read.parquet(_os.path.join(out, "base", "postings")),
        impacts=True,
    )
    key = ["token_bucket", "id_sub", "token"]

    def _canon(df):
        return sorted(
            (
                r["token_bucket"], r["id_sub"], r["token"], r["dft"],
                r["max_impact0"], tuple(r["top_impacts"]),
                tuple(r["impact_hist"]),
            )
            for r in df.select(
                *key, "dft", "max_impact0", "top_impacts", "impact_hist"
            ).collect()
        )

    assert _canon(stored) == _canon(recomputed)
