"""The generator is a pure function of the seed, and the sequential model
is the last-write-wins replay CouchDB's _changes semantics require."""

import json

import feed


def _feed_bytes(seed, directory):
    f = feed.Feed(seed)
    paths = []
    for i, changes in enumerate([f.inserts(200), f.churn(300), f.churn(300)]):
        paths.append(directory / f"part-{i}.json")
        feed.write_changes(changes, str(paths[-1]))
    rows = f.bm25_queries(5) + [(q, tuple(v)) for q, v in f.vector_queries(3)]
    return b"".join(p.read_bytes() for p in paths) + repr(rows).encode()


def test_same_seed_gives_byte_identical_feed(tmp_path):
    a, b, c = (_feed_bytes(seed, tmp_path / name)
               for seed, name in ((7, "a"), (7, "b"), (8, "c")))
    assert a == b
    assert a != c


def test_change_mix_and_doc_shape():
    f = feed.Feed(3)
    f.inserts(500)
    churn = f.churn(2000)
    kinds = {"insert": 0, "delete": 0}
    seen = set(f"art-{i:07d}" for i in range(500))
    for c in churn:
        if c["deleted"]:
            kinds["delete"] += 1
        elif c["id"] not in seen:
            kinds["insert"] += 1
        seen.add(c["id"])
    assert 0.07 < kinds["insert"] / len(churn) < 0.13
    assert 0.03 < kinds["delete"] / len(churn) < 0.07
    # hot keys change several times within one 200-change batch
    assert len({c["id"] for c in churn[:200]}) < 190
    doc = json.loads(next(c for c in churn if not c["deleted"])["doc"])
    assert {"_id", "_rev", "type", "feedName", "read", "myvar", "title", "body",
            "embedding"} <= set(doc)
    assert doc["read"] in ("true", "false") and len(doc["embedding"]) == feed.DIM
    # query ids never collide with doc ids
    assert not {q for q, _ in f.vector_queries(5)} & f.live


def test_model_replays_rev_chain_delete_and_reinsert():
    f = feed.Feed(1)
    a1, b1 = f.inserts(2)
    a2 = f._emit(a1["id"], False)
    a3 = f._emit(a1["id"], True)
    b2 = f._emit(b1["id"], False)
    a4 = f._emit(a1["id"], False)  # re-insert continues the rev chain
    revs = [json.loads(c["doc"])["_rev"].split("-")[0] for c in (a1, a2, a4)]
    assert revs == ["1", "2", "4"]
    assert a3["doc"] is None and [c["seq"] for c in (a1, b1, a2, a3, b2, a4)] == list(range(1, 7))

    m = feed.Model()
    m.apply([a4, a1, b1, a3, a2, b2])  # applied in seq order, whatever the list order
    assert m.docs == {a1["id"]: a4["doc"], b1["id"]: b2["doc"]}
    assert m.live_count == 2

    gone = feed.Model()
    gone.apply([a1, a2, a3])
    assert gone.live_count == 0
    assert gone.digest() == feed.combine([])
    assert m.digest() == feed.combine(
        [feed.row_hash(a1["id"], a4["doc"]), feed.row_hash(b1["id"], b2["doc"])]
    )
