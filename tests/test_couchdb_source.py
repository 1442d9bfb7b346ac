"""The format("couchdb") data source: batch drain, streaming micro-batches
with checkpoint resume, end-to-end into the CDC merge."""

import pytest

from couch_to_postgres_spark.sources.changes import write_change_log
from couch_to_postgres_spark.sources.couchdb_source import register
from couch_to_postgres_spark.streaming.pipeline import (
    follow,
    follow_couch,
    read_mirror,
)
from tests.test_writeback import RecordingCouch


@pytest.fixture
def couch():
    c = RecordingCouch()
    yield c
    c.close()


def page(results, last_seq):
    return {"results": results, "last_seq": last_seq}


PAGES = [
    page(
        [
            {"seq": 1, "id": "a", "doc": {"_id": "a", "_rev": "1-x", "v": 1}},
            {"seq": 2, "id": "b", "doc": {"_id": "b", "_rev": "1-y", "v": 2}},
        ],
        2,
    ),
    page(
        [
            {"seq": 3, "id": "a", "doc": {"_id": "a", "_rev": "2-z", "v": 10}},
            {"seq": 4, "id": "c", "deleted": True},
        ],
        4,
    ),
]


def test_batch_read(spark, couch):
    register(spark)
    couch.changes_pages = list(PAGES)
    df = (
        spark.read.format("couchdb")
        .option("url", couch.url)
        .option("database", "db")
        .load()
    )
    rows = {r["seq"]: (r["id"], r["deleted"]) for r in df.collect()}
    assert rows == {1: ("a", False), 2: ("b", False), 3: ("a", False), 4: ("c", True)}
    assert [f.name for f in df.schema.fields] == ["seq", "id", "deleted", "doc"]


def test_stream_to_mirror_with_resume(spark, couch, tmp_path):
    couch.changes_pages = [PAGES[0]]

    def run_query():
        return follow_couch(
            spark, couch.url, "db",
            str(tmp_path / "mirror"), str(tmp_path / "ckpt"),
        )

    q = run_query()
    q.awaitTermination(120)
    state = {r["id"] for r in read_mirror(spark, str(tmp_path / "mirror")).collect()}
    assert state == {"a", "b"}

    # more changes appear; restart from the same checkpoint
    couch.changes_pages = [PAGES[1]]
    q2 = run_query()
    q2.awaitTermination(120)
    # the resumed start asks for changes after the checkpointed offset
    # (the couch ``since``): no state beside the checkpoint
    assert "since=2" in couch.changes_requests[-1]
    mirror = read_mirror(spark, str(tmp_path / "mirror"))
    state2 = {r["id"]: r["doc"] for r in mirror.collect()}
    assert set(state2) == {"a", "b"}  # c deleted before ever landing
    assert '"2-z"' in state2["a"]  # the rev-2 update applied


def test_follow_couch_registers_the_source_once_per_session(
    spark, couch, tmp_path, monkeypatch
):
    """A restarted feed reuses its session's ``couchdb`` registration:
    two ``follow_couch`` starts in one session register the source once
    (a second registration replaces the first and makes Spark log a
    WARN)."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register

    def counting(self, ds):
        calls.append(ds.name())
        return real(self, ds)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    # a session with no registration yet, made active: Spark checks a
    # new name against the active session's sources too
    session = spark.newSession()
    jvm_sessions = spark._jvm.org.apache.spark.sql.SparkSession
    jvm_sessions.setActiveSession(session._jsparkSession)
    try:
        for pages in ([PAGES[0]], [PAGES[1]]):
            couch.changes_pages = pages
            follow_couch(
                session, couch.url, "db",
                str(tmp_path / "mirror"), str(tmp_path / "ckpt"),
            ).awaitTermination(120)
    finally:
        jvm_sessions.setActiveSession(spark._jsparkSession)
    assert calls == ["couchdb"]
    mirror = read_mirror(session, str(tmp_path / "mirror"))
    assert {r["id"] for r in mirror.collect()} == {"a", "b"}

def _vec_doc(i, rev, text, emb):
    doc = {"_id": f"d{i}", "_rev": rev, "text": text}
    if emb is not None:
        doc["embedding"] = emb
    return doc


#: eight embedded docs, then a page that updates one, deletes one and
#: drops another's embedding (a tombstone for the vector twin only)
INDEXED_PAGES = [
    page(
        [
            {
                "seq": i + 1,
                "id": f"d{i}",
                "doc": _vec_doc(
                    i, "1-a", f"alpha word{i}", [float(i), float(8 - i)]
                ),
            }
            for i in range(8)
        ],
        8,
    ),
    page(
        [
            {"seq": 9, "id": "d1", "doc": _vec_doc(1, "2-b", "beta", [9.0, 1.0])},
            {"seq": 10, "id": "d2", "deleted": True},
            {"seq": 11, "id": "d3", "doc": _vec_doc(3, "2-c", "gamma", None)},
        ],
        11,
    ),
]


def test_follow_couch_feeds_index_twins_like_follow(spark, couch, tmp_path):
    """follow and follow_couch share one merge: the couch feed, with the
    search and vector twins on, lands the same mirror rows and the same
    live index ids as ``follow`` over the same changes written as a
    change-log file. The couch source runs one batch per start, so it
    takes the two pages in two resumed runs; ``follow`` drains the log
    in one."""
    from couch_to_postgres_spark.streaming.search_stream import live_doclen
    from couch_to_postgres_spark.streaming.vector_stream import (
        live_vector_ids,
    )

    register(spark)
    couch.changes_pages = list(INDEXED_PAGES)
    changes = (
        spark.read.format("couchdb")
        .option("url", couch.url)
        .option("database", "db")
        .load()
    )
    write_change_log(changes, str(tmp_path / "log"), num_files=1)

    def run(name, start, runs):
        root = tmp_path / name
        for pages in runs:
            couch.changes_pages = list(pages)
            start(
                mirror_path=str(root / "mirror"),
                checkpoint_path=str(root / "ckpt"),
                search_index_path=str(root / "sidx"),
                vector_index_path=str(root / "vidx"),
                vector_cells=2,
            ).awaitTermination(120)
        return (
            sorted(map(tuple, read_mirror(spark, str(root / "mirror")).collect())),
            sorted(
                r["doc_id"]
                for r in live_doclen(spark, str(root / "sidx")).collect()
            ),
            sorted(
                r["vec_id"]
                for r in live_vector_ids(spark, str(root / "vidx")).collect()
            ),
        )

    from_file = run(
        "file", lambda **kw: follow(spark, str(tmp_path / "log"), **kw), [[]]
    )
    from_couch = run(
        "couch",
        lambda **kw: follow_couch(spark, couch.url, "db", **kw),
        [[p] for p in INDEXED_PAGES],
    )
    assert from_couch == from_file
    mirror_rows, doclen_ids, vector_ids = from_couch
    live = [f"d{i}" for i in range(8) if i != 2]
    assert [r[0] for r in mirror_rows] == live
    assert doclen_ids == live
    assert vector_ids == [d for d in live if d != "d3"]
