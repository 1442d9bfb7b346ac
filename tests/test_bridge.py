"""End-to-end over HTTP: a CouchDB-shaped server's _changes feed →
format("couchdb") source → CDC merge → parquet mirror, with the feed's
``since`` kept only in the query's checkpoint."""

import json

import pytest

from couch_to_postgres_spark.streaming.pipeline import follow_couch, read_mirror
from tests.test_writeback import RecordingCouch


@pytest.fixture
def couch():
    c = RecordingCouch()
    yield c
    c.close()


def page(results, last_seq):
    return {"results": results, "last_seq": last_seq}


def test_http_to_mirror_end_to_end(spark, couch, tmp_path):
    mirror_path = str(tmp_path / "mirror")

    def run_query():
        return follow_couch(
            spark, couch.url, "db", mirror_path, str(tmp_path / "ckpt")
        )

    couch.changes_pages = [
        page(
            [
                {"seq": 1, "id": "a", "doc": {"_id": "a", "_rev": "1-x", "v": 1}},
                {"seq": 2, "id": "b", "doc": {"_id": "b", "_rev": "1-y", "v": 2}},
                {"seq": 3, "id": "a", "doc": {"_id": "a", "_rev": "2-z", "v": 10}},
                {"seq": 4, "id": "c", "deleted": True},
            ],
            4,
        ),
    ]
    q = run_query()
    q.awaitTermination(120)
    state_rows = {
        r["id"]: json.loads(r["doc"])
        for r in read_mirror(spark, mirror_path).collect()
    }
    assert set(state_rows) == {"a", "b"}
    assert state_rows["a"]["_rev"] == "2-z" and state_rows["a"]["v"] == 10

    # later changes only: the restart resumes from the checkpointed since
    couch.changes_pages = [
        page([{"seq": 5, "id": "b", "deleted": True}], 5),
    ]
    q2 = run_query()
    q2.awaitTermination(120)
    assert "since=4" in couch.changes_requests[-1]
    final = {r["id"] for r in read_mirror(spark, mirror_path).collect()}
    assert final == {"a"}
