"""The shared LSM core (``streaming/lsm.py``): the search and the vector
index, fed one change stream, must agree on the live id set — with each
other and with the sequential model — at every stage of the LSM life
cycle: tail only, after the first (full) fold, with churn on top of the
base, and after the incremental fold."""

from couch_to_postgres_spark.streaming.search_stream import (
    compact_index_incremental,
    index_status,
    live_doclen,
    search_index_batch,
)
from couch_to_postgres_spark.streaming.vector_stream import (
    compact_vector_index_incremental,
    init_vector_index,
    live_vector_ids,
    vector_index_batch,
    vector_index_status,
)

# 2-d anchors: the cell is the quadrant-ish direction of the vector
ANCHORS = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
EAST, NORTH, WEST, SOUTH = ANCHORS

# (seq, doc_id, deleted, text, embedding) batches. Each churn batch
# holds an update that moves its doc to another cell, a delete, an
# insert and a tombstone for an id neither index ever held; CHURN_1 is
# delivered twice (an at-least-once replay).
INSERTS = [
    (1, 1, False, "spark merges window rows", EAST),
    (2, 2, False, "couch feeds replicate changes", NORTH),
    (3, 3, False, "window rank inside a partition", WEST),
    (4, 4, False, "merge upserts changed rows", SOUTH),
    (5, 5, False, "late rows arrive in the feed", EAST),
    (6, 6, False, "spark shuffle tuning guide", NORTH),
]
CHURN_1 = [
    (7, 1, False, "spark moved to the north", NORTH),
    (8, 5, True, None, None),
    (9, 99, True, None, None),
    (10, 7, False, "a new doc arrives", WEST),
]
CHURN_2 = [
    (11, 2, False, "couch moved to the south", SOUTH),
    (12, 3, True, None, None),
    (13, 98, True, None, None),
    (14, 8, False, "another doc arrives", EAST),
]


def _model(*batches):
    live = {}
    for seq, doc, deleted, _, _ in sorted(r for b in batches for r in b):
        if deleted:
            live.pop(doc, None)
        else:
            live[doc] = seq
    return set(live)


def _feed(spark, sidx, vidx, rows):
    df = spark.createDataFrame(
        rows,
        "seq long, doc_id long, deleted boolean, text string, "
        "embedding array<double>",
    )
    search_index_batch(spark, sidx, df.drop("embedding"))
    vector_index_batch(spark, vidx, df.drop("text"), id_col="doc_id")


def _assert_twins_agree(spark, sidx, vidx, want):
    search_ids = {r["doc_id"] for r in live_doclen(spark, sidx).collect()}
    vector_ids = {
        r["doc_id"]
        for r in live_vector_ids(spark, vidx, id_col="doc_id").collect()
    }
    assert search_ids == vector_ids == want
    live_docs = index_status(spark, sidx)["live_docs"]
    live_vectors = vector_index_status(spark, vidx, id_col="doc_id")[
        "live_vectors"
    ]
    assert live_docs == live_vectors == len(want)


def test_search_and_vector_twins_agree_on_liveness(spark, tmp_path):
    sidx, vidx = str(tmp_path / "search"), str(tmp_path / "vector")
    init_vector_index(spark, vidx, centroids=ANCHORS, assigner="hof")

    _feed(spark, sidx, vidx, INSERTS)
    _feed(spark, sidx, vidx, CHURN_1)
    _feed(spark, sidx, vidx, CHURN_1)
    _assert_twins_agree(spark, sidx, vidx, _model(INSERTS, CHURN_1))

    # the impact-bound layer is search payload, not LSM core: fold
    # without it (the shingle twin's mode) to keep the test fast
    assert compact_index_incremental(
        spark, sidx, impacts_default=False
    )["mode"] == "full"
    assert compact_vector_index_incremental(
        spark, vidx, id_col="doc_id"
    )["mode"] == "full"
    _assert_twins_agree(spark, sidx, vidx, _model(INSERTS, CHURN_1))

    _feed(spark, sidx, vidx, CHURN_2)
    want = _model(INSERTS, CHURN_1, CHURN_2)
    _assert_twins_agree(spark, sidx, vidx, want)

    assert compact_index_incremental(spark, sidx)["mode"] == "incremental"
    assert compact_vector_index_incremental(
        spark, vidx, id_col="doc_id"
    )["mode"] == "incremental"
    _assert_twins_agree(spark, sidx, vidx, want)
