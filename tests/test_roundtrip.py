"""Entry point 4 of SURVEY.md §3 — the writeback round trip:

    mirror-side write → HTTP writeback → CouchDB assigns new revs →
    `_changes` replays them → `format("couchdb")` source → merge →
    mirror converges,
    with the rev-compare suppressing echo for untouched docs.

The couch side is the RecordingCouch test server, extended here to emit a
changes feed for what was written to it — the full loop over real HTTP.
"""

import json

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import json_get, json_object_set_key
from couch_to_postgres_spark.operators.cdc import change_stats
from couch_to_postgres_spark.operators.mirror import docs_mirror
from couch_to_postgres_spark.sinks.writeback import writeback_bulk
from couch_to_postgres_spark.streaming.partitioned import write_partitioned_mirror
from couch_to_postgres_spark.streaming.pipeline import follow_couch, read_mirror
from tests.test_writeback import RecordingCouch


@pytest.fixture
def couch():
    c = RecordingCouch()
    yield c
    c.close()


def test_full_writeback_round_trip(spark, sf_dir, couch, tmp_path):
    mirror_path = str(tmp_path / "mirror")
    # 0. a replicated mirror exists (rev 1-* docs)
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, 4)
    n0 = base.count()

    # 1. mirror-side UPDATE…WHERE: bump a field on a 25-doc subset and
    #    write it back (the reference's trigger path, README.md:620-621)
    subset = (
        read_mirror(spark, mirror_path)
        .filter(json_get("doc", "source") == "src1")
        .withColumn("doc", json_object_set_key("doc", "flagged", F.lit("yes")))
    )
    writeback_bulk(subset, couch.url, "articles", chunk_size=50)
    written = [d for b in couch.bulk_batches for d in b]
    assert len(written) == subset.count() > 0

    # 2. couch assigns new revs and emits the changes (server-side echo)
    results = []
    for i, d in enumerate(written):
        new = dict(d)
        new["_rev"] = "2-" + format(abs(hash(d["doc_id"])) % 16**8, "08x")
        results.append({"seq": 1000 + i, "id": str(d["doc_id"]), "doc": new})
    couch.changes_pages = [{"results": results, "last_seq": 1000 + len(results)}]

    # 3. the feed replays into the mirror via the couchdb source
    q = follow_couch(
        spark, couch.url, "articles", mirror_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    final = read_mirror(spark, mirror_path)
    # count stable: round trip updated docs, created/lost none
    assert final.count() == n0
    flagged = final.filter(json_get("doc", "flagged") == "yes")
    revs = {
        r["rev"]
        for r in flagged.select(json_get("doc", "_rev").alias("rev")).collect()
    }
    assert flagged.count() == len(written)
    assert all(r.startswith("2-") for r in revs)  # round-tripped revs landed

    # 4. echo suppression: replaying the same change batch classifies
    #    every doc as NOOP (rev unchanged ⇒ no write amplification)
    changes_df = spark.createDataFrame(
        [
            (c["seq"], c["id"], False, json.dumps(c["doc"], separators=(",", ":")))
            for c in results
        ],
        "seq long, id string, deleted boolean, doc string",
    )
    stats = {
        r["action"]: r["count"] for r in change_stats(final, changes_df).collect()
    }
    assert stats == {"noop": len(written)}


def test_round_trip_with_conflicting_revs(spark, sf_dir, couch, tmp_path):
    """The conflict path end-to-end (reference failure discussion
    README.md:534-546): some docs 409 on `_bulk_docs` because the server
    holds a newer rev. The writeback surfaces them; the echo feed carries
    the SERVER's winning revs for those ids; the merge converges the
    mirror to the server state — no lost docs, no crash-loop, and a
    replay is all-NOOP."""
    mirror_path = str(tmp_path / "mirror")
    base = docs_mirror(spark, sf_dir, with_rev=True)
    write_partitioned_mirror(base, mirror_path, 4)
    n0 = base.count()

    subset = (
        read_mirror(spark, mirror_path)
        .filter(json_get("doc", "source") == "src1")
        .withColumn("doc", json_object_set_key("doc", "flagged", F.lit("yes")))
    )
    subset_ids = [r["id"] for r in subset.select("id").collect()]
    losers = set(subset_ids[:3])  # these docs lost a concurrent update
    couch.conflict_doc_ids = {str(i) for i in losers}

    stats = writeback_bulk(subset, couch.url, "articles", chunk_size=50)
    assert stats["conflicts"] == 3
    assert set(stats["conflict_ids"]) == {str(i) for i in losers}

    # the echo feed: accepted docs get OUR update at rev 2; conflicted ids
    # emit the SERVER's winning doc (no 'flagged' field, different rev 2)
    results, seq = [], 1000
    for d in (d for b in couch.bulk_batches for d in b):
        new = dict(d)
        new["_rev"] = "2-" + format(abs(hash(d["doc_id"])) % 16**8, "08x")
        results.append({"seq": seq, "id": str(d["doc_id"]), "doc": new})
        seq += 1
    winner_docs = {}
    for i in losers:
        row = base.filter(F.col("id") == i).head()
        winner = json.loads(row["doc"])
        winner["_rev"] = "2-winner"
        winner["edited_by"] = "someone-else"
        winner_docs[i] = winner
        results.append({"seq": seq, "id": i, "doc": winner})
        seq += 1
    couch.changes_pages = [{"results": results, "last_seq": seq}]

    q = follow_couch(
        spark, couch.url, "articles", mirror_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    final = read_mirror(spark, mirror_path)
    assert final.count() == n0  # nothing lost, nothing duplicated
    # conflicted ids converged to the SERVER's winner, not our update
    for i in losers:
        doc = json.loads(final.filter(F.col("id") == i).head()["doc"])
        assert doc["_rev"] == "2-winner"
        assert doc["edited_by"] == "someone-else"
        assert "flagged" not in doc
    # non-conflicted subset docs carry our flagged update at rev 2
    flagged = final.filter(json_get("doc", "flagged") == "yes")
    assert flagged.count() == len(subset_ids) - len(losers)
    # replaying the whole echo batch is pure NOOP (idempotent convergence)
    changes_df = spark.createDataFrame(
        [
            (c["seq"], c["id"], False, json.dumps(c["doc"], separators=(",", ":")))
            for c in results
        ],
        "seq long, id string, deleted boolean, doc string",
    )
    st = {
        r["action"]: r["count"] for r in change_stats(final, changes_df).collect()
    }
    assert st == {"noop": len(results)}
