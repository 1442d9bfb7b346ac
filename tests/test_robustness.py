"""Robustness corners: malformed JSON docs and unicode/escaping-heavy
content must flow through merge, query, writeback, and round trip without
corruption or crashes."""

import json

import pytest
from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import (
    json_get,
    json_keys,
    json_object_set_key,
    register_sql_functions,
)
from couch_to_postgres_spark.operators.cdc import apply_changes
from couch_to_postgres_spark.operators.mirror import CHANGES_SCHEMA, MIRROR_SCHEMA
from couch_to_postgres_spark.sinks.writeback import writeback_bulk
from tests.test_writeback import RecordingCouch

TRICKY = [
    ("quotes", 'He said "hi" and \\ backslash'),
    ("unicode", "héllo wörld — ünïcode ✓ 日本語 🎉"),
    ("newlines", "line1\nline2\ttabbed\rcarriage"),
    ("json_inside", '{"nested": "looks like json"}'),
    ("empty", ""),
    ("slashes", "a/b\\c//d"),
]


@pytest.fixture(scope="module")
def tricky_mirror(spark):
    rows = [
        (k, json.dumps({"_id": k, "_rev": "1-r", "text": v}, separators=(",", ":")))
        for k, v in TRICKY
    ]
    return spark.createDataFrame(rows, MIRROR_SCHEMA)


def test_unicode_extraction_round_trip(spark, tricky_mirror):
    got = {
        r["id"]: r["t"]
        for r in tricky_mirror.select(
            "id", json_get("doc", "text").alias("t")
        ).collect()
    }
    # empty string extracts as '' (or None via JSON path); normalize
    for k, v in TRICKY:
        assert got[k] == v or (v == "" and got[k] in ("", None)), (k, got[k])


def test_set_key_preserves_tricky_values(spark, tricky_mirror):
    out = tricky_mirror.withColumn(
        "doc", json_object_set_key("doc", "tag", F.lit("x"))
    )
    for r in out.collect():
        parsed = json.loads(r["doc"])  # stays valid JSON
        assert parsed["tag"] == "x"
    register_sql_functions(spark)
    out2 = tricky_mirror.withColumn(
        "doc",
        F.call_function(
            "json_object_set_key_nested", "doc", F.lit("tag"), F.lit("x")
        ),
    )
    originals = dict(TRICKY)
    for r in out2.collect():
        parsed = json.loads(r["doc"])
        assert parsed["text"] == originals[r["id"]]


def test_malformed_docs_dont_crash_queries(spark):
    rows = [
        ("good", '{"_id":"good","_rev":"1-a","v":"1"}'),
        ("broken", "this is not json {"),
        ("nullish", None),
        ("number", "42"),
        ("arr", "[1,2,3]"),
    ]
    m = spark.createDataFrame(rows, MIRROR_SCHEMA)
    got = {
        r["id"]: r["v"] for r in m.select("id", json_get("doc", "v").alias("v")).collect()
    }
    assert got["good"] == "1"
    assert got["broken"] is None and got["nullish"] is None
    keys = {
        r["id"]: r["k"] for r in m.select("id", json_keys("doc").alias("k")).collect()
    }
    assert keys["good"] == ["_id", "_rev", "v"]
    assert keys["arr"] is None  # non-object → no keys, no crash


def test_malformed_docs_through_merge(spark):
    mirror = spark.createDataFrame(
        [("a", '{"_id":"a","_rev":"1-a"}')], MIRROR_SCHEMA
    )
    changes = spark.createDataFrame(
        [
            (1, "b", False, "not json at all"),
            (2, "a", False, '{"_id":"a","_rev":"2-b"}'),
        ],
        CHANGES_SCHEMA,
    )
    out = {r["id"]: r["doc"] for r in apply_changes(mirror, changes).collect()}
    assert out["b"] == "not json at all"  # stored opaque, like jsonb-less text
    assert '"2-b"' in out["a"]


def test_unicode_writeback_payloads(spark, tricky_mirror):
    couch = RecordingCouch()
    try:
        writeback_bulk(tricky_mirror.coalesce(1), couch.url, "t", chunk_size=50)
        sent = {d["_id"]: d["text"] for b in couch.bulk_batches for d in b}
        for k, v in TRICKY:
            assert sent[k] == v  # byte-faithful through HTTP + JSON
    finally:
        couch.close()


def test_corrupt_change_records_quarantined_not_fatal(spark, tmp_path):
    """A change log containing unparseable lines drains to completion:
    good records land in the mirror, poison records land in the
    quarantine dir with their raw line, nothing crash-loops (the
    reference's watchdog would restart forever on a persistent bad
    record, daemon-README failure transcripts)."""
    import os

    from couch_to_postgres_spark.streaming.pipeline import follow, read_mirror

    log = tmp_path / "log"
    os.makedirs(log)
    good = [
        '{"seq": 1, "id": "a", "deleted": false, "doc": "{\\"_id\\":\\"a\\",\\"_rev\\":\\"1-x\\",\\"v\\":1}"}',
        '{"seq": 2, "id": "b", "deleted": false, "doc": "{\\"_id\\":\\"b\\",\\"_rev\\":\\"1-y\\",\\"v\\":2}"}',
    ]
    poison = ['this is not json at all', '{"seq": oops']
    with open(log / "batch0.json", "w") as f:
        f.write("\n".join([good[0], poison[0], good[1], poison[1]]) + "\n")

    q = follow(
        spark,
        str(log),
        str(tmp_path / "mirror"),
        str(tmp_path / "ckpt"),
        quarantine_path=str(tmp_path / "quarantine"),
    )
    q.awaitTermination(120)

    mirror_ids = {
        r["id"] for r in read_mirror(spark, str(tmp_path / "mirror")).collect()
    }
    assert mirror_ids == {"a", "b"}
    quarantined = {
        r["raw_record"]
        for r in spark.read.json(str(tmp_path / "quarantine")).collect()
    }
    assert quarantined == set(poison)


def test_clean_log_produces_no_quarantine_dir(spark, tmp_path):
    """With quarantine enabled but no corrupt rows, nothing is written to
    the quarantine path (no empty-append side effects)."""
    import os

    from couch_to_postgres_spark.session import load_table
    from couch_to_postgres_spark.sources.changes import (
        changes_from_events,
        write_change_log,
    )
    from couch_to_postgres_spark.streaming.pipeline import follow, read_mirror

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    write_change_log(
        changes_from_events(spark, sf_dir), str(tmp_path / "log"), num_files=2
    )
    q = follow(
        spark,
        str(tmp_path / "log"),
        str(tmp_path / "mirror"),
        str(tmp_path / "ckpt"),
        quarantine_path=str(tmp_path / "quarantine"),
    )
    q.awaitTermination(120)
    assert read_mirror(spark, str(tmp_path / "mirror")).count() > 0
    assert not os.path.exists(tmp_path / "quarantine")


def test_corrupt_mirror_meta_fails_loudly(spark, sf_dir, tmp_path):
    """A corrupt layout meta must raise an actionable error, never guess
    the bucket count (a wrong bucket fn silently corrupts the layout)."""
    from couch_to_postgres_spark.operators.mirror import docs_mirror
    from couch_to_postgres_spark.streaming.partitioned import (
        META_FILE,
        read_meta,
        write_partitioned_mirror,
    )

    p = str(tmp_path / "m")
    write_partitioned_mirror(docs_mirror(spark, sf_dir), p, 16)
    with open(f"{p}/{META_FILE}", "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="corrupt mirror meta"):
        read_meta(p)


def test_default_driver_mem_sized_from_host_ram():
    """ADVICE r09: the driver-heap default scales with the HOST's RAM
    (~1/4, clamped to [2g, 24g]) instead of hardcoding the 128 GiB bench
    box's 24g — a fixed 24g request fails JVM startup or swaps on small
    dev/CI machines. SPARK_GRAFT_DRIVER_MEM still overrides upward."""
    from couch_to_postgres_spark.session import _default_driver_mem

    v = _default_driver_mem()
    assert v.endswith("g")
    assert 2 <= int(v[:-1]) <= 24
