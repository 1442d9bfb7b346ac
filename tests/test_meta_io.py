"""meta_io: driver-fast 1-row meta tables must stay format-compatible
with Spark in BOTH directions, honor overwrite semantics, and fall back
to the Spark path for non-local schemes."""

import os

import pytest

from couch_to_postgres_spark.streaming.meta_io import (
    _local,
    read_meta_rows,
    write_meta_rows,
)

DDL = "token_buckets int, id_subbuckets int, n_live long, sum_dl double"


def test_local_path_forms():
    assert _local("/a/b") == "/a/b"
    assert _local("file:///a/b") == "/a/b"
    assert _local("hdfs://nn/a/b") is None
    assert _local("s3a://bucket/a/b") is None


def test_roundtrip_pyarrow_write_pyarrow_read(spark, tmp_path):
    p = str(tmp_path / "meta")
    write_meta_rows(spark, p, [(64, 4, 600000, 1.5)], DDL)
    rows = read_meta_rows(spark, p)
    assert rows == [
        {"token_buckets": 64, "id_subbuckets": 4, "n_live": 600000,
         "sum_dl": 1.5}
    ]


def test_missing_table_reads_empty(spark, tmp_path):
    assert read_meta_rows(spark, str(tmp_path / "nope")) == []


def test_overwrite_replaces_previous_row(spark, tmp_path):
    p = str(tmp_path / "meta")
    write_meta_rows(spark, p, [(64, 4, 1, 1.0)], DDL)
    write_meta_rows(spark, p, [(128, 8, 2, 2.0)], DDL)
    rows = read_meta_rows(spark, p)
    assert len(rows) == 1 and rows[0]["token_buckets"] == 128


def test_spark_written_dir_reads_driver_side(spark, tmp_path):
    """A meta dir written by a Spark job (part files + _SUCCESS) must
    read back through the pyarrow fast path — upgrade compatibility for
    every pre-meta_io index on disk."""
    p = str(tmp_path / "meta")
    spark.createDataFrame([(64, 4, 7, 3.25)], DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    assert os.path.exists(os.path.join(p, "_SUCCESS"))
    rows = read_meta_rows(spark, p)
    assert rows == [
        {"token_buckets": 64, "id_subbuckets": 4, "n_live": 7, "sum_dl": 3.25}
    ]


def test_pyarrow_written_dir_reads_through_spark(spark, tmp_path):
    """The reverse direction: Spark must read a pyarrow-written meta dir
    (a reader on a remote-FS deployment, or any external tool)."""
    p = str(tmp_path / "meta")
    write_meta_rows(spark, p, [(32, 2, 11, 0.5)], DDL)
    got = spark.read.parquet(p).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["token_buckets"], r["id_subbuckets"], r["n_live"], r["sum_dl"]) \
        == (32, 2, 11, 0.5)
    # Spark sees the DDL's exact types (int vs long preserved)
    assert dict(spark.read.parquet(p).dtypes) == {
        "token_buckets": "int", "id_subbuckets": "int",
        "n_live": "bigint", "sum_dl": "double",
    }


def test_array_columns_read_driver_side(spark, tmp_path):
    """read_meta_rows is schema-free and must handle non-flat columns —
    the IVF centroid table (cell int, centroid array<double>) reads
    through it on every indexed ANN query."""
    p = str(tmp_path / "centroids")
    spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    rows = sorted(read_meta_rows(spark, p), key=lambda r: r["cell"])
    assert rows[0]["centroid"] == [0.0, 1.0]
    assert rows[1]["centroid"] == [1.0, 0.0]


def test_write_rejects_nested_ddl(spark, tmp_path):
    """Writes are flat-primitive only by contract — a nested DDL must
    fail loudly, not silently mis-map."""
    with pytest.raises(KeyError):
        write_meta_rows(
            spark, str(tmp_path / "m"), [([1],)], "xs array<int>"
        )


def test_overwrite_is_atomic_in_place(spark, tmp_path):
    """The swap replaces the canonical part file inside the existing
    directory — the dir NEVER disappears, so a lock-free reader racing
    the rewrite can see the old row or the new row but never []
    (ADVICE r10: the staged-dir rename had a rmtree->rename window)."""
    p = str(tmp_path / "meta")
    write_meta_rows(spark, p, [(64, 4, 100, 5.0)], DDL)
    ino_dir = os.stat(p).st_ino
    write_meta_rows(spark, p, [(64, 4, 200, 9.0)], DDL)
    assert os.stat(p).st_ino == ino_dir  # same directory, swapped file
    files = [f for f in os.listdir(p) if not f.startswith((".", "_"))]
    assert files == ["part-00000-meta.parquet"]
    assert read_meta_rows(spark, p)[0]["n_live"] == 200


def test_concurrent_reader_never_sees_empty(spark, tmp_path):
    """The ADVICE-r10 regression pin: a lock-free reader racing the
    atomic in-place swap sees the old row or the new row, NEVER [] —
    the old staged-dir rename had a rmtree->rename window in which
    query_postings silently skipped the whole compacted base."""
    import threading

    p = str(tmp_path / "meta_race")
    write_meta_rows(spark, p, [(64, 4, 0, 0.0)], DDL)
    stop = threading.Event()
    failures = []

    def writer():
        i = 0
        while not stop.is_set():
            i += 1
            write_meta_rows(spark, p, [(64, 4, i, float(i))], DDL)

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    try:
        for _ in range(300):
            rows = read_meta_rows(spark, p)
            if len(rows) != 1:
                failures.append(rows)
    finally:
        stop.set()
        t.join(timeout=30)
    assert not failures, f"reader saw non-1-row meta: {failures[:3]}"
