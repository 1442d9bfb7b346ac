"""Stored-state opens and row counts from parquet footers: every stored
component opens with zero Spark jobs and Spark's own schema, footer row
counts equal Spark's ``count()``, and anything the footers cannot
answer (missing path, empty dir, non-local scheme) takes Spark's route
unchanged. Also pins the partitioned mirror's job budget and its
footer-based row accounting."""

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from couch_to_postgres_spark.functions.json import json_get
from couch_to_postgres_spark.operators.mirror import CHANGES_SCHEMA
from couch_to_postgres_spark.streaming.meta_io import open_parquet, parquet_rows
from couch_to_postgres_spark.streaming.partitioned import (
    compact_mirror,
    read_meta,
    read_partitioned_mirror,
    upsert_partitioned_mirror,
    validate_mirror,
)
from couch_to_postgres_spark.streaming.search_stream import (
    compact_index_inplace,
    search_index_batch,
)
from couch_to_postgres_spark.streaming.vector_stream import (
    compact_vector_index_incremental,
    init_vector_index,
    vector_index_batch,
)

N_BUCKETS = 4


def _jobs(spark, fn):
    """``fn()``'s result and the Spark jobs it launched (the scheduler's
    job-id delta)."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = fn()
    return out, sched.nextJobId() - before


def _doc(i, kind):
    return f'{{"_id": "d{i}", "type": "{kind}", "n": {i}}}'


def _mirror_changes(spark, rows):
    return spark.createDataFrame(rows, CHANGES_SCHEMA)


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    """A mirror (base + ``_delta`` + ``_views`` + ``.trash``), a search
    index and a vector index, each with a compacted base plus a tail
    and tombstones."""
    root = tmp_path_factory.mktemp("stored_state")
    mirror = str(root / "mirror")
    upsert_partitioned_mirror(
        spark,
        mirror,
        _mirror_changes(
            spark, [(i, f"d{i}", False, _doc(i, "a")) for i in range(40)]
        ),
        N_BUCKETS,
        count_views={"by_type": json_get("doc", "type")},
    )
    # a bucket rewrite retires the replaced dirs into .trash
    upsert_partitioned_mirror(
        spark,
        mirror,
        _mirror_changes(spark, [(41, "d1", False, _doc(1, "b"))]),
        N_BUCKETS,
        count_views={"by_type": json_get("doc", "type")},
        mode="rewrite",
    )
    upsert_partitioned_mirror(
        spark,
        mirror,
        _mirror_changes(
            spark,
            [(42, "d2", False, _doc(2, "b")), (43, "d3", True, None),
             (44, "d50", False, _doc(50, "c"))],
        ),
        N_BUCKETS,
        count_views={"by_type": json_get("doc", "type")},
        mode="delta",
    )

    search = str(root / "search")
    texts = ["spark window rows", "merge rows feed", "couch changes feed",
             "spark shuffle tuning", "window late rows"]
    search_index_batch(spark, search, spark.createDataFrame(
        [(i, i, False, t) for i, t in enumerate(texts, start=1)],
        "seq long, doc_id long, deleted boolean, text string",
    ))
    compact_index_inplace(spark, search)
    search_index_batch(spark, search, spark.createDataFrame(
        [(10, 1, False, "spark rows again"), (11, 2, True, None)],
        "seq long, doc_id long, deleted boolean, text string",
    ))

    vector = str(root / "vector")
    anchors = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
    init_vector_index(spark, vector, centroids=anchors, assigner="hof")
    schema = "seq long, vec_id long, deleted boolean, embedding array<double>"
    vector_index_batch(spark, vector, spark.createDataFrame(
        [(1, 1, False, [0.9, 0.1]), (2, 2, False, [0.1, 0.9]),
         (3, 3, False, [-0.7, 0.2]), (4, 4, False, [0.2, -0.8])],
        schema,
    ))
    compact_vector_index_incremental(spark, vector)
    vector_index_batch(spark, vector, spark.createDataFrame(
        [(5, 1, False, [0.05, 0.95]), (6, 3, True, None)], schema
    ))
    return {"mirror": mirror, "search": search, "vector": vector}


def _components(state):
    m, s, v = state["mirror"], state["search"], state["vector"]
    return [
        m,
        os.path.join(m, "_delta"),
        os.path.join(m, "_views", "by_type"),
        *(os.path.join(s, c) for c in (
            "doclen", "postings", "tombstones",
            "base/doclen", "base/postings", "base/dfs",
        )),
        *(os.path.join(v, c) for c in (
            "cells", "tombstones", "base/cells", "base/ids",
        )),
    ]


def test_fixture_has_every_sibling_kind(state):
    m = state["mirror"]
    for sibling in ("_delta", "_views", ".trash", "_mirror_meta.json"):
        assert os.path.exists(os.path.join(m, sibling)), sibling
    for c in _components(state):
        assert os.path.isdir(c), c


def test_open_parquet_zero_jobs_and_spark_schema(spark, state):
    for path in _components(state):
        df, n = _jobs(spark, lambda: open_parquet(spark, path))
        assert n == 0, path
        assert df.schema == spark.read.parquet(path).schema, path


def test_parquet_rows_equals_spark_count(spark, state):
    for path in _components(state):
        assert parquet_rows([path]) == spark.read.parquet(path).count(), path


def test_open_parquet_missing_path_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        open_parquet(spark, str(tmp_path / "nope"))
    assert parquet_rows([str(tmp_path / "nope")]) == 0


class _Reader:
    def __init__(self, log):
        self.log = log

    def option(self, key, value):
        self.log.append(("option", key, value))
        return self

    def schema(self, schema):
        self.log.append(("schema",))
        return self

    def parquet(self, *paths):
        self.log.append(("parquet", *paths))
        return self


class _RecordingSpark:
    """Records the reader calls instead of running them."""

    def __init__(self):
        self.log = []

    @property
    def read(self):
        return _Reader(self.log)


def test_empty_dir_and_remote_paths_take_spark_route(spark, tmp_path):
    empty = tmp_path / "empty"
    (empty / "bucket=0").mkdir(parents=True)
    (empty / "_SUCCESS").touch()
    for path in (str(empty), "hdfs://namenode/idx/doclen"):
        rec = _RecordingSpark()
        open_parquet(rec, path)
        assert rec.log == [("parquet", path)]
    # the real reader raises exactly what Spark raises on its own
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        open_parquet(spark, str(empty))
    with pytest.raises(ValueError):
        parquet_rows(["s3a://bucket/idx/doclen"])


def test_base_path_keeps_partition_columns(spark, state):
    m = state["mirror"]
    rec = _RecordingSpark()
    open_parquet(rec, os.path.join(m, "bucket=0"), base_path=m)
    assert rec.log == [
        ("option", "basePath", m), ("schema",),
        ("parquet", os.path.join(m, "bucket=0")),
    ]
    df = open_parquet(spark, os.path.join(m, "bucket=0"), base_path=m)
    assert df.columns == ["id", "doc", "bucket"]


def test_open_parquet_reads_the_footer_spark_inference_reads(spark, tmp_path):
    """Files whose column sets differ (the search ``attrs`` layout):
    Spark's inference without ``mergeSchema`` reads the first data file
    in full-path order across all the paths, and ``open_parquet`` picks
    that same footer — whatever order the paths are passed in."""
    root, named = tmp_path / "attrs", tmp_path / "named"
    layout = {
        ("attrs/id_bucket=10", "part-0.parquet"): "doc_id long, c10 string",
        ("attrs/id_bucket=1", "part-1.parquet"): "doc_id long, c1b string",
        ("attrs/id_bucket=1", "part-0.parquet"): "doc_id long, c1a double",
        ("attrs/id_bucket=2", "part-0.parquet"): "doc_id long, c2 long",
        # `k=a-b/…` sorts before `k=a/…` as a path ('-' < '/')
        ("named/k=a", "part-0.parquet"): "doc_id long, ka long",
        ("named/k=a-b", "part-0.parquet"): "doc_id long, kab long",
    }
    for (d, name), schema in layout.items():
        staged = str(tmp_path / "staged" / d / name)
        spark.createDataFrame([], schema).coalesce(1).write.parquet(staged)
        (part,) = [f for f in os.listdir(staged) if f.endswith(".parquet")]
        os.makedirs(tmp_path / d, exist_ok=True)
        os.rename(os.path.join(staged, part), tmp_path / d / name)
    opens = [
        ([str(root)], None),
        ([str(root / "id_bucket=2"), str(root / "id_bucket=10")], str(root)),
        ([str(root / "id_bucket=2"), str(root / "id_bucket=1")], str(root)),
        ([str(root / "id_bucket=10" / "part-0.parquet")], None),
        ([str(named)], None),
    ]
    for paths, base in opens:
        df, n = _jobs(spark, lambda: open_parquet(spark, *paths, base_path=base))
        reader = spark.read
        if base is not None:
            reader = reader.option("basePath", base)
        assert n == 0, paths
        assert df.schema == reader.parquet(*paths).schema, paths
    assert "c1a" in open_parquet(spark, str(root)).columns
    assert "kab" in open_parquet(spark, str(named)).columns


def test_mirror_read_and_delta_upsert_job_budget(spark, tmp_path):
    """Building the merge-on-read view launches no job (2 before footer
    schemas); a delta-path merge pays only the touched-bucket collect
    and the append write under AQE — 6 jobs, 9 before the footer
    schema and footer row count — and its row accounting matches the
    Spark counts of the layout."""
    path = str(tmp_path / "mirror")
    upsert_partitioned_mirror(
        spark,
        path,
        _mirror_changes(
            spark, [(i, f"d{i}", False, _doc(i, "a")) for i in range(40)]
        ),
        N_BUCKETS,
    )
    upsert_partitioned_mirror(
        spark, path, _mirror_changes(spark, [(40, "d1", True, None)]),
        N_BUCKETS, mode="delta",
    )
    assert _jobs(spark, lambda: read_partitioned_mirror(spark, path))[1] == 0
    _, n = _jobs(spark, lambda: upsert_partitioned_mirror(
        spark, path,
        _mirror_changes(
            spark, [(41, "d2", False, _doc(2, "b")), (42, "d60", False, _doc(60, "c"))]
        ),
        N_BUCKETS, mode="delta",
    ))
    assert n <= 6
    meta = read_meta(path)
    assert meta["delta_rows"] == spark.read.parquet(
        os.path.join(path, "_delta")
    ).count() == 3
    assert meta["total_rows"] == spark.read.parquet(path).count() == 40
    assert read_partitioned_mirror(spark, path).count() == 40


def test_rewrite_and_fold_accounting_matches_spark(spark, tmp_path):
    """The O(touched) accounting (rows swapped in minus rows swapped
    out) agrees with a Spark recount after rewrites and a fold."""
    path = str(tmp_path / "mirror")
    upsert_partitioned_mirror(
        spark,
        path,
        _mirror_changes(
            spark, [(i, f"d{i}", False, _doc(i, "a")) for i in range(40)]
        ),
        N_BUCKETS,
    )
    upsert_partitioned_mirror(
        spark, path,
        _mirror_changes(spark, [(40, "d1", True, None), (41, "d99", False, _doc(99, "a"))]),
        N_BUCKETS, mode="delta",
    )
    upsert_partitioned_mirror(
        spark, path,
        _mirror_changes(
            spark,
            [(42, "d5", True, None), (43, "d6", True, None),
             (44, "d70", False, _doc(70, "b"))],
        ),
        N_BUCKETS, mode="rewrite",
    )

    def check():
        meta = read_meta(path)
        delta = os.path.join(path, "_delta")
        delta_rows = (
            spark.read.parquet(delta).count() if parquet_rows([delta]) else 0
        )
        assert meta["total_rows"] == spark.read.parquet(path).count()
        assert meta["delta_rows"] == delta_rows
        assert validate_mirror(spark, path)["ok"]

    check()
    compact_mirror(spark, path, force_fold=True)
    check()
    assert read_meta(path)["delta_rows"] == 0
    live = {r["id"] for r in read_partitioned_mirror(spark, path).collect()}
    assert live == ({f"d{i}" for i in range(40)} - {"d1", "d5", "d6"}) | {
        "d99", "d70"
    }
    assert read_meta(path)["total_rows"] == len(live)


def test_read_partitioned_mirror_equals_spark_inferred_view(spark, state):
    m = state["mirror"]
    got = read_partitioned_mirror(spark, m)
    base = spark.read.parquet(m).drop("bucket")
    assert got.schema == base.schema
    assert got.filter(F.col("id") == "d3").count() == 0  # deleted in delta
    assert got.count() == 40  # d0..d39, minus d3, plus d50
