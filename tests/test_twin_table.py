"""The index-twin table behind the feed pipeline and the daemon: every
entry point a twin reaches is looked up through its module when it is
called, so a wrapper set as a module attribute (the tracing seam the
per-layer benchmark installs) sees the call."""

import json

from couch_to_postgres_spark.sources.changes import write_change_log
from couch_to_postgres_spark.streaming import search_stream as ss
from couch_to_postgres_spark.streaming import vector_stream as vs
from couch_to_postgres_spark.streaming.pipeline import TWINS, follow


def _counting(monkeypatch, module, attr, calls):
    real = getattr(module, attr)

    def wrapper(*args, **kwargs):
        calls[attr] = calls.get(attr, 0) + 1
        return real(*args, **kwargs)

    monkeypatch.setattr(module, attr, wrapper)


def test_module_attribute_wrappers_see_every_twin_call(
    spark, tmp_path, monkeypatch
):
    """One ``availableNow`` trigger with the search and vector twins on
    reaches ``search_index_batch`` and, on an empty vector index with
    more upserts than cells, ``append_pending``, ``flush_pending`` and
    (from the flush) ``vector_index_batch``. The twins' table folds then
    reach both compactors."""
    calls: dict[str, int] = {}
    for module, attr in (
        (ss, "search_index_batch"),
        (vs, "vector_index_batch"),
        (vs, "append_pending"),
        (vs, "flush_pending"),
        (ss, "compact_index_incremental"),
        (vs, "compact_vector_index_incremental"),
    ):
        _counting(monkeypatch, module, attr, calls)
    docs = [
        (i, f"d{i}", False, json.dumps({
            "_id": f"d{i}", "_rev": "1-a", "text": f"alpha word{i}",
            "embedding": [float(i), float(4 - i)],
        }))
        for i in range(1, 5)
    ]
    write_change_log(
        spark.createDataFrame(
            docs, "seq long, id string, deleted boolean, doc string"
        ),
        str(tmp_path / "log"),
        num_files=1,
    )
    sidx, vidx = str(tmp_path / "sidx"), str(tmp_path / "vidx")
    q = follow(
        spark, str(tmp_path / "log"), str(tmp_path / "mirror"),
        str(tmp_path / "ckpt"), search_index_path=sidx,
        vector_index_path=vidx, vector_cells=2,
    )
    q.awaitTermination()
    assert q.exception() is None
    assert calls == {
        "search_index_batch": 1,
        "append_pending": 1,
        "flush_pending": 1,
        "vector_index_batch": 1,
    }
    assert vs.vector_index_status(spark, vidx)["live_vectors"] == 4
    folds = {t.name: t.fold for t in TWINS}
    folds["search"](spark, sidx)
    folds["vector"](spark, vidx)
    assert calls["compact_index_incremental"] == 1
    assert calls["compact_vector_index_incremental"] == 1
