"""The one publish step (``streaming.commit``): plan, steps, recovery
on the next ``writing``, and the trash grace window — exercised on
plain directory trees, no Spark."""

import json
import os

import pytest

from couch_to_postgres_spark.streaming import partitioned
from couch_to_postgres_spark.streaming.commit import (
    PLAN_FILE,
    _gc_trash,
    publish,
    writing,
)


class Crash(Exception):
    pass


def _tree(root):
    """{relpath: content} of every file under ``root`` outside the trash."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != ".trash"]
        for f in files:
            p = os.path.join(d, f)
            with open(p) as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _put(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def _layout(tmp_path):
    """A root with two live dirs, a live file and a dir to retire, plus
    a staging sibling holding the replacements (one brand-new dir)."""
    root, staging = str(tmp_path / "root"), str(tmp_path / "root.staging")
    for name in ("a", "b", "gone"):
        _put(os.path.join(root, name, "part"), f"old {name}")
    _put(os.path.join(root, "meta.json"), "old meta")
    for name in ("a", "b", "x/new"):
        _put(os.path.join(staging, name, "part"), f"new {name}")
    _put(os.path.join(staging, "meta.json"), "new meta")
    steps = [
        (os.path.join(root, "a"), os.path.join(staging, "a")),
        (os.path.join(root, "b"), os.path.join(staging, "b")),
        (os.path.join(root, "x", "new"), os.path.join(staging, "x", "new")),
        (os.path.join(root, "gone"), None),
        (os.path.join(root, "meta.json"), os.path.join(staging, "meta.json")),
    ]
    return root, staging, steps


WANT = {
    "a/part": "new a",
    "b/part": "new b",
    "x/new/part": "new x/new",
    "meta.json": "new meta",
}


def test_publish_applies_steps_and_keeps_replaced_in_trash(tmp_path):
    root, staging, steps = _layout(tmp_path)
    with writing(root):
        publish(root, steps, staging)
    assert _tree(root) == WANT
    assert not os.path.exists(staging)
    assert not os.path.exists(os.path.join(root, PLAN_FILE))
    retired = sorted(n.split("-", 1)[1] for n in os.listdir(os.path.join(root, ".trash")))
    assert retired == ["a", "b", "gone", "meta.json"]


def test_missing_staged_path_only_retires(tmp_path):
    root, staging, _ = _layout(tmp_path)
    with writing(root):
        publish(root, [(os.path.join(root, "a"), os.path.join(staging, "nope"))])
    assert not os.path.exists(os.path.join(root, "a"))


def test_crash_at_every_rename_is_completed_by_next_writer(tmp_path, monkeypatch):
    real = os.rename
    n_renames = 0

    def count(src, dst):
        nonlocal n_renames
        n_renames += 1
        real(src, dst)

    root, staging, steps = _layout(tmp_path / "clean")
    monkeypatch.setattr(os, "rename", count)
    with writing(root):
        publish(root, steps, staging)
    monkeypatch.setattr(os, "rename", real)
    assert n_renames == 8  # 4 live paths retired, 4 staged paths moved in

    for k in range(n_renames):
        root, staging, steps = _layout(tmp_path / f"k{k}")
        calls = 0

        def crash(src, dst):
            nonlocal calls
            if calls == k:
                raise Crash(k)
            calls += 1
            real(src, dst)

        monkeypatch.setattr(os, "rename", crash)
        with pytest.raises(Crash), writing(root):
            publish(root, steps, staging)
        monkeypatch.setattr(os, "rename", real)
        assert os.path.exists(os.path.join(root, PLAN_FILE))
        with writing(root):  # the next writer completes the plan first
            assert _tree(root) == WANT, k
        assert not os.path.exists(staging)
        assert not os.path.exists(os.path.join(root, PLAN_FILE))


def test_recovery_survives_a_crash_during_recovery(tmp_path, monkeypatch):
    root, staging, steps = _layout(tmp_path)
    real = os.rename
    calls = 0

    def crash_at_1_then_3(src, dst):
        nonlocal calls
        calls += 1
        if calls in (1, 3):
            raise Crash()
        real(src, dst)

    monkeypatch.setattr(os, "rename", crash_at_1_then_3)
    with pytest.raises(Crash), writing(root):
        publish(root, steps, staging)
    with pytest.raises(Crash), writing(root):
        pass
    monkeypatch.setattr(os, "rename", real)
    with writing(root):
        assert _tree(root) == WANT


def test_gc_removes_expired_files_and_dirs(tmp_path):
    root = str(tmp_path / "root")
    _put(os.path.join(root, "d", "part"), "x")
    _put(os.path.join(root, "f.json"), "y")
    with writing(root):
        publish(root, [(os.path.join(root, "d"), None), (os.path.join(root, "f.json"), None)])
    trash = os.path.join(root, ".trash")
    assert len(os.listdir(trash)) == 2  # inside the grace window
    _gc_trash(root, grace_s=0.0)
    assert os.listdir(trash) == []


def test_write_meta_is_atomic(tmp_path, monkeypatch):
    """A crash mid-dump leaves the previous meta readable, never
    truncated JSON (which read_meta would refuse on every later merge)."""
    path = str(tmp_path / "m")
    os.makedirs(path)
    before = {"num_buckets": 8, "total_rows": 10, "delta_rows": 0}
    partitioned.write_meta(path, before)

    def torn_dump(obj, fh):
        fh.write('{"num_buckets": 8, "tot')
        raise Crash()

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(Crash):
        partitioned.write_meta(path, {**before, "total_rows": 11})
    monkeypatch.undo()
    assert partitioned.read_meta(path) == before

