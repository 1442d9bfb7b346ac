"""The one publish step for stored state.

Every writer that replaces directories of a stored-state root (the
partitioned mirror, the search and vector indexes, a materialized
view) stages the new pieces in a sibling of the root
(:func:`staging`) and publishes them with :func:`publish`, inside
:func:`writing`:

1. **plan** — the ordered steps ``(live, staged_or_None)`` are written
   atomically to ``<root>/_PUBLISH.json`` (dot-temp + ``os.replace``);
2. **steps** — in order, ``live`` is retired into ``<root>/.trash`` and
   ``staged`` renamed into its place (parent dirs created). A step with
   no staged path only retires;
3. **done** — the plan is removed and the staging dir deleted.

**Recovery.** :func:`writing` takes the root's lock and, before the
writer touches anything, replays a plan a crash left behind. Replay is
idempotent: a step whose staged path is already gone has been done,
and retiring a missing path is a no-op. So a crash at any rename
leaves a plan that the next writer of the root completes — the replayed
batch or re-run compaction then converges on the crash-free state.

**Trash.** Retired files and dirs stay in the dot-prefixed ``.trash``
(invisible to Spark's listing) for ``TRASH_GRACE_SECONDS`` — the
operator's undo window for a bad merge — and are GC'd by later
publishes. This is recovery, not reader snapshot isolation: Spark
readers pin file paths at planning, so a scan racing a publish can fail
with FAILED_READ_FILE and must re-plan.

**Other filesystems.** The steps are local renames. On HDFS, swap
``os.rename``/``os.replace`` here for the Hadoop FileSystem API (rename
is atomic there); on S3, stage to a new prefix and publish a pointer.
Only this module changes.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager
from typing import Iterator

PLAN_FILE = "_PUBLISH.json"
TRASH_DIR = ".trash"

#: how long retired files and dirs are kept in ``.trash`` after a
#: publish — the operator's recovery window
TRASH_GRACE_SECONDS = 300.0

# In-process serialization of the writers of one root: the daemon's
# watchdog compacts on its own thread while foreachBatch merges on the
# stream thread. A multi-driver deployment serializes maintenance
# through its table format or job scheduler.
_LOCKS: dict[str, threading.RLock] = {}
_LOCKS_GUARD = threading.Lock()


def _path_lock(path: str) -> threading.RLock:
    # RLock: public entry points lock the whole read→transform→publish
    # span while inner helpers re-enter the same root's lock
    key = os.path.abspath(path)
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.RLock())


def staging(root: str, tag: str) -> str:
    """The staging sibling ``<root>.<tag>`` a writer builds its new
    pieces in, cleared of whatever a crashed writer left there."""
    path = root.rstrip("/") + "." + tag
    shutil.rmtree(path, ignore_errors=True)
    return path


@contextmanager
def writing(root: str) -> Iterator[None]:
    """Hold ``root``'s writer lock, completing any publish a crash left
    unfinished before the body runs."""
    with _path_lock(root):
        plan = os.path.join(root, PLAN_FILE)
        if os.path.exists(plan):
            with open(plan) as f:
                _apply(root, json.load(f))
        yield


def publish(
    root: str, steps: list[tuple[str, str | None]], staging: str | None = None
) -> None:
    """Make the staged paths live, in step order, crash-recoverably.
    ``steps`` are ``(live, staged_or_None)``; a staged path that does not
    exist counts as None (retire only). Call inside :func:`writing`."""
    plan = {
        "steps": [
            [
                os.path.relpath(live, root),
                os.path.relpath(staged, root)
                if staged is not None and os.path.exists(staged)
                else None,
            ]
            for live, staged in steps
        ],
        "staging": os.path.relpath(staging, root) if staging else None,
    }
    tmp = os.path.join(root, f".{PLAN_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(plan, f)
    os.replace(tmp, os.path.join(root, PLAN_FILE))
    _apply(root, plan)


def _apply(root: str, plan: dict) -> None:
    for live, staged in plan["steps"]:
        live = os.path.join(root, live)
        if staged is None:
            _retire(live, root)
            continue
        staged = os.path.join(root, staged)
        if not os.path.exists(staged):
            continue  # done before the crash
        _retire(live, root)
        os.makedirs(os.path.dirname(live), exist_ok=True)
        os.rename(staged, live)
    os.remove(os.path.join(root, PLAN_FILE))
    if plan["staging"]:
        shutil.rmtree(os.path.join(root, plan["staging"]), ignore_errors=True)
    _gc_trash(root)


def _retire(path: str, root: str) -> None:
    """Move a replaced file or dir into ``root``'s trash."""
    if not os.path.lexists(path):
        return
    trash = os.path.join(root, TRASH_DIR)
    os.makedirs(trash, exist_ok=True)
    ts = time.time_ns()
    name = os.path.basename(path)
    while os.path.lexists(os.path.join(trash, f"{ts}-{name}")):
        ts += 1  # a same-named path retired in the same nanosecond
    os.rename(path, os.path.join(trash, f"{ts}-{name}"))


def _gc_trash(root: str, grace_s: float = TRASH_GRACE_SECONDS) -> None:
    trash = os.path.join(root, TRASH_DIR)
    if not os.path.isdir(trash):
        return
    cutoff = time.time_ns() - int(grace_s * 1e9)
    for entry in os.listdir(trash):
        try:
            ts = int(entry.split("-", 1)[0])
        except ValueError:
            ts = 0
        if ts < cutoff:
            p = os.path.join(trash, entry)
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
