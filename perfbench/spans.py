"""Per-layer tracing for the traced run.

Spans are recorded from the benchmark's own files: :class:`Recorder`
replaces a layer's public entry point, as a module attribute, with a
wrapper that records ``(layer, start, end)`` and sets the Spark job
group on the calling thread, so every Spark job the call launches is
tagged with the span. Names a module binds at import time (for example
``partitioned`` importing ``latest_changes``) are wrapped where the
caller holds them. Spark's event log (uncompressed, rolling
``eventlog_v2_*`` directory) is rolled up per span by a stdlib parser.

Self time is a span's wall time minus the part its child spans cover;
the driver gap is self time minus the union of the wall times of the
stages its own jobs ran. Summed over every span, self time equals the
traced wall time, which is the reconciliation check.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

EPS = 0.005  # seconds: event-log timestamps have millisecond resolution


class Span:
    __slots__ = ("layer", "start", "end", "group", "extra", "children")

    def __init__(self, layer: str, start: float, end: float, group: str | None):
        self.layer, self.start, self.end, self.group = layer, start, end, group
        self.extra: dict[str, float] = {}
        self.children: list[Span] = []

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Keeps spans in memory; :meth:`rollup` turns them into the table."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str):
        t_in = time.perf_counter()
        group = f"pb-{next(self._ids)}"
        stack = self._local.__dict__.setdefault("stack", [])
        self.sc.setJobGroup(group, layer)
        stack.append(group)
        s = Span(layer, time.time(), 0.0, group)
        self.bookkeeping_s += time.perf_counter() - t_in
        try:
            yield s
        finally:
            t_out = time.perf_counter()
            s.end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1], layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(s)
            self.bookkeeping_s += time.perf_counter() - t_out

    def wrap(self, module, attr: str, layer: str, on_call=None, before=None) -> None:
        """Replace ``module.attr`` by a span-recording wrapper.
        ``on_call(span, result, state)`` may add counters; ``state`` is
        what ``before()`` returned just before the call (or None)."""
        fn = getattr(module, attr)
        rec = self

        def wrapper(*args, **kwargs):
            with rec.span(layer) as s:
                t0 = time.perf_counter()
                state = before() if before is not None else None
                rec.bookkeeping_s += time.perf_counter() - t0
                result = fn(*args, **kwargs)
                if on_call is not None:
                    t0 = time.perf_counter()
                    on_call(s, result, state)
                    rec.bookkeeping_s += time.perf_counter() - t0
                return result

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def add_span(self, layer: str, start: float, end: float, **extra) -> Span:
        """A span observed from outside (a streaming trigger's progress)."""
        s = Span(layer, start, end, None)
        s.extra.update(extra)
        with self._lock:
            self.spans.append(s)
        return s

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


# -- event log --------------------------------------------------------------
def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application logged under ``log_dir``
    (Spark 4's rolling ``eventlog_v2_*/events_<n>_*`` files, in order)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def job_table(events: list[dict]) -> list[dict]:
    """One row per job: group, submission time, stage intervals and the
    task metrics summed over its stages."""
    stage_iv: dict[int, tuple[float, float]] = {}
    stage_m: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs.append({
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0,
                "stages": e["Stage IDs"],
            })
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_iv[info["Stage ID"]] = (
                    info["Submission Time"] / 1000.0,
                    info["Completion Time"] / 1000.0,
                )
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            m = stage_m[e["Stage ID"]]
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            m["written_bytes"] += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
    for j in jobs:
        j["intervals"] = [stage_iv[s] for s in j["stages"] if s in stage_iv]
        j["metrics"] = {
            k: sum(stage_m[s][k] for s in j["stages"] if s in stage_m)
            for k in ("task_cpu_s", "shuffle_bytes", "written_bytes")
        }
    return jobs


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- rollup -----------------------------------------------------------------
def nest(spans: list[Span]) -> list[Span]:
    """Build the span tree by time containment (the traced work is one
    chain of synchronous calls, whichever thread runs it); returns the
    roots."""
    roots: list[Span] = []
    stack: list[Span] = []
    for s in sorted(spans, key=lambda s: (s.start, -s.end)):
        while stack and s.end > stack[-1].end + EPS:
            stack.pop()
        (stack[-1].children if stack else roots).append(s)
        stack.append(s)
    return roots


def _innermost(span: Span, t: float) -> Span:
    for c in span.children:
        if c.start - EPS <= t <= c.end + EPS:
            return _innermost(c, t)
    return span


COUNTERS = ("calls", "wall_s", "self_s", "jobs", "task_cpu_s",
            "shuffle_bytes", "written_bytes", "driver_gap_s")


def rollup(root: Span, spans: list[Span], jobs: list[dict]) -> dict:
    """Per layer: the standard counters plus any span extras (summed).
    ``root`` must contain every span; jobs are attributed by job group
    and, for jobs without a known group, to the innermost span covering
    their submission time."""
    root.children = nest(spans)
    by_group = {s.group: s for s in spans if s.group}
    own: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        s = by_group.get(j["group"])
        if s is None:
            if not root.start - EPS <= j["submit"] <= root.end + EPS:
                continue
            s = _innermost(root, j["submit"])
        own[id(s)].append(j)

    table: dict[str, dict[str, float]] = defaultdict(
        lambda: {k: 0.0 for k in COUNTERS}
    )

    def visit(s: Span) -> None:
        row = table[s.layer]
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in s.children]
        )
        self_s = max(0.0, s.wall - covered)
        my_jobs = own.get(id(s), [])
        stage_time = union_length([
            (max(a, s.start), min(b, s.end))
            for j in my_jobs for a, b in j["intervals"]
            if min(b, s.end) > max(a, s.start)
        ])
        row["calls"] += 1
        row["wall_s"] += s.wall
        row["self_s"] += self_s
        row["jobs"] += len(my_jobs)
        row["driver_gap_s"] += self_s - stage_time
        for j in my_jobs:
            for k, v in j["metrics"].items():
                row[k] += v
        for k, v in s.extra.items():
            row[k] = row.get(k, 0.0) + v
        for c in s.children:
            visit(c)

    visit(root)
    return dict(table)
