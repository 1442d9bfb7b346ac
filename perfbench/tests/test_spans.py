"""The event-log rollup on a canned two-file log: jobs go to the span
whose job group they carry, group-less jobs to the innermost span
covering their submission, and self times reconcile with wall time."""

import os

import pytest

import spans

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


def test_event_log_rollup():
    events = spans.read_event_log(FIXTURE)
    assert events[0]["Event"] == "SparkListenerLogStart"
    assert events[-1]["Event"] == "SparkListenerApplicationEnd"
    jobs = spans.job_table(events)
    assert len(jobs) == 4

    root = spans.Span("root", 1000.0, 1010.0, None)
    a = spans.Span("layer.a", 1001.0, 1005.0, "pb-0")
    b = spans.Span("layer.b", 1002.0, 1003.0, "pb-1")
    b.extra["rows"] = 5.0
    table = spans.rollup(root, [b, a], jobs)

    tb = table["layer.b"]
    assert tb["calls"] == 1 and tb["jobs"] == 1 and tb["rows"] == 5.0
    assert tb["wall_s"] == pytest.approx(1.0) and tb["self_s"] == pytest.approx(1.0)
    assert tb["task_cpu_s"] == pytest.approx(0.3)
    assert tb["shuffle_bytes"] == 10 and tb["written_bytes"] == 1000
    assert tb["driver_gap_s"] == pytest.approx(0.2)  # stages 1 and 2 overlap

    ta = table["layer.a"]
    assert ta["wall_s"] == pytest.approx(4.0) and ta["self_s"] == pytest.approx(3.0)
    assert ta["jobs"] == 2  # its own group, plus a group-less job inside it
    assert ta["task_cpu_s"] == pytest.approx(0.55)
    assert ta["shuffle_bytes"] == 150
    assert ta["driver_gap_s"] == pytest.approx(3.0 - 0.6 - 0.2)

    tr = table["root"]
    assert tr["self_s"] == pytest.approx(6.0) and tr["jobs"] == 1
    assert tr["driver_gap_s"] == pytest.approx(5.5)
    assert sum(r["self_s"] for r in table.values()) == pytest.approx(root.wall)


def test_union_length_merges_overlaps():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([]) == 0
