import pytest

import metrics


def test_tail_needs_more_than_ten_samples():
    assert metrics.tail_percentile([1.0] * 10) is None
    assert metrics.tail_percentile([]) is None


@pytest.mark.parametrize("n, pct", [(11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # any order
    p, value = metrics.tail_percentile(samples)
    assert p == pct
    beyond = [s for s in samples if s > value]
    assert len(beyond) >= 10
    # one percent higher leaves fewer than ten beyond
    if p < 99:
        rank = -(-n * (p + 1) // 100)
        assert n - rank < 10


def test_median():
    assert metrics.median([3.0, 1.0, 2.0]) == 2.0
    assert metrics.median([1.0, 2.0]) == 1.5
