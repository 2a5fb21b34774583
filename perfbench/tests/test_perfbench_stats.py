import math

import pytest

from stats import MIN_TAIL, Ledger, Spans, median, min_samples, percentile, slope


def test_min_samples_leaves_ten_beyond():
    assert min_samples(50) == 20
    assert min_samples(90) == 100
    assert min_samples(99) == 1000
    for q in (50, 75, 90, 95, 99):
        n = min_samples(q)
        # at least MIN_TAIL samples rank above the q-th percentile's rank
        assert n - math.ceil(q / 100 * n) >= MIN_TAIL
        assert (n - 1) - math.ceil(q / 100 * (n - 1)) < MIN_TAIL


def test_percentile_refuses_thin_tails():
    with pytest.raises(ValueError, match="needs at least 20"):
        percentile(list(range(19)), 50)
    with pytest.raises(ValueError, match="needs at least 100"):
        percentile(list(range(99)), 90)
    with pytest.raises(ValueError):
        percentile(list(range(200)), 100)


def test_percentile_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(list(reversed(vals)), 90) == 90
    assert percentile([5.0] * 20, 50) == 5.0


def test_median_and_slope():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])
    assert slope([0, 1, 2], [1, 3, 5]) == pytest.approx(2.0)
    assert slope([1], [7]) == 0.0
    assert slope([2, 2], [1, 5]) == 0.0


def test_speed_probe_scales_by_the_samples_in_the_interval():
    from stats import SpeedProbe

    probe = SpeedProbe()
    assert probe.speed_scale(0.0, 10.0) == 1.0  # no samples yet
    probe.samples = [(1.0, 2e-3), (2.0, 2e-3), (3.0, 4e-3), (20.0, 1e-3)]
    assert probe.cost(0.0, 10.0) == 2e-3
    # a host twice as slow as the reference halves the CPU seconds
    assert probe.speed_scale(0.0, 10.0) == 0.5
    # no sample inside: the nearest ones stand in
    assert probe.cost(19.0, 19.5) == 2e-3
    with SpeedProbe(interval=0.01) as live:
        import time

        time.sleep(0.1)
    assert live.samples and all(c > 0 for _, c in live.samples)
