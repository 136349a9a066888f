import pytest

from perfbench.stats import TAIL_BEYOND, geomean, median, percentile, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (11, 9), (20, 50), (25, 60), (30, 66), (40, 75), (100, 90), (1000, 99)],
)
def test_tail_percentile_rule(n, expected):
    assert tail_percentile(n) == expected


@pytest.mark.parametrize("n", range(11, 400))
def test_tail_percentile_leaves_ten_beyond_and_is_highest(n):
    values = list(range(n))
    p = tail_percentile(n)
    beyond = sum(v > percentile(values, p) for v in values)
    assert beyond >= TAIL_BEYOND
    if p < 100:
        assert sum(v > percentile(values, p + 1) for v in values) < TAIL_BEYOND


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 100) == 5.0
    assert percentile(values, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        geomean([])
