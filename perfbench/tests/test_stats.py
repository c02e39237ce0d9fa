import pytest

import stats


def test_percentile_interpolates_between_closest_ranks():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == pytest.approx(50.5)
    assert stats.percentile(values, 95) == pytest.approx(95.05)
    assert stats.percentile(values, 100) == 100
    assert stats.percentile(values, 0) == 1
    assert stats.percentile([7.0], 95) == 7.0
    assert stats.percentile([3, 1, 2], 50) == 2  # unsorted input
    assert stats.percentile([10, 20], 25) == pytest.approx(12.5)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1], 101)


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (37, 50.0), (38, 75.0), (91, 75.0), (92, 90.0),
     (181, 90.0), (182, 95.0), (901, 95.0), (902, 99.0), (10000, 99.9)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected
    if expected is not None:
        assert stats.samples_beyond(n, expected) >= stats.MIN_BEYOND
        values = list(range(n))
        cut = stats.percentile(values, expected)
        assert sum(v > cut for v in values) >= stats.MIN_BEYOND

