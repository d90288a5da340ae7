import pytest

from perfbench import stats


def test_percentile_interpolates_like_numpy():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert stats.percentile(xs, 50) == 25.0
    assert stats.percentile(xs, 0) == 10.0
    assert stats.percentile(xs, 100) == 40.0
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_geomean_and_equal_key_weight():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    # a key with many samples weighs the same as a key with one
    many = {"a": [100.0] * 9, "b": [1.0]}
    assert stats.per_key_geomean(many) == pytest.approx(10.0)

