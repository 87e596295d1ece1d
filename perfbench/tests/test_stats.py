import pytest

from stats import covered, geomean


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_geomean_is_not_moved_by_one_rank_swap():
    # the median of an even, gapped sample jumps when two ops trade
    # places around the middle; the geometric mean moves by their ratio
    a = [0.5] * 9 + [1.0, 1.4] + [2.0] * 9
    b = [0.5] * 9 + [1.05, 1.4] + [2.0] * 9
    assert geomean(b) / geomean(a) == pytest.approx(1.05 ** (1 / 20))


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0
    assert covered([(2, 3), (0, 10)], 0, 10) == 10
