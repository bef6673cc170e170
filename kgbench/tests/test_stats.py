from kgbench import stats


def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 100))  # 99 samples: only 9 lie beyond p90
    assert stats.tail_percentile(xs, 90) is None
    xs = list(range(1, 101))  # 100 samples: 10 lie beyond p90
    assert stats.tail_percentile(xs, 90) == 90
    assert stats.tail_percentile(xs, 99) is None
    assert stats.tail_percentile(list(range(1000)), 99) == 989


def test_nearest_rank_and_median():
    assert stats.nearest_rank([5, 1, 3], 50) == 3
    assert stats.nearest_rank([5, 1, 3], 100) == 5
    assert stats.median([4, 1, 3, 2]) == 2.5

