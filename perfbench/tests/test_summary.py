import pytest

import summary


def test_union_counts_overlaps_once():
    assert summary.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert summary.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert summary.union_length([(3, 4), (0, 1)]) == 2
    assert summary.union_length([]) == 0


def test_union_clips_to_the_call_window():
    # a job that started before the call and one that ended after it
    assert summary.union_length([(-1, 1), (2, 5)], lo=0, hi=4) == 3
    # entirely outside the window
    assert summary.union_length([(5, 6)], lo=0, hi=4) == 0


def test_union_touching_intervals_merge():
    assert summary.union_length([(0, 1), (1, 2)]) == 2


def test_timing_summary_reports_sample_count_and_no_tail_when_few():
    s = summary.timing_summary([3.0])
    assert s == {"n": 1, "median": 3.0, "tail_p": None, "tail": None}
    s = summary.timing_summary([1.0, 2.0, 10.0])
    assert s["n"] == 3 and s["median"] == 2.0 and s["tail_p"] is None


@pytest.mark.parametrize("n, p", [(39, None), (40, 75.0), (100, 90.0),
                                  (199, 90.0), (200, 95.0), (1000, 99.0),
                                  (10000, 99.9)])
def test_timing_summary_tail_has_ten_samples_beyond(n, p):
    xs = [float(i) for i in range(n)]
    s = summary.timing_summary(xs)
    assert s["tail_p"] == p
    if p is not None:
        beyond = sum(1 for x in xs if x > s["tail"])
        assert beyond >= summary.MIN_BEYOND


def test_percentile_interpolates():
    assert summary.percentile([0.0, 10.0], 50) == 5.0
    assert summary.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        summary.percentile([], 50)
