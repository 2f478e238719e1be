"""Self time and job-interval union of a span."""

import pytest

from perfbench.spans import self_and_child_time, union_length


def test_union_of_overlapping_intervals():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_union_of_nested_and_touching_intervals():
    assert union_length([(0, 10), (2, 3), (10, 12)]) == pytest.approx(12.0)


def test_union_ignores_empty_intervals():
    assert union_length([(3, 3), (4, 2)]) == 0.0
    assert union_length([]) == 0.0


def test_self_time_subtracts_covered_part_once():
    # jobs [1, 4] and [2, 5] overlap: they cover 4 of the span's 10 s
    own, covered = self_and_child_time(0.0, 10.0, [(1, 4), (2, 5)])
    assert covered == pytest.approx(4.0)
    assert own == pytest.approx(6.0)


def test_children_are_clipped_to_the_span():
    # a job stamped before the span opened and one ending after it
    own, covered = self_and_child_time(10.0, 20.0, [(9.5, 12), (18, 21)])
    assert covered == pytest.approx(4.0)
    assert own == pytest.approx(6.0)


def test_span_fully_covered_has_no_self_time():
    own, covered = self_and_child_time(0.0, 1.0, [(-1, 0.6), (0.5, 2)])
    assert covered == pytest.approx(1.0)
    assert own == 0.0
