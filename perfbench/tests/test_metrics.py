import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics import covered, self_time, union_length  # noqa: E402


def span(t0, t1):
    return {"t0": t0, "t1": t1}


class UnionLength(unittest.TestCase):
    def test_empty(self):
        self.assertEqual(union_length([]), 0.0)

    def test_disjoint_intervals_add(self):
        self.assertEqual(union_length([(0, 1), (3, 5)]), 3)

    def test_overlap_counts_once(self):
        self.assertEqual(union_length([(0, 4), (2, 6)]), 6)

    def test_nested_and_unsorted(self):
        self.assertEqual(union_length([(5, 6), (0, 10), (2, 3)]), 10)

    def test_touching_intervals_merge(self):
        self.assertEqual(union_length([(0, 2), (2, 4)]), 4)

    def test_empty_and_inverted_intervals_ignored(self):
        self.assertEqual(union_length([(1, 1), (3, 2), (4, 5)]), 1)


class Covered(unittest.TestCase):
    def test_clips_to_window(self):
        self.assertEqual(covered((10, 20), [(5, 12), (18, 30)]), 4)

    def test_outside_window_is_zero(self):
        self.assertEqual(covered((10, 20), [(0, 5), (25, 30)]), 0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(self_time(span(0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(self_time(span(0, 10), [span(1, 3), span(5, 8)]), 5)

    def test_overlapping_children_count_once(self):
        # two parallel stages covering [2, 7) leave 5 of 10 to the parent
        self.assertEqual(self_time(span(0, 10), [span(2, 6), span(4, 7)]), 5)

    def test_children_past_the_parent_are_clipped(self):
        self.assertEqual(self_time(span(10, 20), [span(5, 12), span(19, 25)]), 7)

    def test_fully_covered_parent(self):
        self.assertEqual(self_time(span(0, 4), [span(0, 2), span(1, 4)]), 0)


if __name__ == "__main__":
    unittest.main()
