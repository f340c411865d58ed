import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(id_, name, parent, start, end):
    return {"id": id_, "name": name, "parent": parent, "start_us": start, "end_us": end}


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        value, pct, n = metrics.tail([float(i) for i in range(100, 0, -1)])
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))

    def test_percentile_leaves_ten_samples_above(self):
        xs = [float(i) for i in range(37)]
        value, pct, n = metrics.tail(xs)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 100.0 * 27 / 37)
        self.assertEqual(n, 37)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail([1.0] * 10))
        self.assertEqual(metrics.tail([float(i) for i in range(11)])[:2], (0.0, 100.0 / 11))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # three dim builds overlapped inside one keys span
        spans = [span(1, "keys", -1, 0, 100),
                 span(2, "keys.dim_product", 1, 10, 60),
                 span(3, "keys.dim_customer", 1, 20, 50),
                 span(4, "keys.dim_date", 1, 40, 80)]
        self.assertEqual(metrics.self_time(spans[0], spans), 100 - 70)

    def test_children_clipped_to_parent_and_grandchildren_ignored(self):
        spans = [span(1, "p", -1, 100, 200),
                 span(2, "a", 1, 50, 120),
                 span(3, "b", 1, 190, 260),
                 span(4, "a.inner", 2, 100, 200)]
        self.assertEqual(metrics.self_time(spans[0], spans), 100 - 20 - 10)

    def test_leaf_is_all_self(self):
        s = span(1, "leaf", -1, 5, 9)
        self.assertEqual(metrics.self_time(s, [s]), 4)


class CoveredTest(unittest.TestCase):
    def test_disjoint_and_nested(self):
        self.assertEqual(metrics.covered([(0, 2), (5, 7), (5, 6), (1, 3)], 0, 10), 5)

    def test_outside_window(self):
        self.assertEqual(metrics.covered([(-5, -1), (11, 20)], 0, 10), 0)


if __name__ == "__main__":
    unittest.main()
