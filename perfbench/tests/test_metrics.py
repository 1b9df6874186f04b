"""Self-tests of the benchmark's metric code (no Spark needed).

  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)

    def test_p90_leaves_ten_samples_beyond(self):
        xs = list(range(1, 201))
        p90 = metrics.percentile(xs, 0.9)
        self.assertGreaterEqual(sum(x > p90 for x in xs), 10)

    def test_median_with_few_samples(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(metrics.percentile([1.0, 2.0], 0.5), 1.5)
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_failed_ops_miss_every_limit(self):
        inf = float("inf")
        self.assertEqual(metrics.percentile([1.0, 2.0, inf], 0.5), 2.0)
        self.assertIsNone(metrics.percentile([1.0, inf, inf], 0.5))
        xs = [1.0] * 89 + [inf] * 11
        self.assertIsNone(metrics.percentile(xs, 0.9))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 90, 120)]
        self.assertEqual(metrics.self_times(spans)[1], 90)

    def test_grandchildren_do_not_reduce_the_grandparent_twice(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 10, 20)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 40, 10))
        self.assertEqual(sum(st.values()), 100)

    def test_innermost_span(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 50)]
        self.assertEqual(metrics.innermost(spans, 20)["id"], 2)
        self.assertEqual(metrics.innermost(spans, 70)["id"], 1)
        self.assertIsNone(metrics.innermost(spans, 200))


class RatioTest(unittest.TestCase):
    def test_ratio_carries_base(self):
        self.assertEqual(metrics.ratio(3, 4), {"value": 0.75, "base": 4})
        self.assertEqual(metrics.ratio(0, 0), {"value": 0.0, "base": 0})

    def test_every_reported_ratio_has_its_base(self):
        """Each per-layer ratio is printed next to the count it divides by."""
        record = {"epoch_offset_ns": 0, "ops": [], "spans": [], "jobs": [], "queries": [],
                  "units": [], "cores": 4, "checks": {}}
        out = run.per_layer(record, {})
        for name, v in out.items():
            if v["unit"] == "ratio":
                self.assertIn(name, run.RATIO_BASES, f"ratio {name} has no base")
        for name, base in run.RATIO_BASES.items():
            self.assertIn(name, out)
            self.assertIn(base, out, f"{name} is reported without its base {base}")


class UnionTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10)], 5, 8), 3)
        self.assertEqual(metrics.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
