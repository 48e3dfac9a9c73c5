"""python3 -m unittest discover -s perfbench/tests"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        self.assertEqual(stats.tail_percentile(list(range(100))), (90, 89))
        # 40 samples: p75 leaves 10, p90 leaves 4
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75)
        # 1000 samples reach p99 (10 beyond), not p99.9 (1 beyond)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)
        # under 20 samples not even the median has 10 beyond it
        self.assertIsNone(stats.tail_percentile(list(range(19))))


class SpanTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 4), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (6, 2)]), 0)

    def test_self_time_on_overlapping_job_tree(self):
        # span [0, 100); jobs overlap each other (AQE re-planning submits
        # a second job while the first runs) and one starts before the
        # span opened and one runs past its end: both are clipped
        jobs = [(10, 30), (20, 40), (35, 50), (-5, 5), (90, 120), (60, 70)]
        # covered: [0,5) + [10,50) + [60,70) + [90,100) = 5+40+10+10 = 65
        self.assertEqual(stats.self_time((0, 100), jobs), 35)

    def test_self_time_without_children_is_the_span(self):
        self.assertEqual(stats.self_time((1000, 1250), []), 250)

    def test_nested_children_do_not_double_count(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 9), (2, 3), (4, 8)]), 2)


class ReconcileTest(unittest.TestCase):
    """run.reconcile_frac compares monotonic-clock walls with epoch-clock
    self time."""

    IT = {"iter": 0, "start_ms": 1000, "end_ms": 2000, "wall_s": 1.0}

    def span(self, start, end, wall=None):
        return {"iter": 0, "start_ms": start, "end_ms": end,
                "wall_s": (end - start) / 1e3 if wall is None else wall}

    def test_adjacent_spans_reconcile(self):
        spans = [self.span(1100, 1400), self.span(1450, 1900)]
        self.assertAlmostEqual(run.iteration_self_s(self.IT, spans), 0.25)
        self.assertAlmostEqual(run.reconcile_frac([self.IT], spans), 0.0)

    def test_nested_span_is_counted_twice(self):
        spans = [self.span(1100, 1900), self.span(1200, 1500)]
        self.assertAlmostEqual(run.reconcile_frac([self.IT], spans), 0.3)

    def test_clocks_that_disagree_show(self):
        # the monotonic clock saw 0.2 s less than the epoch clock
        spans = [self.span(1000, 2000, wall=0.8)]
        self.assertAlmostEqual(run.reconcile_frac([self.IT], spans), 0.2)


class NameTest(unittest.TestCase):
    def test_valid_names_pass(self):
        stats.validate_names(["setup_s", "a.b-c_d"], ["x.1", "9lives"])

    def test_rejects_bad_characters_and_shapes(self):
        for bad in ["", "_lead", ".lead", "has space", "slash/x", "x" * 65,
                    "pct%"]:
            with self.assertRaises(ValueError, msg=bad):
                stats.validate_names([bad], [])

    def test_rejects_duplicates_across_lists(self):
        with self.assertRaises(ValueError):
            stats.validate_names(["a"], ["a"])

    def test_limits(self):
        stats.validate_names(["e%d" % i for i in range(16)],
                             ["p%d" % i for i in range(128)])
        with self.assertRaises(ValueError):
            stats.validate_names(["e%d" % i for i in range(17)], [])
        with self.assertRaises(ValueError):
            stats.validate_names([], ["p%d" % i for i in range(129)])


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json declares exactly the metrics run.py prints."""

    def setUp(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                            "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as f:
            self.spec = json.load(f)

    def test_metric_names_and_units_match(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))
        stats.validate_names(run.END_TO_END, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
