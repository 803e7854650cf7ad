"""Tests for the A/B compare tool's quartiles and verdicts.

    python3 -m unittest discover -s fossilbench -p 'test_*.py'
"""

import json
import os
import statistics
import tempfile
import unittest

from compare import bench_digest, decide, more_failures, quartiles, spread, table


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 8.0, 6.0, 10.0]
        q1, med, q3 = quartiles(xs)
        want = statistics.quantiles(xs, n=4)
        self.assertEqual((q1, med, q3), (want[0], want[1], want[2]))
        self.assertEqual(med, 5.5)

    def test_spread_is_iqr_over_median(self):
        xs = [90.0, 95.0, 100.0, 105.0, 110.0]
        q1, med, q3 = quartiles(xs)
        self.assertAlmostEqual(spread(xs), (q3 - q1) / med)
        self.assertAlmostEqual(spread([4.0] * 6), 0.0)

    def test_zero_median_has_infinite_spread(self):
        self.assertEqual(spread([-1.0, 0.0, 0.0, 1.0]), float("inf"))


def steady(base, n=10, step=0.5):
    return [base + step * ((i * 7) % n - n / 2) / n for i in range(n)]


class DecideTest(unittest.TestCase):
    def test_clear_gain_on_a_lower_is_better_metric(self):
        parent = steady(100.0)
        change = [p - 10.0 for p in parent]
        self.assertEqual(decide(parent, change, "lower", 0.1)["verdict"], "gain")

    def test_clear_gain_on_a_higher_is_better_metric(self):
        parent = steady(100.0)
        change = [p + 10.0 for p in parent]
        row = decide(parent, change, "higher", 0.1)
        self.assertEqual((row["verdict"], row["wins"]), ("gain", 10))

    def test_eight_wins_of_ten_is_no_gain(self):
        parent = steady(100.0)
        change = [p - 10.0 for p in parent[:8]] + [p + 1.0 for p in parent[8:]]
        row = decide(parent, change, "lower", 0.1)
        self.assertEqual(row["wins"], 8)
        self.assertEqual(row["verdict"], "same")

    def test_ties_count_for_neither_side(self):
        parent = steady(100.0)
        change = list(parent[:2]) + [p - 10.0 for p in parent[2:]]
        row = decide(parent, change, "lower", 0.1)
        self.assertEqual(row["wins"], 8)
        self.assertNotEqual(row["verdict"], "gain")

    def test_a_difference_inside_the_parent_spread_is_no_gain(self):
        parent = [80.0, 90.0, 100.0, 110.0, 120.0, 85.0, 95.0, 105.0, 115.0, 100.0]
        change = [p - 1.0 for p in parent]
        row = decide(parent, change, "lower", 0.25)
        self.assertEqual(row["wins"], 10)
        self.assertEqual(row["verdict"], "same")

    def test_more_failures_void_a_gain(self):
        parent = steady(100.0)
        change = [p - 10.0 for p in parent]
        row = decide(parent, change, "lower", 0.1, more_failed=True)
        self.assertEqual(row["verdict"], "same")

    def test_an_incorrect_change_is_never_a_gain(self):
        parent = steady(100.0)
        change = [p - 10.0 for p in parent]
        row = decide(parent, change, "lower", 0.1, change_incorrect=True)
        self.assertEqual(row["verdict"], "incorrect")

    def test_regression_beyond_the_bound(self):
        parent = steady(100.0)
        change = [p + 20.0 for p in parent]
        self.assertEqual(decide(parent, change, "lower", 0.1)["verdict"], "regression")
        self.assertEqual(decide(parent, [p - 20.0 for p in parent], "higher", 0.1)["verdict"],
                         "regression")

    def test_a_worse_median_inside_the_bound_is_the_same(self):
        parent = steady(100.0)
        change = [p + 5.0 for p in parent]
        self.assertEqual(decide(parent, change, "lower", 0.1)["verdict"], "same")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        parent = [60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 90.0, 110.0, 100.0, 100.0]
        change = [p + 30.0 if i % 2 else p - 5.0 for i, p in enumerate(parent)]
        row = decide(parent, change, "lower", 0.1)
        self.assertGreater(row["parent_spread"], 0.1)
        self.assertEqual(row["verdict"], "unresolved")

    def test_wide_spread_but_every_run_loses_is_worse(self):
        parent = [60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 90.0, 110.0, 100.0, 100.0]
        change = [200.0 + i for i in range(10)]
        self.assertEqual(decide(parent, change, "lower", 0.1)["verdict"], "worse")

    def test_wide_spread_but_every_run_wins_without_nine_tenths_margin_is_better(self):
        parent = [100.0, 104.0, 108.0, 112.0, 116.0, 120.0, 124.0, 128.0, 132.0, 136.0]
        change = [99.0 - i * 0.1 for i in range(10)]
        row = decide(parent, change, "lower", 0.05)
        self.assertEqual(row["wins"], 10)
        # the medians differ by less than the parent's interquartile range
        self.assertLess(row["parent_median"] - row["change_median"], row["parent_q3"] - row["parent_q1"])
        self.assertEqual(row["verdict"], "better")

    def test_needs_complete_pairs(self):
        with self.assertRaises(ValueError):
            decide([1.0, 2.0], [1.0], "lower", 0.1)

    def test_needs_ten_pairs(self):
        with self.assertRaises(ValueError):
            decide(steady(100.0, n=9), steady(90.0, n=9), "lower", 0.1)


def run(attempted, failed, ms, correct=True):
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {"op_p50_ms": {"value": ms, "unit": "ms"}}}


def pairs(parent, change):
    return ([{"workload": "w", "pair": i, "side": "parent", "result": r} for i, r in enumerate(parent)]
            + [{"workload": "w", "pair": i, "side": "change", "result": r} for i, r in enumerate(change)])


SPEC = {"workloads": [{"name": "w"}],
        "end_to_end": [{"name": "op_p50_ms", "better": "lower", "bound": 0.25}]}


class FailureTest(unittest.TestCase):
    def test_a_faster_change_failing_the_same_share_still_gains(self):
        # one in five operations fails on both sides; the change does twice
        # as many in the same time, so it fails twice as many
        parent = [run(20, 4, ms) for ms in steady(100.0)]
        change = [run(40, 8, ms) for ms in steady(50.0)]
        self.assertFalse(more_failures(parent, change))
        (row,) = table(pairs(parent, change), SPEC)
        self.assertEqual(row["fail_share"], {"parent": 0.2, "change": 0.2})
        self.assertEqual(row["metrics"]["op_p50_ms"]["verdict"], "gain")

    def test_a_share_inside_the_parent_spread_is_no_more_failures(self):
        parent = [run(20 + i % 3, 4, 100.0) for i in range(10)]
        # 0.195 against the parent's pooled 0.190, inside its spread of 0.018
        change = [run(41, 8, 50.0) for _ in range(10)]
        self.assertFalse(more_failures(parent, change))

    def test_a_higher_fail_share_voids_the_gain(self):
        parent = [run(20, 0, ms) for ms in steady(100.0)]
        change = [run(40, 1 if i == 3 else 0, ms) for i, ms in enumerate(steady(50.0))]
        self.assertTrue(more_failures(parent, change))
        (row,) = table(pairs(parent, change), SPEC)
        self.assertEqual(row["metrics"]["op_p50_ms"]["verdict"], "same")

    def test_one_incorrect_change_run_marks_the_row_incorrect(self):
        parent = [run(20, 0, ms) for ms in steady(100.0)]
        change = [run(40, 0, ms, correct=(i != 7)) for i, ms in enumerate(steady(50.0))]
        (row,) = table(pairs(parent, change), SPEC)
        self.assertEqual(row["incorrect_runs"], {"parent": 0, "change": 1})
        self.assertEqual(row["metrics"]["op_p50_ms"]["verdict"], "incorrect")


class DigestTest(unittest.TestCase):
    def test_python_bytecode_caches_do_not_change_the_digest(self):
        with tempfile.TemporaryDirectory() as root:
            with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
                json.dump({"paths": ["b"]}, f)
            os.makedirs(os.path.join(root, "b", "__pycache__"))
            with open(os.path.join(root, "b", "run.py"), "w") as f:
                f.write("print(1)\n")
            before = bench_digest(root)
            with open(os.path.join(root, "b", "__pycache__", "run.cpython-312.pyc"), "wb") as f:
                f.write(b"\0\1")
            self.assertEqual(bench_digest(root), before)
            with open(os.path.join(root, "b", "run.py"), "w") as f:
                f.write("print(2)\n")
            self.assertNotEqual(bench_digest(root), before)


if __name__ == "__main__":
    unittest.main()
