"""Tests of the run comparator: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402

BENCH = {
    "end_to_end": [
        {"name": "job_s.p50", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.1},
    ],
    "per_layer": [
        {"name": "graph.build_ms", "unit": "ms", "better": "lower"},
    ],
}


def write_runs(d, workload, trace, values, seeds=None):
    """values: list of {metric: value}; one result file per run."""
    for i, vals in enumerate(values):
        seed = (seeds or list(range(len(values))))[i]
        run = {"workload": workload, "seed": seed, "trace": trace, "correct": True,
               "attempted": 10, "failed": 0, "calibration_s": 0.3,
               "bases": {"rows": 1000 * (i + 1), "window_s": 10.0, "executions": 5},
               "metrics": {k: {"value": v, "unit": "x"} for k, v in vals.items()}}
        with open(os.path.join(d, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
            json.dump(run, f)


class VerdictTest(unittest.TestCase):
    def test_identical_sets_are_unchanged(self):
        xs = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
        v, _ = compare.verdict(xs, xs, list(zip(xs, xs)), "lower", 0.1)
        self.assertEqual(v, "unchanged")

    def test_clear_gain_is_improved(self):
        base = [1.0 + 0.01 * i for i in range(10)]
        change = [0.7 + 0.01 * i for i in range(10)]
        v, won = compare.verdict(base, change, list(zip(base, change)), "lower", 0.1)
        self.assertEqual((v, won), ("improved", 1.0))

    def test_higher_is_better_direction(self):
        base = [100.0 + i for i in range(10)]
        change = [150.0 + i for i in range(10)]
        self.assertEqual(compare.verdict(base, change, list(zip(base, change)), "higher", 0.1)[0],
                         "improved")
        self.assertEqual(compare.verdict(change, base, list(zip(change, base)), "higher", 0.1)[0],
                         "regressed")

    def test_worse_beyond_bound_is_regressed(self):
        base = [1.0] * 10
        change = [1.2] * 10
        v, won = compare.verdict(base, change, list(zip(base, change)), "lower", 0.1)
        self.assertEqual((v, won), ("regressed", 0.0))

    def test_spread_wider_than_bound_is_unresolved(self):
        base = [0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1, 1.0, 1.0]
        change = [1.05, 0.5, 1.5, 0.95, 1.0, 1.1, 0.9, 0.8, 1.2, 1.0]
        v, _ = compare.verdict(base, change, list(zip(base, change)), "lower", 0.1)
        self.assertEqual(v, "unresolved")

    def test_ties_count_for_neither_side(self):
        base = [1.0] * 10
        change = [1.0] * 9 + [0.5]
        _, won = compare.verdict(base, change, list(zip(base, change)), "lower", 0.1)
        self.assertAlmostEqual(won, 0.1)

    def test_gain_needs_nine_of_ten_pairs(self):
        base = [1.0] * 10
        change = [0.5] * 8 + [1.5, 1.5]
        self.assertNotEqual(
            compare.verdict(base, change, list(zip(base, change)), "lower", 0.5)[0], "improved")

    def test_per_layer_metric_without_bound(self):
        base = [10.0 + 0.1 * i for i in range(10)]
        change = [20.0 + 0.1 * i for i in range(10)]
        self.assertEqual(compare.verdict(base, change, list(zip(base, change)), "lower", None)[0],
                         "regressed")
        self.assertEqual(compare.verdict(base, base, list(zip(base, base)), "lower", None)[0],
                         "unchanged")


class CompareDirsTest(unittest.TestCase):
    def test_rows_pair_by_seed_and_carry_ratio_bases(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            write_runs(a, "small_jobs", 0,
                       [{"job_s.p50": 1.0, "rows_per_s": 100.0}] * 5, seeds=[1, 2, 3, 4, 5])
            write_runs(b, "small_jobs", 0,
                       [{"job_s.p50": 0.5, "rows_per_s": 200.0}] * 5, seeds=[5, 4, 3, 2, 1])
            rows = compare.compare(compare.load(a), compare.load(b), BENCH)
        by = {r["metric"]: r for r in rows}
        self.assertEqual(by["job_s.p50"]["verdict"], "improved")
        self.assertEqual(by["rows_per_s"]["verdict"], "improved")
        self.assertEqual(by["calibration_s"]["verdict"], "reference")
        self.assertEqual(set(by["rows_per_s"]["bases"]), {"rows", "window_s"})
        self.assertEqual(by["rows_per_s"]["runs"], (5, 5))

    def test_traced_and_untraced_runs_are_compared_apart(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for d in (a, b):
                write_runs(d, "curation", 0, [{"job_s.p50": 2.0}] * 3)
                write_runs(d, "curation", 1, [{"graph.build_ms": 5.0}] * 3)
            rows = compare.compare(compare.load(a), compare.load(b), BENCH)
        self.assertEqual({(r["trace"], r["metric"]) for r in rows},
                         {(0, "job_s.p50"), (0, "calibration_s"),
                          (1, "graph.build_ms"), (1, "calibration_s")})


if __name__ == "__main__":
    unittest.main()
