"""Self-tests of the benchmark's statistics and metric declarations.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import sys
import unittest

sys.dont_write_bytecode = True
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)
        self.assertAlmostEqual(stats.percentile(list(range(100)), 0.9), 89.1)

    def test_p50_needs_twenty_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 0.5)
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9.5)

    def test_interpolates_between_order_statistics(self):
        xs = list(range(1, 102))  # 101 values: p90 lands on one of them
        self.assertEqual(stats.percentile(list(reversed(xs)), 0.9), 91)

    def test_rejects_quantiles_outside_the_open_interval(self):
        for q in (0, 1, 1.5):
            with self.assertRaises(ValueError):
                stats.percentile(list(range(1000)), q)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class MetricDeclarations(unittest.TestCase):
    def setUp(self):
        with open(stats.BENCHMARK_JSON) as fh:
            self.bench = json.load(fh)

    def test_names_and_units_are_valid_and_unique(self):
        names = []
        for kind in ("workloads", "end_to_end", "per_layer"):
            for m in self.bench[kind]:
                self.assertTrue(stats.valid_name(m["name"]), m["name"])
                names.append(m["name"])
                if "unit" in m:
                    self.assertTrue(stats.valid_unit(m["unit"]), m["unit"])
                    self.assertIn(m["better"], ("higher", "lower"))
        self.assertEqual(len(names), len(set(names)))
        self.assertFalse(stats.valid_name("has space"))
        self.assertFalse(stats.valid_name("_leading"))
        self.assertFalse(stats.valid_name("x" * 65))

    def test_bounds_leave_setup_the_largest(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertEqual(stats.END_TO_END["setup_s"], ("s", "lower"))

    def test_workloads_match_the_runner(self):
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]), run.WORKLOADS)

    def test_report_emits_exactly_the_declared_metrics(self):
        ops = {"op_s": [0.1 + i / 1000 for i in range(100)], "msgs": 1000, "failed": 0}
        raw = {"setup_s": [1.2, 1.0, 1.1], "untraced": ops}
        metrics, attempted, failed = run.report(raw)
        self.assertEqual(set(metrics), set(stats.END_TO_END))
        self.assertEqual((attempted, failed), (100, 0))
        self.assertEqual(metrics["setup_s"], (1.1, "s"))

        layers = {n: [1.0, 2.0, 3.0] for n in stats.PER_LAYER if not n.startswith("tracing.")}
        raw.update(traced=dict(ops, attach_s=0.5), layers=layers)
        metrics, attempted, _ = run.report(raw)
        self.assertEqual(set(metrics), set(stats.PER_LAYER))
        self.assertEqual(attempted, 200)
        self.assertEqual(metrics["tracing.setup_s_delta"], (0.5, "s"))
        self.assertEqual(metrics["tracing.op_p50_s_delta"][0], 0.0)
        self.assertEqual(metrics["exec.jobs"], (2.0, "count"))


if __name__ == "__main__":
    unittest.main()
