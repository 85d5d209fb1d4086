import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from compare import compare, verdict  # noqa: E402

BASE = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.3]


class VerdictTest(unittest.TestCase):
    def test_improved_when_nine_tenths_win_beyond_spread(self):
        change = [x * 0.8 for x in BASE]
        self.assertEqual(verdict(BASE, change, "lower", 0.1), "improved")
        self.assertEqual(verdict(BASE, [x * 1.25 for x in BASE], "higher", 0.1), "improved")

    def test_regressed_beyond_bound(self):
        self.assertEqual(verdict(BASE, [x * 1.3 for x in BASE], "lower", 0.15), "regressed")
        self.assertEqual(verdict(BASE, [x * 0.7 for x in BASE], "higher", 0.15), "regressed")

    def test_within_bound_is_unchanged(self):
        self.assertEqual(verdict(BASE, [x * 1.05 for x in BASE], "lower", 0.15), "unchanged")

    def test_gain_too_small_for_spread_is_not_improved(self):
        # wins every pair, but by less than the base's own quartile spread
        change = [x - 0.01 for x in BASE]
        self.assertEqual(verdict(BASE, change, "lower", 0.15), "unchanged")

    def test_noisy_base_is_unresolved(self):
        noisy = [60.0, 140.0, 80.0, 120.0, 100.0, 70.0, 130.0, 90.0, 110.0, 100.0]
        change = [x * 1.05 for x in noisy]
        self.assertEqual(verdict(noisy, change, "lower", 0.15), "unresolved")

    def test_noisy_base_but_every_change_run_better_is_judged(self):
        noisy = [60.0, 140.0, 80.0, 120.0, 100.0, 70.0, 130.0, 90.0, 110.0, 100.0]
        self.assertEqual(verdict(noisy, [10.0] * 10, "lower", 0.15), "improved")

    def test_per_layer_metrics_without_bound(self):
        self.assertEqual(verdict(BASE, [x * 1.3 for x in BASE], "lower", None), "regressed")
        self.assertEqual(verdict(BASE, [x * 0.7 for x in BASE], "lower", None), "improved")
        self.assertEqual(verdict(BASE, list(BASE), "lower", None), "unresolved")


class CompareTest(unittest.TestCase):
    def test_pairs_by_seed_and_workload(self):
        spec = {"workloads": [{"name": "w"}],
                "end_to_end": [{"name": "qps", "unit": "1/s", "better": "higher", "bound": 0.1}],
                "per_layer": []}

        def rec(seed, v, workload="w"):
            return {"workload": workload, "seed": seed, "trace": 0,
                    "result": {"attempted": 1, "failed": 0,
                               "metrics": {"qps": {"value": v, "unit": "1/s"}}}}
        base = [rec(s, 100.0 + s % 3) for s in range(10)] + [rec(99, 1.0, "other")]
        change = [rec(s, 60.0 + s % 3) for s in reversed(range(10))]
        rows = compare(base, change, spec)
        self.assertEqual(len(rows), 1)
        self.assertEqual(rows[0]["pairs"], 10)
        self.assertEqual(rows[0]["wins"], 0)
        self.assertEqual(rows[0]["verdict"], "regressed")


if __name__ == "__main__":
    unittest.main()
