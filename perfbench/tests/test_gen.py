"""The generator is deterministic per seed and keeps queries held out.

Builds the harness (perfbench/build.py) on first use."""
import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402


def digest(classpath, seed):
    res = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, "perfbench.Main",
                          "--workload", "gen-digest", "--seed", str(seed)],
                         capture_output=True, text=True, check=True, timeout=120)
    return json.loads(res.stdout.strip().splitlines()[-1])


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = build.build()

    def test_same_seed_same_inputs(self):
        self.assertEqual(digest(self.cp, 7), digest(self.cp, 7))

    def test_different_seed_different_inputs(self):
        a, b = digest(self.cp, 7), digest(self.cp, 8)
        for key in ("corpus", "queries", "docs"):
            self.assertNotEqual(a[key], b[key], key)

    def test_queries_held_out_and_duplicates_planted(self):
        d = digest(self.cp, 7)
        self.assertTrue(d["held_out"])
        self.assertGreater(d["planted"], 10)


if __name__ == "__main__":
    unittest.main()
