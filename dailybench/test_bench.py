"""Self-tests of the benchmark: its spread arithmetic and its input
generator's determinism.

    python3 -m unittest discover -s dailybench -p "test_*.py"

Run from the root of a checkout; the generator tests build the benchmark
first (see build.py).
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402


class SpreadArithmetic(unittest.TestCase):
    def test_spread_by_hand(self):
        # exclusive quartiles of 1..9 sit at positions (n+1)p = 2.5, 5, 7.5
        self.assertAlmostEqual(stats.spread([9, 1, 8, 2, 7, 3, 6, 4, 5]), (7.5 - 2.5) / 5.0)

    def test_spread_of_constant_is_zero(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_spread_scales_with_the_median(self):
        xs = [10.0, 11.0, 12.0, 9.0, 10.5, 13.0, 8.0, 10.0, 11.5, 9.5]
        self.assertAlmostEqual(stats.spread(xs), stats.spread([3 * x for x in xs]))

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(stats.worse_by(10.0, 12.0, "lower"), 0.2)
        self.assertAlmostEqual(stats.worse_by(10.0, 12.0, "higher"), -0.2)
        self.assertAlmostEqual(stats.worse_by(10.0, 8.0, "lower"), -0.2)


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = build.build()

    def inputs(self, workload, seed):
        out = subprocess.run(["java", "-cp", self.classpath, "dailybench.Inputs", workload, str(seed)],
                             stdout=subprocess.PIPE, text=True, check=True).stdout.split()
        return out[0], {k: int(v) for k, v in (f.split("=") for f in out[1:])}

    def test_same_seed_same_inputs(self):
        for w in ("daily_steady", "backfill_embed"):
            self.assertEqual(self.inputs(w, 7), self.inputs(w, 7))

    def test_other_seed_other_inputs(self):
        for w in ("daily_steady", "backfill_embed"):
            self.assertNotEqual(self.inputs(w, 7)[0], self.inputs(w, 8)[0])

    def test_description_mix(self):
        # both present and missing descriptions, and some gained since
        # yesterday, so the embedding and fill paths run
        h, n = self.inputs("daily_steady", 7)
        self.assertGreater(n["described"], 0.4 * n["events"])
        self.assertLess(n["described"], 0.7 * n["events"])
        self.assertGreater(n["gained"], 0)
        self.assertGreater(n["blank"], 0)
        self.assertGreater(n["new"], 0)


if __name__ == "__main__":
    unittest.main()
