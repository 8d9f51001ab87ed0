"""The benchmark's own tests: python3 perfbench/test_perfbench.py

Covers the op_tail_s percentile rule here, and runs the JVM-side
checks (perfbench.SelfTest): the KML generator is byte-identical for a
seed and keeps its recorded digest, and the expected-output function
and the FeatureCollection check are right on a hand-written
3-placemark KML.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

# SHA-256 of the generator's bodies for SelfTest's small shape, seed 7.
GENERATOR_DIGEST = "793429c9f601be16ca2df42120dba6f43991597286507115f08b9aa9f118e4fe"


class TailPercentile(unittest.TestCase):
    def test_rule(self):
        # p leaves n - ceil(p n / 100) samples above its nearest rank
        self.assertEqual(stats.tail_percentile(19), 50)   # too few: median
        self.assertEqual(stats.tail_percentile(20), 50)   # 10 above p50
        self.assertEqual(stats.tail_percentile(39), 50)   # p75 leaves 9
        self.assertEqual(stats.tail_percentile(40), 75)   # p75 leaves 10
        self.assertEqual(stats.tail_percentile(99), 75)   # p90 leaves 9
        self.assertEqual(stats.tail_percentile(100), 90)  # p90 leaves 10
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.nearest_rank(xs, 75), 30)
        self.assertEqual(stats.nearest_rank(xs, 50), 20)
        self.assertEqual(stats.nearest_rank([3.0], 99), 3.0)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class JvmSelfTest(unittest.TestCase):
    def test_generator_and_expected_output(self):
        cp = build.build()
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest", GENERATOR_DIGEST],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        print(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
