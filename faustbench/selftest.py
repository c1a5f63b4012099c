#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 faustbench/selftest.py

Builds the benchmark with its tests (faustbench/tests/*.scala) and runs
them, then runs the Python tests of the steadiness arithmetic.
"""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_build  # noqa: E402
import steadiness  # noqa: E402


class SteadinessArithmetic(unittest.TestCase):
    def test_spread_is_interquartile_range_over_median(self):
        med, q1, q3, sp = steadiness.spread([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
        self.assertEqual(med, 14.5)
        self.assertAlmostEqual(sp, (q3 - q1) / 14.5)
        self.assertLess(q1, med)
        self.assertLess(med, q3)

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(steadiness.worse_by(100, 90, "higher"), 0.10)
        self.assertAlmostEqual(steadiness.worse_by(100, 110, "lower"), 0.10)
        self.assertLess(steadiness.worse_by(100, 110, "higher"), 0)


def main():
    classpath = bench_build.build(with_tests=True)
    cmd = bench_build.java_command(classpath, "faustbench.SelfTest", [], bench_build.cores())
    scala_ok = subprocess.run(cmd, cwd=bench_build.ROOT).returncode == 0
    suite = unittest.defaultTestLoader.loadTestsFromTestCase(SteadinessArithmetic)
    py_ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    return 0 if scala_ok and py_ok else 1


if __name__ == "__main__":
    sys.exit(main())
