"""Tests of the benchmark's seeded raw-jobs generator.

    python3 -m unittest discover -s perfbench/tests

Builds the benchmark (as perfbench/run.py does) and runs
perfbench.GenSelfTest, which asserts that the same seed gives identical
rows, that different seeds give different rows, and that the rows cover
every golden input shape.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_generator_self_test(self):
        classes = build.build()
        r = subprocess.run(
            ["java", "-Xmx512m", "-cp", build.classpath(classes), "perfbench.GenSelfTest"],
            capture_output=True, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("ok: full_load: same seed gives identical rows and batches", r.stdout)
        self.assertNotIn("FAIL", r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
