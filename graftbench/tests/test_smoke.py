"""Smoke test: every workload end to end on tiny inputs, with output checks,
plus the failure accounting of an injected fault. Builds on first use and
takes a few minutes.

    python3 -m unittest graftbench/tests/test_smoke.py
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent


def run(*args):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stdout + p.stderr


class SmokeTest(unittest.TestCase):
    def test_all_workloads_pass_their_checks(self):
        rc, result, out = run("--smoke", "--seconds", "2")
        self.assertEqual(rc, 0, out)
        self.assertTrue(result["correct"], out)
        self.assertEqual(result["failed"], 0, out)
        self.assertGreaterEqual(result["attempted"], 6, out)
        for w in ("ingest", "dashboard", "corpus"):
            self.assertIn(f"== {w}", out)
        self.assertNotIn("check FAIL", out)
        # every traced run checks that the layers its workload exercises read above 0
        self.assertEqual(out.count("check ok   exercised layer metrics read above 0"), 3, out)

    def test_injected_faults_are_counted(self):
        for fault in ("throw", "mismatch"):
            rc, result, out = run("--smoke", "--workload", "dashboard", "--seconds", "2",
                                  "--fault", fault)
            self.assertEqual(rc, 0, out)
            self.assertFalse(result["correct"], out)
            self.assertGreaterEqual(result["failed"], 1, out)
            self.assertIn("failed op", out)


if __name__ == "__main__":
    unittest.main()
