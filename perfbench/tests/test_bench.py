"""Tests of the benchmark itself: the statement streams and the checker.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a graft checkout. The stream tests are instant; the
validation and self-test cases build graft on first use and start a JVM.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import workloads  # noqa: E402


def streams(name, seed):
    plan = workloads.ALL[name].plan(seed, "/nonexistent")
    return plan["stream_digest"], plan


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       capture_output=True, text=True, timeout=900)
    last = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
    return r, last


class StreamTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        for name in sorted(workloads.ALL):
            d1, p1 = streams(name, 7)
            d2, p2 = streams(name, 7)
            print(f"{name} seed 7 stream digest {d1}")
            self.assertEqual(d1, d2)
            self.assertEqual(json.dumps(p1, sort_keys=True), json.dumps(p2, sort_keys=True))

    def test_other_seed_other_stream(self):
        for name in sorted(workloads.ALL):
            self.assertNotEqual(streams(name, 7)[0], streams(name, 8)[0])


class ValidateTest(unittest.TestCase):
    """Every generated statement runs in graft and in DuckDB, with equal
    results, before any timing."""

    def test_every_statement_accepted(self):
        for name in ("operator_batch", "federated_sql"):
            r, last = run("--workload", name, "--seed", "7", "--seconds", "0.001", "--trace", "0",
                          "--validate")
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            self.assertTrue(last["correct"], r.stderr[-3000:])
            self.assertEqual(last["failed"], 0)


class SelfTest(unittest.TestCase):
    """One corrupted expected answer must be reported as a failure."""

    def test_corrupted_answer_fails(self):
        r, last = run("--workload", "operator_batch", "--seed", "3", "--seconds", "0.001",
                      "--trace", "0", "--corrupt", "1")
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)


if __name__ == "__main__":
    unittest.main()
