#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks the result fingerprint against known
canonical forms, runs every workload on tiny (sf0.001-sized) inputs with
tracing off and on and checks the output contract, and checks that the
benchmark fails cleanly in a directory that holds only the benchmark.
"""
import datetime
import decimal
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402

ROOT = os.getcwd()


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


class CanonTest(unittest.TestCase):
    def test_numbers_compare_by_exact_value(self):
        self.assertEqual(run.canon(5), "5")
        self.assertEqual(run.canon(5.0), "5")
        self.assertEqual(run.canon(decimal.Decimal("5.00")), "5")
        self.assertEqual(run.canon(-0.0), "0")
        self.assertEqual(run.canon(100.0), "100")
        self.assertEqual(run.canon(0.5), "0.5")
        self.assertEqual(run.canon(0.1), "0.1000000000000000055511151231257827021181583404541015625")

    def test_other_types(self):
        self.assertEqual(run.canon(None), "\\N")
        self.assertEqual(run.canon(True), "true")
        self.assertEqual(run.canon(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "t1000005")
        self.assertEqual(run.canon(datetime.date(1970, 1, 3)), "d2")
        self.assertEqual(run.canon([1, None, "a"]), "[1,\\N,a]")

    def test_fingerprint_ignores_row_and_column_order(self):
        a = run.fingerprint(["x", "y"], [(1, "a"), (2, "b")])
        b = run.fingerprint(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.fingerprint(["x", "y"], [(1, "a"), (2, "c")]))


class ContractTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check_run(self, workload, trace):
        rc, out, err = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--scale", "tiny")
        self.assertEqual(rc, 0, err[-3000:])
        res = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        names = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {d["name"] for d in names})
        for d in names:
            self.assertEqual(res["metrics"][d["name"]]["unit"], d["unit"])
        if not trace:
            for v in res["metrics"].values():
                self.assertGreater(v["value"], 0)

    def test_workloads(self):
        for w in [d["name"] for d in self.spec["workloads"]] + ["read_mix"]:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check_run(w, trace)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            rc, out, _ = bench("--workload", self.spec["workloads"][0]["name"],
                               "--seed", "1", "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertNotIn('"correct"', out)


if __name__ == "__main__":
    unittest.main()
