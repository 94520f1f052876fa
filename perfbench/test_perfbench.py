#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

Builds like run.py does, runs perfbench.SelfTest (seeded inputs reproduce;
a dropped raster and a thrown query are failures), and checks
BENCHMARK.json and the refusal to run outside a checkout.
"""
import json
import re
import shutil
import subprocess
import sys
import time
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())

    def test_metric_names(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        names += [w["name"] for w in self.spec["workloads"]]
        for n in names:
            self.assertTrue(NAME.fullmatch(n) and len(n) <= 64, n)
        self.assertEqual(len(names), len(set(names)))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)


class SelfTest(unittest.TestCase):
    def test_selftest(self):
        classes = run.build()
        rc, _ = run.run_jvm(classes, "perfbench.SelfTest", [])
        self.assertEqual(rc, 0)


class OutsideACheckout(unittest.TestCase):
    def test_refuses_without_the_program(self):
        bare = run.ROOT / ".bench_build" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(run.ROOT / "BENCHMARK.json", bare)
        shutil.copytree(run.HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        t0 = time.time()
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "forage_batch",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")
        self.assertLess(time.time() - t0, 180)


if __name__ == "__main__":
    unittest.main()
