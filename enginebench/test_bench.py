#!/usr/bin/env python3
"""The benchmark's own tests. Each runs the benchmark end to end on the
committed sf0.001 tables, so together they take a few minutes.

    python3 enginebench/test_bench.py          # all tests
    python3 enginebench/test_bench.py -k cold  # one test

- every workload prints every metric named in BENCHMARK.json, with its
  unit, untraced and traced, and no invocation fails;
- the deterministic counts repeat: two runs with the same seed give the
  same per-pass jobs, tasks and construction jobs, and so do two traced
  passes of one run;
- Janino compiles do not repeat exactly (an expected failure, see
  test_compiles_repeat);
- in pipeline-cold the cached storage returns to its baseline after
  every clear;
- a directory holding only the benchmark exits non-zero without a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def run(workload, seed=1, seconds=1, trace=0):
    """Runs the benchmark; returns (exit code, info, result)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return p.returncode, None, None
    return p.returncode, json.loads(lines[-2])["info"], json.loads(lines[-1])


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(SPEC) as fh:
            cls.spec = json.load(fh)
        cls.workloads = [w["name"] for w in cls.spec["workloads"]]

    def check_metrics(self, result, names):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for m in names:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], float)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in names})

    def test_smoke_every_metric(self):
        for w in self.workloads:
            for trace, names in ((0, self.spec["end_to_end"]),
                                 (1, self.spec["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    code, info, result = run(w, trace=trace)
                    self.assertEqual(code, 0)
                    self.check_metrics(result, names)
                    self.assertEqual(info["error_rate"], 0.0)
                    self.assertEqual(info["failures"], [])

    @staticmethod
    def per_pass(info, keys):
        return [{k: p[k] for k in ("pass",) + keys}
                for p in info["traced_passes"]]

    def test_counts_repeat(self):
        keys = ("jobs", "tasks", "build_jobs")
        for w in self.workloads:
            with self.subTest(workload=w):
                _, a, _ = run(w, seed=7, trace=1)
                _, b, _ = run(w, seed=7, trace=1)
                self.assertEqual(self.per_pass(a, keys), self.per_pass(b, keys))
                # two traced passes of one run: same queries, other order
                first, second = self.per_pass(a, keys)[:2]
                for k in keys:
                    self.assertEqual(first[k], second[k], k)

    @unittest.expectedFailure
    def test_compiles_repeat(self):
        """The same two checks as test_counts_repeat, for Janino compiles.
        They differ between two runs with the same seed (measured:
        127/121 against 121/125 on analytics, 11/15 against 25/38 on
        pipeline-warm), though not on every pair of runs, and between
        the two traced passes of one run. Spark's generated-class cache
        holds 100 entries and evicts by approximate LRU under concurrent
        access, so which plans recompile is not reproducible. If this
        test starts passing, `codegen.compiles` has become a
        deterministic count."""
        _, a, _ = run("pipeline-warm", seed=7, trace=1)
        _, b, _ = run("pipeline-warm", seed=7, trace=1)
        self.assertEqual(self.per_pass(a, ("compiles",)),
                         self.per_pass(b, ("compiles",)))
        first, second = self.per_pass(a, ("compiles",))[:2]
        self.assertEqual(first["compiles"], second["compiles"])

    def test_cold_cache_returns_to_baseline(self):
        _, info, result = run("pipeline-cold", trace=1)
        self.assertTrue(result["correct"])
        self.assertEqual(info["cache_after_clear_mb"], [0.0])
        self.assertGreater(result["metrics"]["pin.fills"]["value"], 0)

    def test_refuses_without_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(SPEC, d)
            shutil.copytree(HERE, os.path.join(d, "enginebench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target"))
            p = subprocess.run(
                [sys.executable, "enginebench/run.py", "--workload",
                 self.workloads[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
