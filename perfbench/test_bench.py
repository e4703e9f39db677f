#!/usr/bin/env python3
"""The benchmark's own test: every workload at smoke size, gate included.

Usage (from the root of a checkout): python3 perfbench/test_bench.py

Each run must pass its correctness gate, print the metric names that
BENCHMARK.json declares, and the benchmark must refuse to run (non-zero
exit, no result) in a directory without the engine's sources. An
open loop whose backlog grew must count as a failed operation.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, trace, cwd=ROOT, seed=7):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        rc, lines, err = bench(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], lines[-2][:3000])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        return result

    def test_realtime_signals(self):
        self.check("realtime_signals", 0)

    def test_training_build(self):
        self.check("training_build", 0)

    def test_corpus_lifecycle(self):
        self.check("corpus_lifecycle", 0)

    def test_over_rate(self):
        # backlog at each open-loop batch start; the first batch starts empty
        self.assertFalse(run.over_rate([1, 90, 110, 95, 100], 5, 5.0, 70.0))
        self.assertTrue(run.over_rate([1, 90, 180, 300, 450], 5, 5.0, 70.0))
        self.assertFalse(run.over_rate([1, 90, 400], 5, 5.0, 70.0))  # too short for a trend
        # buckets arriving faster than the catch-up drains them
        self.assertTrue(run.over_rate([1, 90], 5, 80.0, 70.0))

    def test_traced_run_measures_every_layer(self):
        result = self.check("training_build", 1)
        for name, m in result["metrics"].items():
            if name.endswith((".wall_ms", ".jobs")) or name.endswith("_per_s"):
                self.assertGreater(m["value"], 0, name)

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(HERE, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        try:
            rc, lines, _ = bench("realtime_signals", 0, cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith('{"correct"') for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
