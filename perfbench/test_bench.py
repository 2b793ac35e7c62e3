#!/usr/bin/env python3
"""The benchmark's own tests. From the repository root:

    python3 perfbench/test_bench.py

- The self-test: the same seed gives the same input hash and another seed
  another; every workload's checks pass a right answer, timed and traced,
  and the two answers agree; every corrupted variant of the answer (a
  dedup drop that keeps both twins, a DIRT global N off its closed form,
  ...) counts as a failure.
- Every workload in BENCHMARK.json, run briefly untraced and traced, emits
  exactly the metric names and units BENCHMARK.json lists, in a result line
  with the contract's keys.
- Without the engine's sources the benchmark exits non-zero and prints no
  result.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable] + list(args), cwd=cwd,
                          capture_output=True, text=True, timeout=1200)


class BenchmarkTest(unittest.TestCase):

    def test_selftest(self):
        r = run(RUN, "--selftest")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertIn("selftest passed", r.stdout)
        self.assertNotIn("FAIL", r.stdout)

    def test_metric_names_match_benchmark_json(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = run(RUN, "--workload", w["name"], "--seed", "7",
                            "--seconds", "1", "--trace", str(trace))
                    self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                    result = json.loads(r.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(result),
                                     {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"], r.stdout)
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[key]}
                    got = {k: v["unit"] for k, v in result["metrics"].items()}
                    self.assertEqual(got, want)
                    if key == "end_to_end":
                        self.assertTrue(all(v["value"] > 0
                                            for v in result["metrics"].values()),
                                        result["metrics"])

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(BENCH, "target", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            r = run(os.path.join("perfbench", "run.py"), "--workload",
                    SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
