#!/usr/bin/env python3
"""The benchmark's own test: smoke mode of run.py on every workload.

    python3 benchmark/test_smoke.py

Each workload runs once, traced, at sf0.001 with one pass (about a
minute in all). The test fails when a run exits non-zero, an output
check fails, or a metric BENCHMARK.json names is missing from the
result file; it also checks that run.py refuses to run in a directory
that holds only the benchmark and no program.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# metrics the result file carries beyond BENCHMARK.json's lists
EXTRA = ["fail_frac"]


def run(*args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


class SmokeTest(unittest.TestCase):
    def test_every_workload_checks_out_and_reports_every_metric(self):
        names = ([m["name"] for m in SPEC["end_to_end"]] +
                 [m["name"] for m in SPEC["per_layer"]] + EXTRA)
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                out = ROOT / ".bench_out" / f"test-smoke-{w}.json"
                p = run("benchmark/run.py", "--workload", w, "--seed", "7", "--seconds", "1",
                        "--trace", "1", "--smoke", "--out", str(out))
                self.assertEqual(p.returncode, 0, p.stderr[-4000:])
                last = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
                self.assertTrue(last["correct"])
                self.assertEqual(last["failed"], 0)
                self.assertGreaterEqual(last["attempted"], 1)
                result = json.loads(out.read_text())
                self.assertEqual([n for n in names if n not in result["metrics"]], [])
                for n in names:
                    self.assertIsNotNone(result["metrics"][n]["value"], n)
                self.assertTrue(result["spans"], "a traced run records spans")
                self.assertGreaterEqual(result["metrics"]["trace.depth"]["value"], 2)
                for k in ["commit", "nproc", "cores", "sf", "maxPartitionBytes", "jvm", "spark"]:
                    self.assertIn(k, result["provenance"])

    def test_refuses_to_run_without_the_program(self):
        bare = ROOT / ".bench_run" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        try:
            shutil.copytree(BENCH, bare / "benchmark",
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            p = run("benchmark/run.py", "--workload", SPEC["workloads"][0]["name"],
                    "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
