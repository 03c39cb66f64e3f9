#!/usr/bin/env python3
"""The benchmark's own tests, on the tiny smoke size of every workload.

    python3 perfbench/test_bench.py        # from the repository root

Each case starts one benchmark run (tens of seconds, most of it JVM and
Spark start-up), so a broken benchmark fails here long before a full
multi-run check would.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = os.path.join("perfbench", "run.py")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload, *extra, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "2", "--size", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


class SmokeTest(unittest.TestCase):
    def check_result(self, workload, trace, wanted):
        rc, res, p = bench(workload, "--trace", str(trace))
        self.assertEqual(rc, 0, p.stderr[-2000:])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res

    def test_every_workload_passes_its_checks(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = self.check_result(w, 0, SPEC["end_to_end"])
                for name, v in res["metrics"].items():
                    self.assertGreater(v["value"], 0.0, name)

    def test_traced_runs_measure_every_layer(self):
        # every per-layer metric is measured on at least one workload
        idle = None
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, res, p = bench(w, "--trace", "1")
                self.assertEqual(rc, 0, p.stderr[-2000:])
                self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["per_layer"]})
                report = json.loads(p.stdout.splitlines()[-2])["report"]
                here = set(report["layers_idle_on_this_workload"])
                idle = here if idle is None else idle & here
        self.assertEqual(idle, set())

    def test_a_corrupted_expectation_fails_the_run(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                rc, res, p = bench(w["name"], "--corrupt", "1")
                self.assertEqual(rc, 1, p.stderr[-2000:])
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)

    def test_without_the_program_it_fails_without_a_result(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/target",
                                                          "__pycache__"))
            rc, res, _ = bench("coach_live", cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
