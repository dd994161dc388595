"""Smoke tests of the benchmark at tiny sizes.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout; each case starts the benchmark JVM (the
first one also builds it), so the suite takes several minutes. For every
workload it checks that an untraced run passes its output checks (the
entry leaves included) and emits every end-to-end metric of BENCHMARK.json
with its unit, that a traced run emits every per-layer metric and a span
dump, and that an injected wrong answer is counted as a failed operation.
It also checks that the launcher refuses to run without the engine sources.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def run(workload, trace=0, fault=False, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if fault:
        cmd.append("--inject-fault")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


class Smoke(unittest.TestCase):
    def result(self, workload, **kw):
        rc, lines = run(workload, **kw)
        self.assertEqual(rc, 0, lines[-5:])
        res, report = json.loads(lines[-1]), json.loads(lines[-2])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        return res, report

    def check_untraced(self, workload):
        res, report = self.result(workload)
        self.assertTrue(res["correct"], report["problems"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, E2E)
        for k, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, k)
        for k in ("nproc", "heap_gb", "scratch_medium", "probe_1t_s"):
            self.assertIn(k, report["host"])
        return report

    def check_traced_with_fault(self, workload, layers):
        res, report = self.result(workload, trace=1, fault=True)
        spans = os.path.join(ROOT, ".bench_build", "out", f"{workload}-seed3-spans.json")
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, layers)
        # the one corrupted answer is a failed operation, nothing else fails
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1, report["problems"])
        with open(spans) as f:
            dump = json.load(f)
        self.assertTrue(dump)
        for s in dump:
            self.assertLessEqual(s["self_ms"], s["dur_ms"] + 1e-6)
            self.assertIn("jobs", s)

    def test_north(self):
        report = self.check_untraced("north")
        # the state and leaf phases ran, and every leaf matched its oracle
        self.assertIn("ingest.pipeline_fresh_s", report["named"])
        self.assertEqual(set(report["info"]["leaf_rows_checked"]), set(report["info"]["leaves"]))
        self.check_traced_with_fault("north", PER_LAYER)

    def test_api(self):
        self.check_untraced("api")
        self.check_traced_with_fault("api", PER_LAYER)

    def test_refuses_without_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
            rc, lines = run("north", cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith('{"correct"') for l in lines))
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
