"""Tests of the fleet benchmark itself: a tiny run of each workload, a
traced run, the correctness checks against corrupted outputs, and refusal
in a checkout without the engine.

    python3 -m unittest fleetbench/test_fleetbench.py
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
RUN = os.path.join(HERE, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(*args, cwd=ROOT, script=RUN):
    return subprocess.run([sys.executable, script, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=900)


def result(proc):
    return json.loads(proc.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def tiny(self, workload, trace):
        p = run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny")
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        r = result(p)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        return r["metrics"]

    def check_end_to_end(self, workload):
        m = self.tiny(workload, 0)
        spec = {x["name"]: x["unit"] for x in SPEC["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in m.items()}, spec)
        for k, v in m.items():
            self.assertGreater(v["value"], 0, k)

    def test_fleet_ingest(self):
        self.check_end_to_end("fleet_ingest")

    def test_dashboard_refresh(self):
        self.check_end_to_end("dashboard_refresh")

    def test_curation_batch(self):
        self.check_end_to_end("curation_batch")

    def test_traced_dashboard(self):
        m = self.tiny("dashboard_refresh", 1)
        spec = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in m.items()}, spec)
        self.assertGreater(m["metrics.frames_define_pct"]["value"], 0)
        self.assertGreater(m["sinks.metrics_append_pct"]["value"], 0)
        self.assertEqual(m["streaming.batches_per_drain"]["value"], 0)


class Checks(unittest.TestCase):
    def test_corrupted_outputs_fail(self):
        p = run("--negative-tests")
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertNotIn("FAIL", p.stdout)
        self.assertGreaterEqual(p.stdout.count("PASS"), 15)


class Refusal(unittest.TestCase):
    def test_without_engine_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "fleetbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("--workload", "fleet_ingest", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=d, script=os.path.join(d, "fleetbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
