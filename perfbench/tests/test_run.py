"""Smoke tests of the benchmark command at a tiny size.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

Each test runs `perfbench/run.py` end to end (the first one also builds),
so the suite takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SMOKE = {
    "curation": ["--sf", "0.001"],
    "ingest": ["--rate", "200", "--backlog", "2000"],
}


def bench(workload, trace=0, extra=()):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace)] + SMOKE[workload] + list(extra),
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class MetricsTest(unittest.TestCase):
    def check(self, result, names):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in names}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], float)

    def test_every_workload_emits_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(bench(w["name"], 0), SPEC["end_to_end"])
                traced = bench(w["name"], 1)
                self.check(traced, SPEC["per_layer"])
                for name in ("traced.latency_ms", "traced.tail_ms", "traced.rate_per_s"):
                    self.assertGreater(traced["metrics"][name]["value"], 0)


class FailureTest(unittest.TestCase):
    def test_corrupted_expected_result_is_reported(self):
        r = bench("curation", extra=["--corrupt-expected"])
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)

    def test_dropped_ingest_record_is_reported(self):
        # The first frame always counts: nothing can be late in the first
        # batch, so it is either landed or dead-lettered. Dropping it fails
        # the frame and, when it is valid, its hourly aggregate.
        r = bench("ingest", extra=["--drop-record", "0"])
        self.assertFalse(r["correct"])
        self.assertIn(r["failed"], (1, 2))


if __name__ == "__main__":
    unittest.main()
