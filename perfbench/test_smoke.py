#!/usr/bin/env python3
"""The benchmark's own tests: a seconds-long smoke size of each workload.

    python3 -m unittest perfbench/test_smoke.py     (from the checkout root)

Each workload runs untraced and traced at smoke size; the tests assert
that the last line is the result object, that every end-to-end and
per-layer metric of BENCHMARK.json is emitted with its unit, and that
each workload prints its own figures by name. One more run corrupts an
expected KPI value and asserts that the check catches it.
"""
import json
import math
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAMED = {"backfill": ["backfill_s", "ingest_events_per_s"],
         "trickle": ["land_to_kpi_p50_s", "land_to_kpi_p90_s"],
         "query_mix": ["mix_queries_per_s", "mix_query_p50_s", "mix_query_p90_s"]}


def run(workload, trace, *extra):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", "1", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace {trace} exited {r.returncode}:\n{r.stderr[-4000:]}")
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual({m["name"] for m in wanted}, set(result["metrics"]))
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def check_workload(self, workload):
        lines, result = run(workload, 0)
        self.check_metrics(result, SPEC["end_to_end"])
        for name in NAMED[workload] + [m["name"] for m in SPEC["end_to_end"]]:
            self.assertTrue(any(l.startswith(f"{name} = ") for l in lines), name)
        self.assertTrue(any(l.startswith("failed_frac = ") and "attempted" in l for l in lines))
        if workload != "trickle":
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
        _, traced = run(workload, 1)
        self.check_metrics(traced, SPEC["per_layer"])
        return result

    def test_backfill(self):
        self.check_workload("backfill")

    def test_trickle(self):
        self.assertTrue(self.check_workload("trickle")["correct"])

    def test_query_mix(self):
        self.check_workload("query_mix")

    def test_corrupted_expected_value_is_caught(self):
        _, result = run("backfill", 0, "--corrupt-expected", "1")
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])


if __name__ == "__main__":
    unittest.main()
