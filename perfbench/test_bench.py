#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a graft checkout:

    python3 perfbench/test_bench.py

The Scala half (seeded inputs, latency arithmetic on a fake clock, drop
counting, the percentile rule, JSONL checking, partition-invariant
fingerprints, a forced source overflow) runs as `BenchMain selftest` in one
JVM; the Python half checks the result line against BENCHMARK.json.
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import run      # noqa: E402


BENCH = run.benchmark()
END_TO_END = [m["name"] for m in BENCH["end_to_end"]]


class ResultLineTest(unittest.TestCase):
    def test_end_to_end_metrics_carry_units(self):
        res = {"metrics": {n: 1.5 for n in END_TO_END}}
        line, missing = run.result_line(res, False, BENCH)
        self.assertEqual(missing, [])
        self.assertEqual(line["setup_s"], {"value": 1.5, "unit": "s"})
        self.assertEqual(set(line), set(END_TO_END))

    def test_missing_or_zero_end_to_end_metric_is_reported(self):
        res = {"metrics": {"latency_p50_ms": 0.0}}
        _, missing = run.result_line(res, False, BENCH)
        self.assertIn("latency_p50_ms", missing)
        self.assertIn("setup_s", missing)

    def test_layers_off_the_workload_path_read_zero(self):
        line, missing = run.result_line({"metrics": {"build.s": 2.0}}, True, BENCH)
        self.assertEqual(missing, [])
        self.assertEqual(line["build.s"]["value"], 2.0)
        self.assertEqual(line["exec.jobs"]["value"], 0.0)
        self.assertEqual(len(line), len(BENCH["per_layer"]))

    def test_names_are_unique(self):
        names = END_TO_END + [m["name"] for m in BENCH["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)


class HarnessSelfTest(unittest.TestCase):
    def test_scala_selftest(self):
        cp = build.ensure_built()
        data = os.path.join(run.registry_data(), "sf0.001")
        work = os.path.join(build.BUILD, "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        log = os.path.join(work, "jvm.log")
        rc, out = run.java(cp, ["selftest", "--work", work, "--data", data], work, log, 600,
                           stdout=subprocess.PIPE)
        # the console sinks share stdout; keep the test report lines
        report = "".join(l for l in (out or b"").decode().splitlines(True)
                         if l.startswith(("ok  ", "FAIL ")))
        print(report, end="")
        ok = rc == 0
        if ok:
            shutil.rmtree(work, ignore_errors=True)
        self.assertTrue(ok, report + run.log_tail(log))


if __name__ == "__main__":
    unittest.main(verbosity=2)
