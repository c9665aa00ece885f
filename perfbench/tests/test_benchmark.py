"""The benchmark's own tests.

Run from the repository root:
  python3 -m unittest discover -s perfbench/tests -v

The smoke tests build the engine on first use (several minutes) and run
one short, fixed-seed run of a workload.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(BENCH, ".work", "test")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def fake_out(workload):
    """A minimal driver output with one measured, traced operation."""
    op = {"kind": "q1", "measured": True, "seconds": 0.5, "self_s": 0.1,
          "children": {}, "traced": True, "failed_tasks": 0}
    for key in metrics.SPARK_COUNTS:
        op[key] = 1
    return {"ops": [op], "cycles": [0.5],
            "setup_s": [1.0, 2.0], "retained_heap_mb": 64.0,
            "measured_s": 0.5, "cores": 4}


class SeedDeterminism(unittest.TestCase):

    def generate(self, workload, seed, name):
        out = os.path.join(SCRATCH, name)
        shutil.rmtree(out, ignore_errors=True)
        return gen.generate(workload, seed, out)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = self.generate(w, 7, "a")
                b = self.generate(w, 7, "b")
                c = self.generate(w, 8, "c")
                self.assertEqual(a, b)
                self.assertEqual(a.keys(), c.keys())
                for rel in a:
                    self.assertNotEqual(a[rel]["sha256"], c[rel]["sha256"], rel)

    def test_input_record_states_rows_bytes_files(self):
        rec = self.generate("taxi_ingest_dml", 3, "a")
        summary = gen.summary(rec)
        self.assertEqual(summary["lineitem"]["rows"], gen.OLAP_ROWS)
        self.assertGreater(summary["lineitem"]["files"], 1)
        self.assertGreater(summary["lineitem"]["bytes"], 0)


class MetricNames(unittest.TestCase):

    def test_end_to_end_names_and_units_match_benchmark_json(self):
        values, _ = metrics.end_to_end(fake_out("pipeline_iter"), 0.1, 4, 0)
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in values.items()}, want)

    def test_per_layer_names_and_units_match_benchmark_json(self):
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for w in WORKLOADS:
            values, _ = metrics.per_layer(w, fake_out(w), 0.4)
            self.assertEqual({k: u for k, (_, u) in values.items()}, want, w)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


def run_bench(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    return proc


class Smoke(unittest.TestCase):

    def check_last_line(self, proc, section):
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed",
                                     "metrics"})
        self.assertTrue(last["correct"], proc.stderr[-3000:])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        self.assertEqual(
            {k: v["unit"] for k, v in last["metrics"].items()}, want)
        return last

    def test_fixed_seed_run_untraced(self):
        last = self.check_last_line(run_bench("pipeline_iter", 1, 1, 0),
                                    "end_to_end")
        for name, m in last["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def test_fixed_seed_run_traced(self):
        self.check_last_line(run_bench("taxi_ingest_dml", 1, 1, 1), "per_layer")


if __name__ == "__main__":
    unittest.main()
