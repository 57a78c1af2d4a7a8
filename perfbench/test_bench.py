#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

  python3 perfbench/test_bench.py          # all, including the smoke runs
  python3 perfbench/test_bench.py -k Seed  # one group

The smoke runs execute every workload (inputs at the sf0.001 test-table
sizes; the benchmark itself runs at sf0.1) for a one-second body, untraced
and traced, and check the result line against BENCHMARK.json and the trace
file's list of unmeasured per-layer metrics against perfbench/record.json.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def record():
    with open(os.path.join(HERE, "record.json")) as fh:
        return json.load(fh)


class BenchmarkJsonTest(unittest.TestCase):
    def test_contract_shape(self):
        b = benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertTrue(m["unit"])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])

    def test_record_maps_every_per_layer_metric(self):
        rec = record()
        e2e = {m["name"] for m in benchmark()["end_to_end"]}
        for m in benchmark()["per_layer"]:
            self.assertIn(m["name"], rec["moves"])
            # every layer metric names what it moves; the tracing
            # overhead is the one that moves no end-to-end metric
            self.assertTrue(rec["moves"][m["name"]] or m["name"] == "trace.overhead", m["name"])
            for target in rec["moves"][m["name"]]:
                self.assertIn(target["metric"], e2e)
                self.assertIn(target["workload"], run.WORKLOADS)


class SeedTest(unittest.TestCase):
    SPEC = dict(scale="sf0.001", tables=True, cycles=3, delta_frac=0.02)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 7, self.SPEC)
            b = gen.generate(os.path.join(d, "b"), 7, self.SPEC)
            c = gen.generate(os.path.join(d, "c"), 8, self.SPEC)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_same_seed_same_project(self):
        run.build()

        def project(seed):
            out = subprocess.run(run.jvm_cmd(tempfile.gettempdir()) +
                                 ["--describe", "dag_refresh", "--seed", str(seed)],
                                 stdout=subprocess.PIPE, text=True, check=True)
            return out.stdout.strip()
        self.assertEqual(project(7), project(7))
        self.assertNotEqual(project(7), project(8))


class SmokeTest(unittest.TestCase):
    def run_workload(self, workload, trace):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", workload, "--seed", "3", "--seconds", "1",
                            "--trace", str(trace), "--scale", "sf0.001"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], r.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        b = benchmark()
        want = b["per_layer"] if trace else b["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in want})
        units = {m["name"]: m["unit"] for m in want}
        for name, v in result["metrics"].items():
            self.assertRegex(name, NAME)
            self.assertEqual(v["unit"], units[name], name)
            self.assertIsInstance(v["value"], (int, float))
        if trace:
            # a layer the workload does not run reads 0, and record.json
            # names every such metric
            with open(os.path.join(HERE, "out", f"trace-{workload}-3.json")) as fh:
                unmeasured = json.load(fh)["unmeasured"]
            self.assertEqual(sorted(unmeasured), sorted(record()["unmeasured"][workload]))
            for name in unmeasured:
                self.assertEqual(result["metrics"][name]["value"], 0, name)

    def test_smoke(self):
        for w in sorted(run.WORKLOADS):
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.run_workload(w, trace)


if __name__ == "__main__":
    unittest.main()
