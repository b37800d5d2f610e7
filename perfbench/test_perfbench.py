#!/usr/bin/env python3
"""Tests of the benchmark itself (not of the program).

    python3 perfbench/test_perfbench.py            # from the checkout root

The trace-repeat test runs two traced runs of every workload in
BENCHMARK.json (about ten minutes on 4 cores). The first test run
builds the harness if needed.
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def env():
    return dict(os.environ, SPARK_HOME=run.spark_home())


def emit_inputs(workload, seed):
    """Digest and sizes of every input the workload generates."""
    e = env()
    run.build(e)
    out = subprocess.run(["java", "-cp", run.classpath(e), "perfbench.Main", "--workload", workload,
                          "--seed", str(seed), "--work", os.path.join(HERE, ".work", "emit"),
                          "--emit-inputs"], env=e, check=True, stdout=subprocess.PIPE, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def bench(workload, seed, trace, seconds=2):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def spans(workload, seed):
    path = os.path.join(HERE, "out", f"trace-{workload}-seed{seed}.jsonl")
    with open(path) as fh:
        return [r for r in map(json.loads, fh) if r["kind"] == "span"]


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            self.assertEqual(emit_inputs(w, 3), emit_inputs(w, 3), w)

    def test_other_seed_other_inputs_same_size(self):
        for w in WORKLOADS:
            a, b = emit_inputs(w, 3), emit_inputs(w, 4)
            self.assertNotEqual(a["digest"], b["digest"], w)
            self.assertEqual((a["table_rows"], a["workload_inputs"]),
                             (b["table_rows"], b["workload_inputs"]), w)


class MetricNames(unittest.TestCase):
    def test_spec_names(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
                      SPEC["end_to_end"])

    def test_printed_metrics_match_spec(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, r = bench("watch", 9, trace)
            self.assertEqual(code, 0)
            self.assertTrue(r["correct"])
            self.assertGreaterEqual(r["attempted"], 1)
            self.assertEqual(r["failed"], 0)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            self.assertEqual(set(r["metrics"]), set(want))
            for name, v in r["metrics"].items():
                self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
                self.assertEqual(v["unit"], want[name])
                self.assertIsInstance(v["value"], (int, float))


class TraceRepeats(unittest.TestCase):
    def test_same_seed_same_counts(self):
        want = {m["name"] for m in SPEC["per_layer"]}
        for w in WORKLOADS:
            runs = []
            for _ in range(2):
                code, r = bench(w, 5, 1)
                self.assertEqual(code, 0, w)
                self.assertEqual(set(r["metrics"]), want, w)
                runs.append(spans(w, 5))
            a, b = runs
            self.assertGreater(len(a), 0, w)
            self.assertEqual([s["name"] for s in a], [s["name"] for s in b], w)
            for x, y in zip(a, b):
                for k in ("jobs", "tasks", "shuffle_bytes"):
                    self.assertEqual(x[k], y[k], f"{w} span {x['id']} {x['name']} {k}")


if __name__ == "__main__":
    unittest.main(verbosity=2)
