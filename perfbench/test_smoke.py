"""Tiny-scale smoke test of every benchmark workload.

    python3 -m unittest perfbench/test_smoke.py     (from the repository root)

Runs each workload on `--scale tiny` inputs for one second, untraced and
traced, and asserts that the result line is well formed, that every output
check passed, and that every metric BENCHMARK.json names is printed with its
unit (end-to-end metrics untraced, per-layer metrics traced) and, traced,
that the run itself measured every per-layer metric metrics.json assigns to
the workload, so a change that breaks the benchmark fails here in minutes
rather than in a full run.
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import own_layer_metrics  # noqa: E402


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stderr


class SmokeTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check(self, workload, trace):
        result, stderr = run(workload, trace)
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in wanted))
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        if trace:
            dump = os.path.join(ROOT, ".bench_build", "traces", f"{workload}-seed7.json")
            with open(dump) as f:
                layers = json.load(f)["layers"]
            own = own_layer_metrics(workload, [m["name"] for m in wanted])
            self.assertTrue(own)
            self.assertEqual([n for n in own if n not in layers], [])

    def test_workloads(self):
        for w in self.spec["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)


if __name__ == "__main__":
    unittest.main()
