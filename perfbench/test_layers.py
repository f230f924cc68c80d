"""Pins the tracer's attribution on the current code: on every bank
workload the `other` layer holds under 5% of job busy time, the output
check passes, and every per-layer metric is reported.

    python3 -m unittest perfbench/test_layers.py     (from the repo root)

Each bank workload runs traced once (about a minute apiece on 4 cores).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def traced(workload, seed=3):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class LayerAttribution(unittest.TestCase):
    def test_other_layer_is_small_on_every_workload(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = {m["name"] for m in json.load(f)["per_layer"]}
        bank = [w for w, wl in run.WORKLOADS.items() if wl["mode"] != "catalog"]
        for workload in sorted(bank):
            with self.subTest(workload=workload):
                r = traced(workload)
                self.assertTrue(r["correct"])
                self.assertEqual(set(r["metrics"]), names)
                busy = {layer: r["metrics"][f"{layer}.busy_s"]["value"]
                        for layer in run.LAYERS}
                self.assertGreater(sum(busy.values()), 0)
                self.assertLess(busy["other"], 0.05 * sum(busy.values()))


if __name__ == "__main__":
    unittest.main()
