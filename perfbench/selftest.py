"""Self-tests of the benchmark, at sf0.001 with one measured pass.

    python3 perfbench/selftest.py

They check the benchmark, not the program: metric names and units,
the tail rule, that an injected failing query is counted, that a
traced run reports every per-layer metric, and that BENCHMARK.json
records each workload's query list and agrees with ``workloads.py``.
The end-to-end runs take about two minutes on a 4-core host.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import END_TO_END, tail_percentile  # noqa: E402
from perfbench.workloads import LAYER_MAP, WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, str(HERE / "run.py"), "--seed", "7", "--seconds", "1",
           "--sf", "0.001", "--warmup", "0", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"exit {out.returncode}: {out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), out.stdout


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 46)]
        p, value, n = tail_percentile(xs)
        self.assertEqual((p, n), (77, 45))
        self.assertEqual(sum(x > value for x in xs), 10)
        p1, _, _ = tail_percentile([float(i) for i in range(1000)])
        self.assertEqual(p1, 99)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(tail_percentile([3.0, 1.0, 2.0])[:2], (50, 2.0))


class BenchmarkJson(unittest.TestCase):
    def test_keys_and_names(self):
        self.assertEqual(
            set(BENCH),
            {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
        )
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        names += [w["name"] for w in BENCH["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        self.assertEqual([(m["name"], m["unit"]) for m in BENCH["end_to_end"]], END_TO_END)
        self.assertTrue(all(m["bound"] <= 0.25 for m in BENCH["end_to_end"]))

    def test_workloads_record_their_queries(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(WORKLOADS))
        for w in BENCH["workloads"]:
            self.assertEqual(w["why"], WORKLOADS[w["name"]].why)
            self.assertTrue(w["why"].endswith(" ".join(WORKLOADS[w["name"]].prefixes)))

    def test_layer_map_covers_per_layer_metrics(self):
        self.assertEqual([m["name"] for m in BENCH["per_layer"]], list(LAYER_MAP))


class EndToEnd(unittest.TestCase):
    def test_untraced_run_reports_every_metric(self):
        last, _ = run("--workload", "relational", "--trace", "0", "--measured", "1")
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], last)
        self.assertEqual(
            {k: v["unit"] for k, v in last["metrics"].items()},
            {m["name"]: m["unit"] for m in BENCH["end_to_end"]},
        )
        self.assertTrue(all(v["value"] > 0 for v in last["metrics"].values()))

    def test_injected_failure_is_counted(self):
        last, stdout = run(
            "--workload", "relational", "--trace", "0", "--measured", "1",
            "--inject-fail", "zz_injected_failure",
        )
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 2)  # the cold and the measured pass
        ok = last["metrics"]["ok_ratio"]["value"]
        self.assertAlmostEqual(ok, 1 - 2 / last["attempted"])
        self.assertIn("zz_injected_failure: RuntimeError: injected failure", stdout)

    def test_traced_run_reports_every_layer(self):
        last, _ = run("--workload", "kernels", "--trace", "1", "--measured", "2")
        self.assertTrue(last["correct"], last)
        self.assertEqual(list(last["metrics"]), list(LAYER_MAP))
        m = {k: v["value"] for k, v in last["metrics"].items()}
        for name in ("operators.dedup_calls", "functions.eager_truncate_calls",
                     "functions.spread_calls", "sources.roundtrip_calls",
                     "streaming.materialize_calls", "python.nodes", "engine.jobs"):
            self.assertGreater(m[name], 0, name)


if __name__ == "__main__":
    unittest.main(verbosity=2)
