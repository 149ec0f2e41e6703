"""Stability report: run one workload N times and summarise each metric.

    python3 perfbench/stats.py --workload kernels --runs 10 [--first-seed 1] [--trace 0]

Each run is a fresh ``run.py`` process with its own seed and the
``run_seconds`` of BENCHMARK.json. For every metric the report prints
the median, the quartiles (``statistics.quantiles(values, n=4)``) and
the relative IQR, (q3 - q1) / median, next to the bound BENCHMARK.json
fixes for it. The bounds were chosen from this report. Each run's raw
per-query times are kept under ``.perfbench/stats/``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def summarise(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, relative IQR)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    series: dict[str, list[float]] = {}
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        last = json.loads(out.stdout.strip().splitlines()[-1])
        keep = ROOT / ".perfbench" / "stats"
        keep.mkdir(exist_ok=True)
        src = ROOT / ".perfbench" / f"result-{args.workload}.json"
        if src.exists():
            src.replace(keep / f"{args.workload}-trace{args.trace}-seed{seed}.json")
        print(f"seed {seed}: correct={last['correct']} failed={last['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
        for k, v in last["metrics"].items():
            series.setdefault(k, []).append(v["value"])
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'relIQR':>8s} {'bound':>6s}")
    for k, vals in series.items():
        med, q1, q3, rel = summarise(vals)
        b = bounds.get(k)
        print(f"{k:34s} {med:12.6g} {q1:12.6g} {q3:12.6g} {rel:8.4f} {'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
