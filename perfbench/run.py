"""Benchmark entry point: one workload, one fresh driver process.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. One run is:

1. fixtures: generated once per checkout from a fixed seed
   (``fixtures.py``), reused after. They are sf0.01 so that one run
   stays near a minute on a 4-core host;
2. a private run directory holding ``SPARK_GRAFT_TMP``,
   ``SPARK_LOCAL_DIRS``, the JVM and Python temp dirs and DuckDB's
   spill dir, emptied before the run and removed after;
3. the measured driver process (``driver.py``): set-up, one cold
   pass, fixed warm-up passes, measured warm passes (``workloads.py``
   fixes the counts);
4. the output check, outside every timed region: the cold pass
   against the DuckDB oracle (``oracle.py``, a capped child process;
   its digests are cached per oracle text and fixture version), and
   every later pass against the cold pass.

Prints a readable report, then, as the last line, one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (a separate run; end-to-end numbers never come from it).
The driver's raw per-query times are kept in
``.perfbench/result-<workload>.json`` and a traced run's spans in
``.perfbench/spans-<workload>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS  # noqa: E402

SF = 0.01
ORACLE_MEM_BYTES = 4 << 30
DEADLINE_S = 170.0
#: fewest measured passes: a median and a tail need at least three
MIN_MEASURED = 3
STATE_DIR = ROOT / ".perfbench"


def spark_slots() -> int:
    """Task slots of the measured ``local[N]`` master: one less than the
    cores this process may use, so that the driver's Python, the JIT
    and GC threads and the Python workers' parents do not compete with
    a full set of task threads for the cores."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


#: (name, unit) of every end-to-end metric, in report order
END_TO_END = [
    ("first_pass_s", "s"),
    ("warm_pass_s", "s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("ok_ratio", "ok/attempt"),
    ("setup_s", "s"),
]


def tail_percentile(samples: list[float]) -> tuple[int, float, int]:
    """Highest whole percentile with at least 10 samples beyond it.

    Nearest-rank: the p-th percentile of n sorted samples is the
    ceil(p*n/100)-th. Returns (p, value, n). With 10 or fewer samples
    no percentile qualifies, and the median is returned as p50.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1], n
    return 50, statistics.median(xs), n


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop a child's whole process group (JVM and Python workers) and
    wait until none of it is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _child(args: list[str], env: dict, cwd: Path, timeout: float) -> int:
    proc = subprocess.Popen(
        [sys.executable, *args], env=env, cwd=cwd, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
    )
    try:
        _, err = proc.communicate(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        _kill_group(proc)
        raise SystemExit(f"perfbench: child {args[0]} exceeded {timeout:.0f} s")
    finally:
        _kill_group(proc)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
    return proc.returncode


def _run_env(run_dir: Path) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["SPARK_GRAFT_TMP"] = str(run_dir / "graft")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    env["SPARK_GRAFT_CPUS"] = str(spark_slots())
    env["TMPDIR"] = str(run_dir / "tmp")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    return env


def _oracle_digests(oracles: dict, data_dir: Path, run_dir: Path, env, timeout) -> dict:
    """DuckDB digests for each ``{id: sql}``, from the cache or a capped child."""
    cache_path = STATE_DIR / "oracle-cache.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    keys, todo = {}, {}
    for qid, sql in oracles.items():
        keys[qid] = hashlib.sha256(f"{data_dir.name}\n{sql}".encode()).hexdigest()
        if keys[qid] not in cache:
            todo[qid] = sql
    if todo:
        req, res = run_dir / "oracle-req.json", run_dir / "oracle-res.json"
        req.write_text(json.dumps({
            "data_dir": str(data_dir), "temp_dir": str(run_dir / "duckdb"),
            "mem_bytes": ORACLE_MEM_BYTES, "queries": todo,
        }))
        rc = _child([str(HERE / "oracle.py"), str(req), str(res)], env, run_dir, timeout)
        got = json.loads(res.read_text()) if rc == 0 and res.exists() else {}
        for qid in todo:
            entry = got.get(qid, {"error": f"oracle child exit {rc}"})
            if "digest" in entry:
                cache[keys[qid]] = entry["digest"]
            else:  # not cached: the next run tries again
                print(f"oracle {qid}: {entry['error']}")
        tmp = cache_path.with_suffix(f".{os.getpid()}")
        tmp.write_text(json.dumps(cache))
        os.replace(tmp, cache_path)
    return {qid: cache.get(k) for qid, k in keys.items()}


def check_outputs(passes, oracle) -> tuple[int, int, list[str]]:
    """(attempted, failed, reasons) over every (pass, query) attempt.

    A query fails if it raised, if its cold-pass output differs from
    the oracle (or has no oracle digest), or if a later pass's output
    differs from the first output it produced.
    """
    attempted = failed = 0
    reasons: list[str] = []
    first: dict[str, str] = {}
    for i, p in enumerate(passes):
        for qid, rec in p["queries"].items():
            attempted += 1
            why = None
            if "error" in rec:
                why = rec["error"]
            elif "canon" in rec and rec["canon"] != oracle.get(qid):
                why = f"oracle mismatch {rec['canon']} != {oracle.get(qid)}"
            elif first.setdefault(qid, rec["fast"]) != rec["fast"]:
                why = "output differs from its first pass"
            if why:
                failed += 1
                reasons.append(f"pass {i} ({p['kind']}) {qid}: {why}")
    return attempted, failed, reasons


def _sum_q(p) -> float:
    return sum(r["s"] for r in p["queries"].values() if "error" not in r)


def end_to_end(passes, setup_s, attempted, failed):
    measured = [p for p in passes if p["kind"] == "measured"]
    pool = [r["s"] for p in measured for r in p["queries"].values() if "error" not in r]
    p, tail, n = tail_percentile(pool)
    values = {
        "first_pass_s": _sum_q(passes[0]),
        "warm_pass_s": statistics.median(_sum_q(p_) for p_ in measured),
        "query_p50_s": statistics.median(pool),
        "query_tail_s": tail,
        "ok_ratio": (attempted - failed) / attempted,
        "setup_s": setup_s,
    }
    note = f"query_tail_s is p{p} of {n} pooled warm query samples"
    return values, note


def per_layer(passes, cores: int, result: dict) -> dict[str, tuple[float, str]]:
    """Per-pass layer totals: the mean over traced measured passes,
    plus ``.cold`` values from the traced cold pass."""
    from perfbench.layers import layer_metrics

    warm = [p for p in passes if p["kind"] == "measured" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "measured" and not p["traced"]]
    out = {"session.get_session_s": (result["get_session_s"], "s")}
    out.update(layer_metrics(warm, passes[0], cores))
    out["memory.jvm_peak_rss_mb"] = (result["rss_mb"]["jvm"], "MB")
    out["memory.python_peak_rss_mb"] = (result["rss_mb"]["python"], "MB")
    out["host.cpu_ref_s"] = (statistics.median(p["cpu_ref_s"] for p in passes), "s")
    overhead = 0.0
    if warm and untraced:
        overhead = statistics.median(map(_sum_q, warm)) - statistics.median(map(_sum_q, untraced))
    out["trace.overhead_s"] = (overhead, "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks: smaller fixtures, fewer passes, an injected failure
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    ap.add_argument("--warmup", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--measured", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--inject-fail", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    if not (ROOT / "hadoop_release_spark").is_dir() or not (ROOT / "tests" / "_harness.py").is_file():
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import fixtures

    wl = WORKLOADS[args.workload]
    warmup = wl.warmup_passes if args.warmup is None else args.warmup
    measured = args.measured
    if measured is None:
        measured = max(MIN_MEASURED, round(args.seconds / wl.nominal_pass_s))
    cores = len(os.sched_getaffinity(0))

    STATE_DIR.mkdir(exist_ok=True)
    data_dir = fixtures.ensure(STATE_DIR / "data", args.sf)
    run_dir = STATE_DIR / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("graft", "local", "tmp", "duckdb"):
        (run_dir / sub).mkdir(parents=True)
    env = _run_env(run_dir)
    driver = str(HERE / "driver.py")

    def remaining() -> float:
        return DEADLINE_S - (time.monotonic() - t_start)

    try:
        plan_path, out_path = run_dir / "plan.json", run_dir / "result.json"
        plan = {
            "prefixes": wl.prefixes, "seed": args.seed, "warmup": warmup, "measured": measured,
            "trace": bool(args.trace), "data_dir": str(data_dir),
            "inject_fail": args.inject_fail,
            "spans_out": str(STATE_DIR / f"spans-{args.workload}.json"),
        }
        plan["t_spawn"] = time.monotonic()
        plan_path.write_text(json.dumps(plan))
        rc = _child([driver, str(plan_path), str(out_path)], env, run_dir, remaining() - 15)
        t_driver = time.monotonic() - plan["t_spawn"]
        if rc != 0 or not out_path.exists():
            print(f"perfbench: driver process failed (exit {rc})", file=sys.stderr)
            return 1
        result = json.loads(out_path.read_text())
        if "passes" not in result:
            print("perfbench: driver produced no passes", file=sys.stderr)
            return 1
        passes, ids = result["passes"], result["ids"]
        shutil.copyfile(out_path, STATE_DIR / f"result-{args.workload}.json")

        oracle = _oracle_digests(result["oracle_sql"], data_dir, run_dir, env, remaining())
        attempted, failed, reasons = check_outputs(passes, oracle)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(
        f"workload={args.workload} seed={args.seed} master={result['master']} "
        f"nproc={cores} sf={args.sf:g} passes=1 cold + {warmup} warm-up + {measured} measured "
        f"queries={len(ids)}"
    )
    print(f"run wall s: driver={t_driver:.1f} total={time.monotonic() - t_start:.1f}")
    print("peak rss MB: " + " ".join(f"{k}={v:.0f}" for k, v in result["rss_mb"].items()))
    print("pass wall s: " + " ".join(f"{p['kind']}={_sum_q(p):.2f}" for p in passes))
    for line in reasons:
        print(f"FAILED {line}")
    if args.trace:
        from perfbench.workloads import LAYER_MAP

        layers = per_layer(passes, spark_slots(), result)
        for name, moves in LAYER_MAP.items():
            value, unit = layers[name]
            print(f"  {name:34s} {value:14.6g} {unit:14s} moves {moves}")
        metrics = {k: {"value": layers[k][0], "unit": layers[k][1]} for k in LAYER_MAP}
    else:
        values, note = end_to_end(passes, result["setup_s"], attempted, failed)
        for name, unit in END_TO_END:
            print(f"  {name:14s} {values[name]:12.6g} {unit}")
        print(f"  ({note}; failed_ratio {failed}/{attempted})")
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
