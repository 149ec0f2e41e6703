"""The measured process: one fresh JVM, one client, queries in a row.

Usage (by ``run.py``): python driver.py PLAN.json RESULT.json

The plan names the query id prefixes, the seed that permutes them, the pass
schedule (one cold pass, unmeasured warm-ups, measured passes), the
fixture directory, whether to trace, and the monotonic time at which
the parent spawned this process (``CLOCK_MONOTONIC`` is system-wide,
so set-up time is measured from process creation).

Each query is timed from the call ``all_queries()[id](spark, dir)``
until ``.toPandas()`` returns. Digests are taken after the clock stops.
"""

from __future__ import annotations

import json
import random
import sys
import time
from pathlib import Path


def cpu_ref_s() -> float:
    """A fixed CPU-only loop; its time tracks host speed, not the program."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def _vm_hwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _injected_failure(spark, sf_dir):
    raise RuntimeError("injected failure")


def run_query(fn, spark, data_dir, tracer, pass_idx, qid, want_canon):
    from perfbench.check import canon_digest, fast_digest

    if tracer is not None:
        tracer.active = True
        tracer.begin_query(pass_idx, qid)
        tracer.begin_step(pass_idx, "build")
    pdf = error = None
    w0 = time.time()
    t0 = time.monotonic()
    t1 = None
    try:
        df = fn(spark, data_dir)
        t1 = time.monotonic()
        if tracer is not None:
            tracer.end_step("build")
            tracer.begin_step(pass_idx, "execute")
        pdf = df.toPandas()
        t2 = time.monotonic()
        if tracer is not None:
            tracer.end_step("execute")
    except Exception as exc:  # a failing query is counted, the run goes on
        t2 = time.monotonic()
        error = f"{type(exc).__name__}: {exc}"[:300]
    w2 = time.time()
    rec: dict = {"s": t2 - t0, "build_s": (t1 or t2) - t0}
    if tracer is not None:
        tracer.active = False
        layer = tracer.end_query(w0 * 1e3, w2 * 1e3, pdf)
        rec["layer"] = {k: v for k, v in layer.items() if not k.startswith("_")}
    if error is not None:
        rec["error"] = error
    else:
        rec["fast"] = fast_digest(pdf)
        if want_canon:
            rec["canon"] = canon_digest(pdf)
    return rec


def main(plan_path: str, out_path: str) -> None:
    plan = json.loads(Path(plan_path).read_text())
    tracer = None
    if plan.get("trace"):
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()

    from hadoop_release_spark.session import get_session

    t = time.monotonic()
    spark = get_session()
    get_session_s = time.monotonic() - t
    from hadoop_release_spark.plans.registry import all_oracles, all_queries

    queries = all_queries()
    result: dict = {
        "setup_s": time.monotonic() - plan["t_spawn"],
        "get_session_s": get_session_s,
        "master": spark.sparkContext.master,
    }
    try:
        from perfbench.workloads import resolve

        ids = resolve(plan["prefixes"], queries)
        oracles = all_oracles()
        result["oracle_sql"] = {q: oracles[q] for q in ids if q in oracles}
        if plan.get("inject_fail"):
            ids.append(plan["inject_fail"])
        result["ids"] = ids
        result["passes"] = run_passes(plan, ids, spark, queries, tracer)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        result["rss_mb"] = {"python": _vm_hwm_kb("self") / 1024, "jvm": _vm_hwm_kb(jvm_pid) / 1024}
        if tracer is not None:
            tracer.write_spans(Path(plan["spans_out"]))
    finally:
        Path(out_path).write_text(json.dumps(result))
        spark.stop()


def run_passes(plan, ids, spark, queries, tracer) -> list[dict]:
    inject = plan.get("inject_fail")
    fns = {q: _injected_failure if q == inject else queries[q] for q in ids}
    if tracer is not None:
        tracer.attach(spark)
    schedule = ["cold"] + ["warmup"] * plan["warmup"] + ["measured"] * plan["measured"]
    rng = random.Random(plan["seed"])
    passes = []
    n_measured = 0
    for idx, kind in enumerate(schedule):
        traced = tracer is not None and (kind != "measured" or n_measured % 2 == 0)
        n_measured += kind == "measured"
        order = list(ids)
        rng.shuffle(order)
        p = {"kind": kind, "traced": traced, "cpu_ref_s": cpu_ref_s(), "queries": {}}
        for qid in order:
            p["queries"][qid] = run_query(
                fns[qid], spark, plan["data_dir"], tracer if traced else None,
                idx, qid, want_canon=kind == "cold",
            )
        passes.append(p)
    return passes


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
