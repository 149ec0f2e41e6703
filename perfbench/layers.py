"""Per-layer metrics from the traced passes' per-query records.

Every value is a per-pass total: the mean over the traced measured
passes, or, for names ending in ``.cold``, the traced cold pass.
Task-summed times (``task-s``) add up over tasks and Python workers
running in parallel, so they can exceed cores x wall time. The Python
times are Spark's own SQL metrics; for a reused worker Spark's
"time to initialize Python workers" also counts the time the worker
sat idle since it started (m07 reads tens of seconds for a sub-second
query), so ``python.worker_init_s`` compares only runs of the same
schedule.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

_FAMILIES = (
    "catalog.table",
    "functions.eager_truncate",
    "functions.spread",
    "operators.dedup",
    "operators.similarity",
    "operators.multimodal",
    "operators.rank",
    "sources.roundtrip",
    "streaming.materialize",
)


def _totals(p) -> dict[str, float]:
    t: dict[str, float] = defaultdict(float)
    for rec in p["queries"].values():
        t["wall"] += rec["s"]
        t["build"] += rec["build_s"]
        for k, v in rec.get("layer", {}).items():
            t[k] += v
    return t


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _metrics(t: dict[str, float], cores: int) -> dict[str, tuple[float, str]]:
    m: dict[str, tuple[float, str]] = {}
    for fam in _FAMILIES:
        m[f"{fam}_calls"] = (t[f"{fam}_calls"], "count")
        m[f"{fam}_s"] = (t[f"{fam}_s"], "s")
    m["catalog.memo_hit_ratio"] = (_ratio(t["catalog_hits"], t["catalog.table_calls"]), "hits/call")
    m["functions.spread_applied_ratio"] = (
        _ratio(t["spread_applied"], t["functions.spread_calls"]), "applied/call"
    )
    m["plans.build_s"] = (t["build"], "s")
    m["plans.build_share"] = (_ratio(t["build"], t["wall"]), "build-s/wall-s")
    m["plans.eager_jobs"] = (t["eager_jobs"], "count")
    m["sources.bytes_written"] = (t["bytes_written"], "B")
    m["engine.jobs"] = (t["jobs"], "count")
    m["engine.stages"] = (t["stages"], "count")
    m["engine.tasks"] = (t["tasks"], "count")
    m["engine.executor_run_s"] = (t["run_s"], "task-s")
    m["engine.executor_cpu_s"] = (t["cpu_s"], "task-s")
    m["engine.jvm_gc_s"] = (t["gc_s"], "task-s")
    m["engine.shuffle_write_bytes"] = (t["shuffle_write_bytes"], "B")
    m["engine.spill_bytes"] = (t["spill_bytes"], "B")
    m["engine.slot_busy_ratio"] = (_ratio(t["run_s"], cores * t["wall"]), "task-s/slot-s")
    m["engine.driver_gap_s"] = (t["wall"] - t["covered_s"], "s")
    m["python.nodes"] = (t["python_nodes"], "count")
    m["python.worker_start_s"] = (t["py_start_ms"] / 1e3, "task-s")
    m["python.worker_init_s"] = (t["py_init_ms"] / 1e3, "task-s")
    m["python.worker_run_s"] = (t["py_run_ms"] / 1e3, "task-s")
    m["python.arrow_bytes_in"] = (t["py_bytes_in"], "B")
    m["python.arrow_bytes_out"] = (t["py_bytes_out"], "B")
    m["transfer.rows"] = (t["transfer_rows"], "count")
    m["transfer.bytes"] = (t["transfer_bytes"], "B")
    m["transfer.s"] = (t["transfer_s"], "s")
    return m


_COLD = (
    "catalog.table_s",
    "catalog.memo_hit_ratio",
    "plans.build_s",
    "engine.driver_gap_s",
    "python.worker_start_s",
    "python.worker_init_s",
)


def layer_metrics(warm_passes, cold_pass, cores: int) -> dict[str, tuple[float, str]]:
    per_pass = [_metrics(_totals(p), cores) for p in warm_passes]
    out = {
        name: (statistics.fmean(pm[name][0] for pm in per_pass), unit)
        for name, (_, unit) in per_pass[0].items()
    }
    cold = _metrics(_totals(cold_pass), cores)
    for name in _COLD:
        out[f"{name}.cold"] = cold[name]
    return out
