"""Workload definitions, the fixed pass schedule and the layer map.

A workload is an ordered list of registry query ids, named by their
prefix (``d02`` -> ``d02_agg_groupby``). The run seed only permutes
that list within each pass; the program receives nothing but the
query ids and the fixture directory.

The pass schedule is fixed per workload so that every commit and
every seed measures the same number of samples: one cold pass, a
fixed number of unmeasured warm-up passes, then measured warm
passes. The measured-pass count is ``--seconds`` divided by the
workload's fixed nominal pass time, and at least three; it never
depends on how fast the commit under test is.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    prefixes: tuple[str, ...]
    why: str
    #: unmeasured warm passes after the cold pass
    warmup_passes: int
    #: fixed divisor of ``--seconds`` giving the measured-pass count
    nominal_pass_s: float


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="relational",
            prefixes=tuple(
                "d02 c13 c01 a01 e06 c24 e01 i01 f02".split()
            ),
            # Bypass case: no Python node, no eager job. Catalyst,
            # shuffle and the toPandas transfer do the work (a01 returns
            # all of lineitem), so kernel and driver-loop changes should
            # leave it unmoved. An odd query count puts the pooled median
            # inside one query's samples instead of between two queries.
            why=(
                "bypass case: plans with no Python node and no eager job; "
                "Catalyst, shuffle and toPandas do the work. "
                "d02 c13 c01 a01 e06 c24 e01 i01 f02"
            ),
            # Warm passes keep falling for eight to ten passes after
            # the cold one (about 3 s down to a 1.5-1.9 s plateau on
            # three task slots of a 4-core host), so eight warm-ups
            # precede seven measured passes.
            warmup_passes=8,
            nominal_pass_s=2.0,
        ),
        Workload(
            name="kernels",
            prefixes=tuple("l28 m06 m07 l48 l27 i10 a02 j01".split()),
            # Mechanism case: Arrow/pandas UDF kernels (dedup,
            # similarity, multimodal, spread guard, Python worker
            # start-up) plus the driver-loop layers (eager truncation,
            # source round-trips, availableNow streams) that fire many
            # small jobs and write beside the reads.
            why=(
                "mechanism case: Arrow/pandas kernels, eager loop jobs, "
                "writes and availableNow streams. "
                "l28 m06 m07 l48 l27 i10 a02 j01"
            ),
            warmup_passes=1,
            nominal_pass_s=7.0,
        ),
    )
}

#: Each per-layer metric and the end-to-end metric (on a workload) it
#: should move. Written down before measuring; the traced run reports
#: every key, and the self-test pins this map to BENCHMARK.json.
LAYER_MAP: dict[str, str] = {
    "session.get_session_s": "setup_s, all workloads",
    "catalog.table_calls": "first_pass_s, all workloads",
    "catalog.table_s": "first_pass_s, all workloads; query_p50_s on relational",
    "catalog.table_s.cold": "first_pass_s, all workloads",
    "catalog.memo_hit_ratio": "first_pass_s, all workloads; query_p50_s on relational",
    "catalog.memo_hit_ratio.cold": "first_pass_s, all workloads",
    "plans.build_s": "warm_pass_s and query_tail_s on kernels; about 0 on relational",
    "plans.build_s.cold": "first_pass_s on kernels",
    "plans.build_share": "warm_pass_s and query_tail_s on kernels; about 0 on relational",
    "plans.eager_jobs": "warm_pass_s and query_tail_s on kernels; 0 on relational",
    "operators.dedup_calls": "warm_pass_s on kernels",
    "operators.dedup_s": "warm_pass_s on kernels",
    "operators.similarity_calls": "warm_pass_s on kernels",
    "operators.similarity_s": "warm_pass_s on kernels",
    "operators.multimodal_calls": "warm_pass_s on kernels",
    "operators.multimodal_s": "warm_pass_s on kernels",
    "operators.rank_calls": "warm_pass_s on kernels",
    "operators.rank_s": "warm_pass_s on kernels",
    "functions.eager_truncate_calls": "warm_pass_s on kernels",
    "functions.eager_truncate_s": "warm_pass_s on kernels",
    "functions.spread_calls": "first_pass_s and warm_pass_s on kernels",
    "functions.spread_applied_ratio": "first_pass_s and warm_pass_s on kernels",
    "functions.spread_s": "first_pass_s and warm_pass_s on kernels",
    "sources.roundtrip_calls": "warm_pass_s on kernels",
    "sources.roundtrip_s": "warm_pass_s on kernels",
    "sources.bytes_written": "warm_pass_s on kernels",
    "streaming.materialize_calls": "warm_pass_s on kernels",
    "streaming.materialize_s": "warm_pass_s on kernels",
    "engine.jobs": "warm_pass_s on relational",
    "engine.stages": "warm_pass_s on relational",
    "engine.tasks": "warm_pass_s on relational",
    "engine.executor_run_s": "warm_pass_s on relational",
    "engine.executor_cpu_s": "warm_pass_s on relational",
    "engine.jvm_gc_s": "warm_pass_s on relational",
    "engine.shuffle_write_bytes": "warm_pass_s on relational",
    "engine.spill_bytes": "warm_pass_s on relational",
    "engine.slot_busy_ratio": "warm_pass_s on relational",
    "engine.driver_gap_s": "warm_pass_s and query_p50_s on relational",
    "engine.driver_gap_s.cold": "first_pass_s, all workloads",
    "python.nodes": "warm_pass_s on kernels; 0 on relational",
    "python.worker_start_s": "warm_pass_s on kernels",
    "python.worker_start_s.cold": "first_pass_s on kernels",
    "python.worker_init_s": "warm_pass_s on kernels",
    "python.worker_init_s.cold": "first_pass_s on kernels",
    "python.worker_run_s": "warm_pass_s on kernels",
    "python.arrow_bytes_in": "warm_pass_s on kernels",
    "python.arrow_bytes_out": "warm_pass_s on kernels",
    "transfer.rows": "warm_pass_s on relational",
    "transfer.bytes": "warm_pass_s on relational",
    "transfer.s": "warm_pass_s on relational",
    "memory.jvm_peak_rss_mb": "nothing directly; persists and spreads trade it for warm_pass_s",
    "memory.python_peak_rss_mb": "nothing directly; grows with transfer.bytes",
    "host.cpu_ref_s": "nothing; shows host-speed shifts",
    "trace.overhead_s": "nothing; traced minus untraced warm pass",
}


def resolve(prefixes: tuple[str, ...], registry_ids) -> list[str]:
    """Map id prefixes to full registry ids; each prefix must match
    exactly one id."""
    by_prefix: dict[str, list[str]] = {}
    for qid in registry_ids:
        by_prefix.setdefault(qid.split("_", 1)[0], []).append(qid)
    out = []
    for p in prefixes:
        hits = by_prefix.get(p, [])
        if len(hits) != 1:
            raise KeyError(f"query prefix {p!r} matches {hits!r}")
        out.append(hits[0])
    return out
