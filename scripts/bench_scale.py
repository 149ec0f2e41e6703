"""Scale rehearsal: bench the heavy tail at gen_sf sf0.1 AND sf1.0.

Round-7 verdict item 2: convert "designed for 100×" docstring claims
into MEASURED scaling. Both inputs come from scripts/gen_sf.py (same
generator, so the ratio is a pure data-volume effect — never mix the
driver's fixtures into a ratio). 10× rows with a ~linear plan should
give a wall ratio ≤ ~10 plus amortized fixed costs (session, codegen,
shuffle setup make it sublinear in practice); a ratio well above 10×
flags a superlinear plan (e.g. a candidate-pair join whose buckets
grow quadratically) that needs a plan fix or an explicit `weak` mark.

Timing recipe mirrors bench.py: one shared session, interleaved
rounds, two back-to-back reps per round (first-touch page-fault
shield), median reported, min kept as the floor.

Usage: python scripts/bench_scale.py [--quick]
       writes SCALE_REHEARSAL.json at the repo root; bench.py embeds
       that file into its one-line JSON so the driver's BENCH_r{N}
       records both scales.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hadoop_release_spark.plans.registry import all_queries  # noqa: E402
from hadoop_release_spark.session import get_session  # noqa: E402

#: The measured heavy tail (BENCH_r07 slowest) + the d02 anchor,
#: widened in round 8 with the next cost tier (LSH/gram dedup
#: chains, iterative kmeans, PQ search, window chains, two-phase
#: sorts) and the round-8 additions — scaling surprises hide in
#: queries nobody benchmarks.
HEAVY_TAIL = [
    "d02_agg_groupby",
    "d37_poisson_bootstrap",
    "l58_knn_self_join",
    "d43_theil_sen",
    "i10_mr_pagerank",
    "l28_decontaminate",
    "d26_weighted_median",
    "f06_skyline",
    "l14_dedup_embedding",
    "l56_semdedup",
    # round-8 widening
    "l02_dedup_near",
    "l22_dedup_survivors",
    "l21_kmeans",
    "l47_pq_ann",
    "l48_semantic_decontaminate",
    "e11_sessionize",
    "d23_hist_equidepth",
    "f04_total_order_sort",
    "c13_join_star",
    "e12_funnel",
    # round-8 additions
    "d44_theil_sen_hourly",
    "k12_token_bucket",
    "e42_entity_robust_anomaly_days",
    "l64_corpus_diff_drilldown",
    # round-9 additions
    "a19_dynamic_partition_overwrite",
    "d45_anova",
    "e43_seasonal_adjust",
    "e44_holt_trend",
    "l65_temperature_mix",
    # round-9b additions
    "d46_spearman",
    "d47_nelson_aalen",
    "d48_concentration",
    "f07_diversified_topk",
    "g09_symmetric_diff",
    "l66_containment_dedup",
    # round-9c additions
    "d49_jensen_shannon",
    "d50_mann_kendall",
    "d51_ljung_box",
    "e45_changepoint",
    "e46_seasonal_strength",
    "g10_relational_division",
    "l67_dsir_weights",
    "l68_minhash_calibration",
    "l69_langid_confusion",
    "m12_image_dup_survivors",
    # round-9 additions
    "l70_corpus_pipeline_v2",
    "l71_ivf_pq",
    "l72_bloom_gram_gate",
    "e47_entity_changepoint",
    "e48_entity_seasonal_adjust",
    "m13_video_dup_survivors",
    "m14_audio_dup_survivors",
    # round-11 additions
    "l74_exact_substring",
    "l75_bloom_gated_ingest",
    # round-12 addition
    "l76_knn_self_bucketed",
    # round-16 addition (r15 verdict item 7): the persisted-spine l73
    # form had no refreshed decade row
    "l73_perplexity_buckets",
]

SFS = [0.1, 1.0]

#: Second-decade tail (round-8 verdict item 3): the dedup/similarity
#: chains whose decade-1 (0.1→1.0) ratios were the highest measured —
#: a 10× ratio can hide an N^1.3 term that only shows at 100×, so
#: these get a second measured decade (1.0→10) via ``--decade2``.
DEDUP_TAIL = [
    # round-11 additions: the flagship pipeline and the two newest
    # heavy ops (l74's gram join is quadratic inside df-buckets —
    # the second decade is where a hidden N^1.3 term would show)
    "l70_corpus_pipeline_v2",
    "l74_exact_substring",
    "l75_bloom_gated_ingest",
    "l02_dedup_near",
    "l22_dedup_survivors",
    "l28_decontaminate",
    "l48_semantic_decontaminate",
    "l58_knn_self_join",
    "l66_containment_dedup",
    "l68_minhash_calibration",
    # round-12 addition: the bucketed l58 variant must be read against
    # the same O(N^1.5) design bar as l58 — and materially under
    # l58's measured slope, or the staging isn't buying anything.
    "l76_knn_self_bucketed",
    # round-12 addition: the SemDeDup pair stage is the OTHER
    # documented N^1.5 class (Σ|cluster|² within-cluster pairs) —
    # unmeasured at decade 2 until round 12, when a direct sf10 run
    # found the interpreted-fold pair join >570 s and the kernel
    # rewrite brought it to ~120-160 s; keep the row measured.
    "l56_semdedup",
    # round-13 additions (round-12 verdict item 4): m13/m14 had only
    # decade-1 rows — their dedup closures share the set-digest
    # equality shape, and group-equality closures are exactly where
    # a hidden superlinear term would surface at the second decade.
    "m13_video_dup_survivors",
    "m14_audio_dup_survivors",
    # round-14 additions (round-13 verdict item 5): the heaviest
    # NON-dedup ops that only had decade-1 evidence — xB explode
    # (d37), calendar-bounded pair tables (d43/d44), iterative graph
    # programs (i10/i12/i13), and the TeraSort shape (f04).
    "d37_poisson_bootstrap",
    "d43_theil_sen",
    "d44_theil_sen_hourly",
    "i10_mr_pagerank",
    "i12_mr_bfs",
    "i13_mr_components",
    "f04_total_order_sort",
    # round-14 additions (round-13 verdict item 3): the two-level
    # (IMI) variants of the N^1.5 cosine-verify spine — fixed-stride
    # quantizer (linear pair stage) + bounded-probe assignment.
    # Read their decade-2 ratios against the LINEAR ~10x bar, not
    # the flat forms' ~31.6x N^1.5 bar.
    "l56_semdedup_imi",
    "l70_corpus_pipeline_v2_imi",
    "l58_knn_self_imi",
]

#: Round-14: non-registry variants measurable by this script (the
#: contract freeze keeps them out of the registry; the rehearsal
#: record is their home). Each is wrapped with the registry
#: wrapper's release-at-entry discipline so persisted intermediates
#: from the PREVIOUS measurement never pollute the next rep's wall.


def _extra_queries():
    from hadoop_release_spark.plans.l_llm_ext import (
        l56_semdedup_imi,
        l58_knn_self_imi,
    )
    from hadoop_release_spark.plans.l_pipeline import (
        l70_corpus_pipeline_v2_imi,
    )
    from hadoop_release_spark.plans.registry import _wrap as wrap

    return {
        "l56_semdedup_imi": wrap(l56_semdedup_imi),
        "l70_corpus_pipeline_v2_imi": wrap(l70_corpus_pipeline_v2_imi),
        "l58_knn_self_imi": wrap(l58_knn_self_imi),
    }

SFS_DECADE2 = [1.0, 10.0]


def _ensure_fixtures(sfs: list[float]) -> dict[float, str]:
    dirs = {}
    for sf in sfs:
        d = REPO / ".localdata" / f"sf{sf:g}"
        # embeddings is the LAST table gen_sf writes — its presence
        # means the whole directory completed (review finding: a
        # generation interrupted after lineitem looked complete).
        if not (d / "embeddings.parquet").exists():
            print(f"generating gen_sf fixtures at sf={sf:g} …", file=sys.stderr)
            subprocess.run(
                [sys.executable, str(REPO / "scripts" / "gen_sf.py"), str(sf)],
                check=True,
            )
        dirs[sf] = str(d)
    return dirs


def main() -> None:
    args = sys.argv[1:]
    decade2 = "--decade2" in args
    rounds = 1 if ("--quick" in args or decade2) else 2
    for a in args:
        if a.startswith("--rounds="):
            rounds = int(a.split("=", 1)[1])
    # Optional name-prefix filter: measure only the matching heavy-
    # tail queries and MERGE their rows into the existing
    # SCALE_REHEARSAL.json (so adding a round's new ops doesn't
    # force a full re-measurement of the carried record).
    prefixes = tuple(a for a in args if not a.startswith("--"))
    sfs = SFS_DECADE2 if decade2 else SFS
    lo, hi = sfs
    dirs = _ensure_fixtures(sfs)
    # 4g result pipe (session-scoped, see get_session): f04's
    # contract output is the full sorted table — corpus-sized — so
    # its gen_sf-sf10 toPandas() legitimately carries >1g across the
    # driver boundary; the rehearsal measures that linear transfer
    # instead of aborting on the tripwire default.
    spark = get_session(
        "hadoop-release-spark-bench-scale",
        extra_confs={"spark.driver.maxResultSize": "4g"},
    )
    available = {**all_queries(), **_extra_queries()}
    pool = DEDUP_TAIL if decade2 else HEAVY_TAIL
    names = [n for n in pool if n in available]
    if prefixes:
        names = [n for n in names if n.startswith(prefixes)]

    # Warmup both scales' parquet footers + codegen once.
    for sf in sfs:
        available["d02_agg_groupby"](spark, dirs[sf]).toPandas()

    lo_key, hi_key = f"sf{lo:g}", f"sf{hi:g}"

    def _row(per_sf: dict[float, list[float]]) -> dict:
        med = {sf: round(statistics.median(per_sf[sf]), 3) for sf in sfs}
        mn = {sf: round(min(per_sf[sf]), 3) for sf in sfs}
        ratio = round(med[hi] / med[lo], 2) if med[lo] > 0 else None
        ratio_min = round(mn[hi] / mn[lo], 2) if mn[lo] > 0 else None
        return {
            f"{lo_key}_median_sec": med[lo],
            f"{hi_key}_median_sec": med[hi],
            "ratio_median": ratio,
            f"{lo_key}_min_sec": mn[lo],
            f"{hi_key}_min_sec": mn[hi],
            "ratio_min": ratio_min,
        }

    out = REPO / "SCALE_REHEARSAL.json"

    def _persist(rows: dict, reset_decade1: bool) -> dict:
        carried: dict = {}
        if out.exists():
            try:
                carried = json.loads(out.read_text())
            except ValueError:
                carried = {}
        report: dict = {
            "metric": "heavy_tail_scale_rehearsal",
            "generator": "scripts/gen_sf.py seed=42",
            "sfs": SFS,
            "row_ratio": 10.0,
            "queries": carried.get("queries", {}),
        }
        if "decade2" in carried:
            report["decade2"] = carried["decade2"]
        if decade2:
            # Second decade rows live under their own key; decade-1
            # rows are carried untouched.
            d2 = report.get(
                "decade2",
                {"sfs": SFS_DECADE2, "row_ratio": 10.0, "queries": {}},
            )
            d2["queries"].update(rows)
            report["decade2"] = d2
        else:
            if reset_decade1:
                report["queries"] = {}
            report["queries"].update(rows)
        out.write_text(json.dumps(report, indent=1) + "\n")
        return report

    samples: dict[float, dict[str, list[float]]] = {
        sf: {n: [] for n in names} for sf in sfs
    }
    rows: dict = {}
    # r15 (advisor): `report` was only assigned inside the loop — an
    # empty name filter (or rounds=0) made the final print a
    # NameError. Initialize from the persisted record unconditionally.
    report = _persist({}, False)
    # A full-pool decade-1 run resets the decade-1 record ONCE up
    # front (the old semantics), then every completed op merges
    # incrementally — a crash mid-run (round-14 find: f04's sf10
    # result blew the pre-raise maxResultSize and lost 12 minutes of
    # completed rows) never discards finished measurements again.
    reset_next = not decade2 and not prefixes
    for rnd in range(rounds):
        for name in names:
            for sf in sfs:
                for _rep in range(2):
                    t0 = time.perf_counter()
                    available[name](spark, dirs[sf]).toPandas()
                    samples[sf][name].append(time.perf_counter() - t0)
                print(
                    f"  {name} sf{sf:g}: "
                    f"{min(samples[sf][name]):.2f}s", file=sys.stderr,
                )
            rows[name] = _row({sf: samples[sf][name] for sf in sfs})
            report = _persist({name: rows[name]}, reset_next)
            reset_next = False
            if rnd == rounds - 1:
                r = rows[name]
                print(
                    f"{name}: {r[f'{lo_key}_median_sec']}s -> "
                    f"{r[f'{hi_key}_median_sec']}s  "
                    f"({r['ratio_median']}x)",
                    file=sys.stderr,
                )

    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
