"""Physical-plan assertions: the scale posture is checked, not assumed.

These pin the Catalyst behaviors the engine's 100 TB design relies
on (SURVEY.md §4): map-side partial aggregation (the combiner),
broadcast joins for bounded dims, parquet predicate pushdown, column
pruning, and top-k fusion.
"""

from __future__ import annotations

import dataclasses
import sys
from pathlib import Path

from hadoop_release_spark.catalog import load
from hadoop_release_spark.plans.registry import all_oracles, all_queries, specs
from tests._harness import (
    AUDIT_SKIP_PREFIXES,
    build_plan,
    load_fingerprints,
    plan_fingerprint,
)


def _plan(spark, sf_dir, name: str) -> str:
    df = specs()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, sf_dir, name: str) -> str:
    df = specs()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_combiner_two_phase_agg(spark, sf_dir):
    # i05: partial (map-side) + final HashAggregate = Hadoop combiner.
    plan = _plan(spark, sf_dir, "i05_mr_combiner")
    assert plan.count("HashAggregate") >= 2, plan


def test_broadcast_join_used(spark, sf_dir):
    for name in ("c02_join_broadcast", "i06_mr_distcache_join", "c13_join_star"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"


def test_filter_pushed_to_parquet(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b03_filter_comparison")
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,30" in plan, plan


def test_column_pruning(spark, sf_dir):
    # b01 projects 4 columns; the parquet ReadSchema must not include
    # unreferenced measures like l_extendedprice.
    plan = _plan(spark, sf_dir, "b01_project_columns")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "l_extendedprice" not in read_schema[0], read_schema[0]


def test_topk_fused(spark, sf_dir):
    plan = _plan(spark, sf_dir, "f02_topk_global")
    assert "TakeOrderedAndProject" in plan, plan


def test_keyset_page_prunes_and_fuses(spark, sf_dir):
    # f05's whole point: the cursor predicate reaches the scan and
    # the page fuses to per-partition heaps (no global sort).
    plan = _plan(spark, sf_dir, "f05_keyset_page")
    assert "TakeOrderedAndProject" in plan, plan
    assert "GreaterThan(o_orderkey" in plan, plan


def test_semi_anti_rewrites(spark, sf_dir):
    assert "LeftSemi" in _optimized(spark, sf_dir, "c07_join_semi")
    assert "LeftAnti" in _optimized(spark, sf_dir, "c08_join_anti")
    # c17: Catalyst must decorrelate EXISTS → left-semi and
    # NOT EXISTS → left-anti in one plan (TPC-H Q21 shape).
    q21 = _optimized(spark, sf_dir, "c17_exists_chains")
    assert "LeftSemi" in q21 and "LeftAnti" in q21, q21


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    # c15: both sides bucketed on the join key → a sort-merge join
    # with zero shuffle exchanges (bucket files read pairwise).
    plan = _plan(spark, sf_dir, "c15_join_bucketed")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_partition_pruning_on_partitioned_sink(spark, sf_dir):
    """a06's layout promise: re-reading a partitioned sink with a
    partition-key predicate must prune directories at planning time
    (PartitionFilters in the scan), not filter rows after reading."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.sources.roundtrip import scratch_dir

    ev = table(spark, sf_dir, "events").drop("ts_ns")
    path = scratch_dir("prune")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_type" in pf[0], plan


def test_lsh_band_shuffle_carries_slim_rows(spark, sf_dir):
    """Guard the dedup.py candidate-generation optimization: the band
    self-join must shuffle only (id, band, bucket) — if the shingle
    or signature arrays ever leak into the exchange before the join,
    payload width through that shuffle is what breaks at 100 TB.
    Assert no Exchange in the plan carries the wide columns."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.operators.dedup import lsh_candidate_pairs

    d = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(d, id_col="doc_id", text_col="text")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = pairs._jdf.queryExecution().explainString(mode)
    # Formatted explain: "(n) Exchange" followed by an "Input [k]:
    # [cols]" line naming exactly what flows through that exchange.
    lines = plan.splitlines()
    exchange_inputs = [
        next(
            (l2 for l2 in lines[i + 1 : i + 4] if l2.strip().startswith("Input")),
            "",
        )
        for i, line in enumerate(lines)
        if "Exchange" in line and line.strip().startswith("(")
    ]
    band_exchanges = [l for l in exchange_inputs if "__band" in l or "__bucket" in l]
    assert band_exchanges, plan  # the band shuffle must exist at all
    for l in band_exchanges:
        assert "__shingles" not in l and "__sig" not in l, l


def test_lsh_hashing_lives_in_kernel_not_jvm_lambdas(spark, sf_dir):
    """Guard the dedup.py sketch staging. History: round 7 pinned
    one md5+conv per SHINGLE (CollapseProject re-nested it inside
    the per-permutation array_min lambda — 64× the md5 cost);
    round 13 moved shingle construction + hashing into an Arrow
    kernel, and since r16 the fused shingle_sketch_sig kernel emits
    the shingles AND the finished MinHash signature (bit-parity-
    pinned against the expression chain in tests/_dedup_reference.py),
    so the contract is: the JVM plan contains NO md5/conv expression
    at all on the sketch path (a reappearance means a refactor
    silently fell back to the interpreted string-building lambdas —
    the ~60% wall round 13 removed), and no array_min permutation
    lambda either."""
    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.functions.materialize import release
    from hadoop_release_spark.operators.dedup import lsh_candidate_pairs

    d = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(d, id_col="doc_id", text_col="text")
    try:
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()
        assert not any("md5" in l for l in lines), plan[:800]
        assert not any("array_min" in l for l in lines), plan[:800]
        # the kernel must actually be there
        assert "_sk(" in plan or "shingle" in plan.lower(), plan[:800]
    finally:
        release()


@dataclasses.dataclass(frozen=True)
class _BnljGrant:
    """One BroadcastNestedLoopJoin allowlist entry, as DATA: the
    bounded-side shape that makes the O(N·M) join acceptable, and the
    condition under which the grant dies and the query must re-plan.
    A grant without a non-empty exit condition cannot be constructed
    — the allowlist cannot silently become a rubber stamp."""

    shape: str           # what the broadcast side IS (and its bound)
    exit_condition: str  # when this grant expires → required re-plan

    def __post_init__(self) -> None:
        if not self.shape.strip() or not self.exit_condition.strip():
            raise ValueError(
                "BNLJ grant requires both a shape and an exit condition"
            )


#: Shared shapes/exits (most grants are the same O(N·1) pattern).
_SINGLE_ROW = "single-row global-stats broadcast crossJoin (O(N·1))"
_SINGLE_ROW_EXIT = (
    "the stats side ever exceeds one row per grouping → rewrite as an "
    "equi-join on the grouping key"
)


def _stats_row(what: str) -> _BnljGrant:
    return _BnljGrant(f"{_SINGLE_ROW}: {what}", _SINGLE_ROW_EXIT)


#: name → grant. The hygiene sweep derives its allowed-name set from
#: the keys; the failure message prints this table so a reviewer sees
#: every standing justification next to the violation.
_BNLJ_ALLOWLIST: dict[str, _BnljGrant] = {
    "c09_join_cross": _BnljGrant(
        "5 regions × 5-row broadcast — the deliberate cross-join demo",
        "either side stops being a constant-size dimension",
    ),
    "l08_knn_query": _BnljGrant(
        "corpus × ONE broadcast query vector",
        "more than a bounded batch of query vectors → l19 IVF probe",
    ),
    "l09_knn_join": _BnljGrant(
        "corpus × bounded query set (vec_id < 20, docstring bound; "
        "broadcast-guard test fails if the bound is lifted)",
        "query set scales with the corpus → l19 IVF candidate "
        "generator (tripwire: test_l09_broadcast_guard)",
    ),
    "l13_ngram_jaccard": _BnljGrant(
        "explicitly bounded verify stage over LSH candidate pairs",
        "candidate pairs stop being LSH-bounded → band-key equi-join",
    ),
    "l19_knn_ivf": _BnljGrant(
        "corpus × broadcast CENTROID set (K ≈ √N, never corpus-scale)",
        "K stops fitting a broadcast → hierarchical / PQ assignment",
    ),
    "l71_ivf_pq": _BnljGrant(
        "bounded query batch × broadcast centroid table (the probe "
        "ranking; K ≈ √N adaptive stride) — corpus assignment is the "
        "same broadcast-argmin, codes join by key",
        "query set scales with the corpus → batch the probe ranking "
        "through the Arrow kernel / cluster-keyed equi-join",
    ),
    # l48's grant removed round 13: the kernel rewrite made its plan
    # scan → MapInPandas → project (no join of any kind; see
    # test_l48_argmax_is_kernel_no_exchange).
    "l49_hard_negative_mining": _BnljGrant(
        "corpus × broadcast anchor batch (bounded per docstring)",
        "anchor batch scales with the corpus → l19 IVF candidate "
        "generator (tripwire test)",
    ),
    "l33_quantize_embeddings": _stats_row("per-dimension min/max row"),
    "s08_bloom_prune": _stats_row("few-KB bloom filter mask"),
    "a14_zorder_layout": _stats_row("min/max normalization row"),
    "e16_active_users": _stats_row("data-horizon scalar"),
    "d21_heavy_hitters": _stats_row("global total row"),
    "d23_hist_equidepth": _stats_row("global count row"),
    "d29_ratio_to_report": _stats_row("grand total → 25-row rollup"),
    "d31_benford": _stats_row("order grand total → 9-row histogram"),
    "l43_lm_score": _stats_row("corpus token total T"),
    "l73_perplexity_buckets": _stats_row(
        "corpus token total T (l43's shared scoring CTE)"
    ),
    "e29_rfm_segments": _stats_row("population count"),
    "d32_ks_test": _stats_row("totals/max/argmin rows → ECDF table"),
    "d33_chi_square": _BnljGrant(
        "5×5 bounded category-lattice margin grid (c09 shape) + the "
        "single-row grand-total broadcast",
        "category domains stop being enum-bounded → key equi-join",
    ),
    "a16_validate_constraints": _stats_row("1-row orphan count (O(1·1))"),
    "l54_kneser_ney": _stats_row("N_types scalar → bigram table"),
    "l57_mlm_masking": _stats_row("vocab-size scalar"),
    "d38_kaplan_meier": _stats_row("data horizon + total (two rows)"),
    "d47_nelson_aalen": _stats_row(
        "data horizon + total (two rows; d38's shared _survival_risk)"
    ),
    "d39_psi_drift": _stats_row("9 decile bounds row"),
    "g10_relational_division": _stats_row(
        "1-row data-defined divisor count (corpus-wide distinct "
        "priorities)"
    ),
    "d50_mann_kendall": _BnljGrant(
        "day-grid × day-grid sign pair join over the DAILY aggregate "
        "(calendar-bounded |days|² — d43's granted bounded-domain "
        "exception) + three 1-row stats frames cross-joined at O(1)",
        "the grid stops being calendar-bounded (sub-day grain) → "
        "d44's bin-bucketed pair shape",
    ),
    "d49_jensen_shannon": _stats_row(
        "9 GLOBAL decile bounds row (d39's grant; the pair join "
        "itself is an equi-join on the bucket over the "
        "|sources|×10 probability aggregate)"
    ),
    "e39_autocorrelation": _BnljGrant(
        "day-grid × 2-row LAG list broadcast (O(days·2))",
        "lag list stops being a constant few rows → unpivot + "
        "equi-join on (day, lag)",
    ),
    "d51_ljung_box": _BnljGrant(
        "day-grid × 7-row LAG list broadcast (e39's shape) + 1-row "
        "ACF-denominator broadcast",
        "lag horizon stops being a constant few rows → unpivot + "
        "equi-join on (rn, lag)",
    ),
    "d43_theil_sen": _BnljGrant(
        "day-grid × day-grid theta self-join over the DAILY aggregate "
        "(calendar-bounded, |days|² pairs — the e39/d33 "
        "bounded-domain exception) + 1-row day-count / median "
        "broadcasts",
        "the grid stops being calendar-bounded (sub-day grain) → "
        "bin-bucketed c11/c20 interval shape",
    ),
    "l62_kn_perplexity": _stats_row("N_types scalar (l54 shape)"),
    "d44_theil_sen_hourly": _stats_row(
        "1-row hour-count and median+pair-count broadcasts (d43 "
        "assembly pattern; the pair join itself is the bin-bucketed "
        "EQUI join — never granted BNLJ)"
    ),
}


def _bnlj_table() -> str:
    """The allowlist rendered for assertion messages: every standing
    grant with its shape and exit condition."""
    return "\n".join(
        f"  {n}: {g.shape}\n      exit: {g.exit_condition}"
        for n, g in sorted(_BNLJ_ALLOWLIST.items())
    )


#: The ONLY queries allowed to contain each anti-pattern node.
#: BroadcastNestedLoopJoin membership is DERIVED from the structured
#: grant table above — a new entry physically cannot be added without
#: a shape and an exit condition.
_PLAN_NODE_ALLOWLIST = {
    "BroadcastNestedLoopJoin": set(_BNLJ_ALLOWLIST),
    # Row-at-a-time Python eval: k01 is the deliberate API-coverage
    # UDF; k05's UDTF eval is row-wise by definition of the API.
    "BatchEvalPython": {"k01_udf_python", "k05_udtf"},
    # Never acceptable at any scale.
    "CartesianProduct": set(),
}


def test_registry_wide_plan_hygiene(spark, sf_dir):
    """Sweep EVERY pure query's physical plan for scale anti-pattern
    nodes and pin the exact allowlist — a new operator that sneaks in
    an unbounded nested-loop join or a row-wise Python stage fails
    here, not at 100 TB — and diff each plan's fingerprint against
    tests/plan_fingerprints.json, so every plan change is intentional.

    Plans are built through ``all_queries()``, so ``release()`` frees
    the previous query's persists first (none can be substituted into
    this plan as an InMemoryTableScan), and every table is loaded
    before the sweep, so schema-inference jobs never count as the
    first reader's eager jobs."""
    load(spark, sf_dir)
    committed = load_fingerprints(sf_dir)
    found = {pat: set() for pat in _PLAN_NODE_ALLOWLIST}
    fingerprints = {}
    for name, fn in all_queries().items():
        if name.startswith(AUDIT_SKIP_PREFIXES):
            continue
        df, eager_jobs = build_plan(spark, name, fn, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for pat in _PLAN_NODE_ALLOWLIST:
            if pat in plan:
                found[pat].add(name)
        fingerprints[name] = plan_fingerprint(df, eager_jobs)
    for pat, names in found.items():
        extra = names - _PLAN_NODE_ALLOWLIST[pat]
        detail = (
            f"\nStanding BNLJ grants (name: shape / exit):\n{_bnlj_table()}\n"
            "A new grant needs BOTH a bounded-side shape and an exit "
            "condition (add a _BnljGrant in tests/test_plans.py) — or "
            "fix the plan."
            if pat == "BroadcastNestedLoopJoin"
            else ""
        )
        assert not extra, (
            f"{pat} appeared outside its allowlist: {sorted(extra)}{detail}"
        )
    drift = [
        f"  {name}: {committed.get(name)} -> {fingerprints.get(name)}"
        for name in sorted(set(committed) | set(fingerprints))
        if committed.get(name) != fingerprints.get(name)
    ]
    assert not drift, (
        "plan fingerprints changed (id: committed -> now); if intended, "
        "record them with `python scripts/sweep.py ID ... --write-fingerprints`:\n"
        + "\n".join(drift)
    )


def test_sweep_checks_results_and_fingerprints(spark, sf_dir, oracle):
    """scripts/sweep.py's per-id step on this session: a plain join, an
    id whose build fires eager jobs, and a rows-only id all come back
    ok with their committed fingerprints; a wrong oracle is reported
    as a failure."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from sweep import sweep_one

    load(spark, sf_dir)
    queries, oracles, committed = all_queries(), all_oracles(), load_fingerprints(sf_dir)
    for name in ("c13_join_star", "f04_total_order_sort", "s01_approx_count_distinct"):
        r = sweep_one(spark, sf_dir, name, queries[name], oracles.get(name), oracle)
        assert r.ok and r.rows > 0, r
        assert r.fingerprint == committed[name], (name, r.fingerprint, committed[name])
    assert committed["f04_total_order_sort"].get("eager_jobs", 0) > 0
    assert "s01_approx_count_distinct" not in oracles

    wrong = "SELECT * FROM nation"
    r = sweep_one(spark, sf_dir, "c13_join_star", queries["c13_join_star"], wrong, oracle)
    assert not r.ok and r.status.startswith("MISMATCH"), r


def test_lateral_decorrelated_to_window(spark, sf_dir):
    # c24: Catalyst must decorrelate the LATERAL ORDER BY+LIMIT
    # subquery into a rank-filtered join — NEVER a per-outer-row
    # re-execution (no nested-loop of the inner query, no cartesian).
    plan = _plan(spark, sf_dir, "c24_join_lateral")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_weighted_median_windows_distinct_prices(spark, sf_dir):
    # d26: the cum-weight window must run over the (flag, cents)
    # aggregate — a HashAggregate BELOW the Window — so the window
    # input is |distinct prices|, not |lineitem|.
    plan = _plan(spark, sf_dir, "d26_weighted_median")
    assert "Window" in plan, plan
    agg_pos = plan.find("Window")
    assert "HashAggregate" in plan[agg_pos:], plan


def test_new_aggs_are_two_phase(spark, sf_dir):
    # d27/e25/l42: partial (map-side) + final HashAggregate.
    for name in (
        "d27_entropy",
        "e25_time_in_state",
        "l42_vocab_coverage",
        "d29_ratio_to_report",
    ):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("HashAggregate") >= 2, f"{name}\n{plan}"


def test_kcore_no_cartesian_no_forced_broadcast(spark, sf_dir):
    # i14: membership joins stay planner-chosen (broadcast via AQE at
    # this size), never a cartesian; the peel is a join tree, not a
    # driver-side loop over collected nodes.
    plan = _plan(spark, sf_dir, "i14_mr_kcore")
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_cusum_and_streaks_share_one_window_partitioning(spark, sf_dir):
    # e26: three window functions + e27: window and both aggs must all
    # reuse ONE partitioning after the collapsing agg — exactly two
    # exchanges total ((key, day) agg shuffle + the key shuffle); a
    # third exchange means a window spec stopped aligning.
    for name in ("e26_cusum_drift", "e27_day_streaks"):
        plan = _plan(spark, sf_dir, name)
        n_ex = plan.count("Exchange hashpartitioning")
        assert n_ex == 2, f"{name}: {n_ex} exchanges\n{plan}"


def test_corr_matrix_one_pass_two_phase(spark, sf_dir):
    # d30: all nine sufficient statistics in ONE partial+final
    # aggregate pass over a single scan — no per-pair rescan, no
    # join, no window.
    plan = _plan(spark, sf_dir, "d30_corr_matrix")
    assert plan.count("HashAggregate") == 2, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_nearest_event_single_sort_no_join(spark, sf_dir):
    # c25: all four first/last windows must reuse ONE user_id
    # exchange+sort over the interleaved stream — a nearest join
    # with zero Join nodes; the type pre-filter pushes to the scan.
    plan = _plan(spark, sf_dir, "c25_join_nearest_event")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert "PushedFilters" in plan and "In(event_type" in plan, plan


def test_seq_pattern_single_user_shuffle(spark, sf_dir):
    # e28: one user_id agg shuffle; the regexes evaluate on the
    # |users|-row aggregate, above the final HashAggregate.
    plan = _plan(spark, sf_dir, "e28_seq_pattern")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_arrow_udf_uses_arrow_eval(spark, sf_dir):
    # k09: must plan as ArrowEvalPython (Arrow transport), NOT the
    # pickled BatchEvalPython path k01 deliberately demonstrates.
    plan = _plan(spark, sf_dir, "k09_udf_arrow")
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_dpp_plants_runtime_partition_filter(spark, sf_dir):
    # c26: the fact scan's PartitionFilters must carry a
    # dynamicpruning subquery — runtime FILE pruning, not a static
    # pushdown and not row filtering after read.
    plan = _plan(spark, sf_dir, "c26_join_dpp")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("dynamicpruning" in ln for ln in pf), plan


def test_rfm_never_single_partition(spark, sf_dir):
    # e29: three GLOBAL rankings with zero single-partition stages —
    # the two-phase range-partition numbering, not a partition-less
    # row_number window.
    plan = _plan(spark, sf_dir, "e29_rfm_segments")
    # every row_number window is partitioned by the range-partition id
    # (no global-order window); the only single-partition stage allowed
    # is the one-row population-count aggregate.
    n_specs = plan.count("windowspecdefinition(")
    assert n_specs == plan.count("windowspecdefinition(__rank_pid"), plan
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "rangepartitioning" in plan, plan


def test_round5_aggs_are_two_phase(spark, sf_dir):
    # Every round-5 aggregate family must keep map-side partials:
    # partial (combiner) + final HashAggregate, the d02/i05 posture.
    for name in (
        "d31_benford",
        "d33_chi_square",
        "l44_bpe_pairs",
        "l45_dataset_card",
        "l46_feature_hashing",
        "i15_mr_matmul",
        "g08_coalesce_sources",
        "h22_hash_functions",
        "e30_windowed_funnel",
    ):
        plan = _plan(spark, sf_dir, name)
        if name in ("h22_hash_functions",):
            # pure projection: NO aggregate and NO exchange at all
            assert "HashAggregate" not in plan, f"{name}\n{plan}"
            assert "Exchange" not in plan, f"{name}\n{plan}"
        elif name in ("g08_coalesce_sources",):
            # precedence window: exactly ONE key shuffle, no agg
            assert plan.count("Exchange hashpartitioning") == 1, f"{name}\n{plan}"
        else:
            assert plan.count("HashAggregate") >= 2, f"{name}\n{plan}"


def test_windowed_funnel_filter_pushed(spark, sf_dir):
    # e30: the three-step type filter must reach the parquet scan.
    plan = _plan(spark, sf_dir, "e30_windowed_funnel")
    assert "PushedFilters" in plan and "In(event_type" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_l09_query_bound_stays_within_broadcast_scale():
    """Tripwire for l09's BroadcastNestedLoopJoin allowlist entry
    (round-5 verdict item 4): the plan is legitimate ONLY while the
    query set is a small static broadcast. If either constant drifts
    past broadcast scale, this fails before the allowlist entry can
    silently rot — the migration path is l19's IVF candidate
    generator (l09 docstring)."""
    from hadoop_release_spark.plans import l_llm

    assert l_llm._KNN_JOIN_QUERY_BOUND <= 100
    assert l_llm._KNN_JOIN_QUERY_BOUND <= l_llm._KNN_JOIN_MAX_QUERIES


def test_e31_window_and_agg_share_one_exchange(spark, sf_dir):
    """e31's docstring claim, pinned: the lead() window and the
    per-user aggregate ride ONE user_id shuffle — a second
    hash-partitioning exchange means Catalyst stopped reusing the
    partitioning and the operator pays double at 100 TB."""
    plan = _plan(spark, sf_dir, "e31_time_weighted_avg")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_l47_pq_joins_are_hash_not_nested_loop(spark, sf_dir):
    """l47's encode/LUT joins must be broadcast HASH joins on the
    subspace/code equi-keys (the hygiene sweep already bans BNLJ for
    l47; this pins the positive side so a refactor that loses the
    equi-key — e.g. moving the subspace index into a non-equi
    predicate — cannot silently downgrade the join strategy)."""
    plan = _plan(spark, sf_dir, "l47_pq_ann")
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_l50_span_schedule_is_shuffle_free(spark, sf_dir):
    """l50's docstring claim, pinned: the whole span-corruption
    schedule is map-side (per-row expressions + a bounded explode) —
    ZERO exchanges. Any refactor that introduces a shuffle (e.g. a
    groupBy for span ids) breaks the op's defining property."""
    plan = _plan(spark, sf_dir, "l50_span_corruption")
    assert "Exchange" not in plan, plan


def test_d34_windows_run_over_compressed_values(spark, sf_dir):
    """d34's docstring claim, pinned the d26 way: each cum-weight
    Window must sit ABOVE a HashAggregate (the (status, value)
    distinct-value compression) — a Window directly over the raw
    orders scan would run on |orders| rows instead of |distinct
    cents| and is the shape that dies at 100 TB. Both median levels
    also broadcast the statuses-sized table, never shuffle it."""
    plan = _plan(spark, sf_dir, "d34_mad")
    assert "BroadcastHashJoin" in plan, plan
    # Every Window's input chain must contain a HashAggregate before
    # reaching a scan: cheap proxy — the plan orders operators
    # bottom-up per subtree, so assert aggregate count strictly
    # exceeds window-stage count (partial+final pairs per level).
    assert plan.count("HashAggregate") >= 2 * plan.count("Window "), plan


def test_e34_sweep_is_day_partitioned_not_global(spark, sf_dir):
    """e34's defining scale property, pinned: the sweep-line running
    sum windows on day_id (and sessions on user_id) — NO
    partition-less window may appear, or the whole corpus funnels
    through one task at 100 TB."""
    plan = _plan(spark, sf_dir, "e34_peak_concurrency")
    assert "SinglePartition" not in plan, plan


def test_l54_statistics_reaggregate_the_bigram_table(spark, sf_dir):
    """l54's docstring claim, pinned: context/continuation counts,
    N_types, and the final spine all read the PERSISTED bigram-count
    table (InMemoryTableScan), so the corpus-wide token explode
    materializes once — a consumer reading the parquet directly
    would re-run the explode per statistic at 100 TB."""
    plan = _plan(spark, sf_dir, "l54_kneser_ney")
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_l56_assignment_is_arrow_kernel(spark, sf_dir):
    """l56's SemDeDup contract, pinned (round-12 form): cluster
    assignment runs inside the ONE MapInPandas Arrow kernel
    (rank_clusters_arrow — the corpus never fans out to N×K rows and
    never shuffles to be assigned; the old BNLJ-over-broadcast-
    centroids form measured 36× superlinear wall growth at the 10×
    rehearsal), the pair stage is the cluster-GROUPED Arrow kernel
    (semdedup_pairs_arrow — one cluster-keyed exchange feeding
    FlatMapGroupsInPandas; the round-8 hinted pair self-join's
    interpreted folds measured >570 s at gen_sf sf10), and the
    killer spine attach is a SHUFFLE join — nothing corpus-sized
    broadcasts, no cartesian or nested loop anywhere."""
    plan = _plan(spark, sf_dir, "l56_semdedup")
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # the killers→spine attach must be a SHUFFLE join — the killer
    # table is corpus-sized in the worst case and stat-less.
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_m09_band_exchange_is_slim(spark, sf_dir):
    """m09's LSH invariant (the l02/l11 rule), pinned: every
    hash-partitioning exchange carries only id/band/bucket or the
    two 32-bit hash halves — the binary payload column must never
    cross a shuffle."""
    plan = _plan(spark, sf_dir, "m09_phash_near_dup")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "payload" not in line, line


def test_l58_candidate_join_is_hash_not_broadcast_corpus(spark, sf_dir):
    """l58's defining contrast with l19, pinned (round-9 form): the
    corpus-scale candidate stage (assigned ⋈ probes on cluster) must
    be the cluster-keyed COGROUP feeding the scoring kernel — a
    FlatMapCoGroupsInPandas over two cluster-hashed exchanges. If
    the probe side (which IS the corpus) ever broadcasts, the
    operator silently becomes l09's bounded shape and dies at
    scale; if the cogroup disappears in favor of a plain join, the
    member×probe product re-materializes as interpreted per-row
    folds (measured 810-1070 s at gen_sf sf10 vs the kernel path)."""
    plan = _plan(spark, sf_dir, "l58_knn_self_join")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    # round-8: centroid ranking moved into the Arrow kernel — the
    # N×K fan-out (and its BNLJ) must stay gone.
    assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_l76_bucketed_cogroup_has_no_cluster_exchange(spark, sf_dir):
    """l76's reason to exist, pinned (round 12): with the ranked IVF
    index written bucketed by cluster, BOTH cogroup children must
    arrive hash-distributed straight off the bucketed files — the
    cluster-keyed Exchange l58 pays under its cogroup must be absent,
    and the only exchange left is the slim per-query top-k window.
    If a cluster exchange reappears, the bucketed staging is dead
    weight (paying the index write AND the shuffle)."""
    plan = _plan(spark, sf_dir, "l76_knn_self_bucketed")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "Bucketed: true" in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "query_id" in line and "cluster" not in line, line
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_l48_argmax_is_kernel_no_exchange(spark, sf_dir):
    """Round-13 rewrite pin: l48's per-vector best-eval argmax rides
    the Arrow assignment kernel (nprobe=1, eval set as centroids) —
    the plan must be scan → MapInPandas → project with ZERO
    exchanges, no window, and no |eval|·N fan-out join. The old
    rank-window form shuffled AND sorted the whole 80M-row fan-out
    at gen_sf sf10 and measured 10.55×/decade (the only row over
    the linear envelope, SCALE_REHEARSAL.json r12); a grouped-max
    repair still left 80M interpreted cosine folds as the wall. If
    a Window, Exchange, or join reappears here, the fan-out is
    back."""
    plan = _plan(spark, sf_dir, "l48_semantic_decontaminate")
    assert "MapInPandas" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_rendezvous_shard_stage_is_shuffle_free(spark, sf_dir):
    """Round-10 rewrite pin (round-9 verdict item 3): the rendezvous
    argmax over the S=8 driver-side shard constants is a pure
    projection — no explode, no per-doc window exchange. l60 must
    plan with ZERO exchanges/windows/generates; l61's only exchange
    is the shard groupBy the release writer pays anyway (the per-doc
    assignment join is gone). l70's placement tail shares the same
    rendezvous_shard() helper, so these pins cover its construction
    too (l70's own plan keeps its LSH-stage Generates)."""
    plan60 = _plan(spark, sf_dir, "l60_rendezvous_sharding")
    assert "Exchange" not in plan60, plan60
    assert "Window" not in plan60 and "Generate" not in plan60, plan60
    plan61 = _plan(spark, sf_dir, "l61_shard_manifest")
    assert plan61.count("Exchange hashpartitioning") == 1, plan61
    assert "Window" not in plan61 and "Generate" not in plan61, plan61


def test_l28_single_kernel_pass_reused_exchange(spark, sf_dir):
    """Round-13 topology pin: l28's gram kernel must run as the map
    stage of ONE gram-keyed exchange that every consumer reuses.
    The persisted round-12 form let the three consumers' concurrent
    leaf stages race the cache and re-run the kernel (~3× the
    pre-materialized stage sum at gen_sf sf10); a plain repartition
    still split the train subtree through the df-guard anti-join.
    The window form pins: after execution, the FINAL adaptive plan
    holds exactly one ArrowEvalPython, a ReusedExchange for the
    second window branch, no InMemoryRelation (no cache to race),
    and the pair join arrives co-partitioned (no exchange between
    the windows and the SortMergeJoin)."""
    import re

    # At fixture scale AQE flips the pair join to broadcast, whose
    # exchange subtree defeats reuse — force the AT-SCALE shape (the
    # one the sf10 measurements run, where both sides exceed any
    # broadcast threshold) so the pin guards the plan that matters.
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        df = specs()["l28_decontaminate"].fn(spark, sf_dir)
        df.collect()
        jvm = spark._jvm
        final = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # the formatted explain prints the FINAL plan tree, then the
    # initial (pre-AQE) tree and the node dictionary; count kernels
    # in the final tree only — the initial tree legitimately shows
    # the un-reused branches AQE collapses at runtime
    tree = final.split("== Initial Plan ==")[0]
    assert len(re.findall(r"ArrowEvalPython", tree)) == 1, tree
    assert "ReusedExchange" in tree, tree
    assert "InMemoryRelation" not in tree, tree
    assert "Window" in tree, tree


def test_l66_single_kernel_pass_reused_exchange(spark, sf_dir):
    """Round-13 topology pin (the l28 treatment applied to l66): the
    shingle kernel must run as the map stage of ONE shingle-keyed
    exchange; the df guard rides a window over it and the self-join's
    two sides read the REUSED stage co-partitioned. The old form
    persisted the posting list for three racing consumers and paid a
    separate df-agg + join pass."""
    import re

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        df = specs()["l66_containment_dedup"].fn(spark, sf_dir)
        df.collect()
        jvm = spark._jvm
        final = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    tree = final.split("== Initial Plan ==")[0]
    assert len(re.findall(r"ArrowEvalPython", tree)) == 1, tree
    assert "ReusedExchange" in tree, tree
    assert "InMemoryRelation" not in tree, tree
    assert "Window" in tree, tree


def test_l74_single_kernel_pass_reused_exchange(spark, sf_dir):
    """Round-13 topology pin for l74: the positional gram kernel runs
    as the map stage of ONE gram-keyed exchange; the distinct-doc df
    guard rides two stacked windows over it (both cluster by h — no
    second exchange) and the self-join sides read the REUSED stage.
    The old form's guard agg + semi-join raced the explode across
    concurrent stages."""
    import re

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        df = specs()["l74_exact_substring"].fn(spark, sf_dir)
        df.collect()
        jvm = spark._jvm
        final = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    tree = final.split("== Initial Plan ==")[0]
    assert len(re.findall(r"ArrowEvalPython", tree)) == 1, tree
    assert "ReusedExchange" in tree, tree
    assert "InMemoryRelation" not in tree, tree


def test_l56_imi_two_level_plan_shape(spark, sf_dir):
    """Round-14 topology pin for the two-level (IMI) SemDeDup path:
    no BroadcastNestedLoopJoin anywhere (the all-pairs tripwire
    class), no broadcast of a corpus-sized side (the only broadcast-
    class operator allowed is none — the coarse table is a driver
    COLLECT into the kernel closure, not a JVM broadcast), and the
    two Arrow kernel classes are present: mapInPandas coarse ranking
    (ArrowEvalPython/MapInPandas) plus the cluster-keyed cogroup
    (FlatMapCoGroupsInPandas) and the SemDeDup pair stage
    (FlatMapGroupsInPandas)."""
    from hadoop_release_spark.plans.l_llm_ext import l56_semdedup_imi

    df = l56_semdedup_imi(spark, sf_dir, stride=8, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "MapInPandas" in plan, plan
    assert "BroadcastExchange" not in plan, plan
