"""Semantic tests for the round-3 analytics operators (e11, i09,
i10, l33) — each pins the operator's MEANING, beyond the oracle
hash-parity that tests/test_contract.py already enforces."""

from __future__ import annotations

from collections import defaultdict

from hadoop_release_spark.catalog import table
from hadoop_release_spark.plans.e_windows import SESSION_GAP_US, e11_sessionize
from hadoop_release_spark.plans.i_mapreduce import (
    PR_BASE,
    PR_ITERS,
    PR_TELEPORT,
    i09_mr_inverted_index,
    i10_mr_pagerank,
)
from hadoop_release_spark.plans.l_pipeline import l33_quantize_embeddings

from pyspark.sql import functions as F


def test_sessionize_partitions_events_and_respects_gap(spark, sf_dir):
    """Sessions must tile each user's stream exactly: every event in
    one session, intra-session gaps ≤ threshold, inter-session gaps
    > threshold, session bounds consistent."""
    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("t_us"))
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r["t_us"])
    for times in by_user.values():
        times.sort()

    sessions = e11_sessionize(spark, sf_dir).collect()
    assert sum(s["n_events"] for s in sessions) == len(ev)

    by_user_sess = defaultdict(list)
    for s in sessions:
        assert s["start_us"] <= s["end_us"]
        by_user_sess[s["user_id"]].append(s)
    assert set(by_user_sess) == set(by_user)

    for uid, sess in by_user_sess.items():
        sess.sort(key=lambda s: s["start_us"])
        # consecutive sessions separated by more than the gap
        for a, b in zip(sess, sess[1:]):
            assert b["start_us"] - a["end_us"] > SESSION_GAP_US
        # session boundaries re-derived from the raw stream agree
        expected = 1
        times = by_user[uid]
        for prev, cur in zip(times, times[1:]):
            if cur - prev > SESSION_GAP_US:
                expected += 1
        assert len(sess) == expected
        assert sess[0]["start_us"] == times[0] and sess[-1]["end_us"] == times[-1]


def test_inverted_index_postings_are_correct_and_sorted(spark, sf_dir):
    docs = {
        r["doc_id"]: set(t for t in r["text"].split(" ") if t)
        for r in table(spark, sf_dir, "documents").collect()
    }
    rows = i09_mr_inverted_index(spark, sf_dir).collect()
    seen_terms = set()
    for r in rows:
        seen_terms.add(r["term"])
        postings = [int(x) for x in r["postings"].split(",")]
        assert postings == sorted(postings)
        assert len(postings) == r["df"]
        for d in postings:
            assert r["term"] in docs[d], (r["term"], d)
    assert seen_terms == set().union(*docs.values())


def test_pagerank_matches_pure_python_integer_replay(spark, sf_dir):
    """Replay the exact integer-arithmetic recurrence in pure Python
    over the collected edge list — the Spark loop must reproduce it
    bit-for-bit (that is the whole determinism design)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    edges = {
        (r["src"], r["dst"])
        for r in (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .filter(F.col("s_nationkey") != F.col("c_nationkey"))
            .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
            .distinct()
            .collect()
        )
    }
    nodes = [r["n_nationkey"] for r in table(spark, sf_dir, "nation").collect()]
    pr = _pagerank_replay(edges, nodes)

    got = {
        r["n_nationkey"]: r["pagerank_scaled"]
        for r in i10_mr_pagerank(spark, sf_dir).collect()
    }
    assert got == pr
    # ranks differentiated: the trade graph is not rank-uniform
    assert len(set(pr.values())) > 1


def _pagerank_replay(edges, nodes) -> dict:
    """The oracle's integer recurrence over a set of (src, dst) edges:
    out-degree counts every edge, only a src in ``nodes`` contributes
    and only a dst in ``nodes`` is ranked."""
    outdeg = defaultdict(int)
    for src, _ in edges:
        outdeg[src] += 1
    pr = {v: PR_BASE for v in nodes}
    for _ in range(PR_ITERS):
        incoming = defaultdict(int)
        for src, dst in edges:
            if src in pr:
                incoming[dst] += pr[src] // outdeg[src]
        pr = {v: PR_TELEPORT + (85 * incoming[v]) // 100 for v in nodes}
    return pr


def test_pagerank_hand_written_graph_edge_cases(spark, tmp_path):
    """i10 on a five-table graph written by hand. Nation 4 has no
    in-edges, so its rank is exactly the teleport term; nation 3 has
    no out-edges. Edges from a supplier nation (8) and to a customer
    nation (9) that are not in ``nation``, a same-nation order and a
    repeated edge must change nothing. Spark, the DuckDB oracle and
    the integer replay agree."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_release_spark.plans.i_mapreduce import _pagerank_oracle

    # (supplier nation, customer nation) of each order line
    lines = [(0, 1), (0, 2), (0, 2), (1, 0), (1, 2), (2, 0), (2, 3), (8, 1), (0, 9), (1, 1)]
    i64, i32 = pa.int64(), pa.int32()
    tables = {
        "nation": {"n_nationkey": pa.array(range(5), i32)},
        "supplier": {
            "s_suppkey": pa.array(range(len(lines)), i64),
            "s_nationkey": pa.array([s for s, _ in lines], i32),
        },
        "customer": {
            "c_custkey": pa.array(range(len(lines)), i64),
            "c_nationkey": pa.array([c for _, c in lines], i32),
        },
        "orders": {
            "o_orderkey": pa.array(range(len(lines)), i64),
            "o_custkey": pa.array(range(len(lines)), i64),
        },
        "lineitem": {
            "l_orderkey": pa.array(range(len(lines)), i64),
            "l_suppkey": pa.array(range(len(lines)), i64),
        },
    }
    con = duckdb.connect()
    for name, cols in tables.items():
        path = tmp_path / f"{name}.parquet"
        pq.write_table(pa.table(cols), path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    want = _pagerank_replay({(s, c) for s, c in lines if s != c}, range(5))
    got = {
        r["n_nationkey"]: r["pagerank_scaled"]
        for r in i10_mr_pagerank(spark, str(tmp_path)).collect()
    }
    oracle = dict(con.execute(_pagerank_oracle()).fetchall())
    con.close()
    assert got == want == oracle
    assert got[4] == PR_TELEPORT
    assert got[3] > PR_TELEPORT  # ranked by its in-edge, passes nothing on


def test_quantize_embeddings_codes_bounded_and_invertible(spark, sf_dir):
    """Codes in [0,255]; dequantization reconstructs each value to
    within half a grid cell of the per-dimension range."""
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    dims = len(next(iter(vecs.values())))
    mn = [min(v[i] for v in vecs.values()) for i in range(dims)]
    mx = [max(v[i] for v in vecs.values()) for i in range(dims)]

    rows = l33_quantize_embeddings(spark, sf_dir).collect()
    assert {r["vec_id"] for r in rows} == set(vecs)
    for r in rows:
        codes = [int(x) for x in r["q8"].split(",")]
        assert len(codes) == dims
        for i, q in enumerate(codes):
            assert 0 <= q <= 255
            cell = (mx[i] - mn[i]) / 255 if mx[i] > mn[i] else 0.0
            recon = mn[i] + q * cell
            assert abs(recon - vecs[r["vec_id"]][i]) <= cell / 2 + 1e-9


def test_histogram_buckets_tile_and_account_for_every_event(spark, sf_dir):
    from hadoop_release_spark.plans.d_aggregates import HIST_WIDTH, d18_histogram

    vals = [
        r["value"] for r in table(spark, sf_dir, "events").select("value").collect()
    ]
    rows = d18_histogram(spark, sf_dir).collect()
    assert sum(r["n_events"] for r in rows) == len(vals)
    for r in rows:
        assert r["lo"] == r["bucket"] * HIST_WIDTH and r["hi"] == r["lo"] + HIST_WIDTH
        in_bucket = [v for v in vals if r["lo"] <= v < r["hi"]]
        assert len(in_bucket) == r["n_events"]
        assert abs(sum(in_bucket) - r["sum_value"]) < 1e-4


def test_funnel_counts_match_sequential_scan_and_shrink(spark, sf_dir):
    """Replay first-match funnel semantics per user with a plain
    Python scan; counts must agree and shrink monotonically."""
    from hadoop_release_spark.plans.e_windows import (
        FUNNEL_HORIZON_US,
        FUNNEL_STEPS,
        e12_funnel,
    )

    ev = defaultdict(lambda: defaultdict(list))
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.unix_micros("ts").alias("t"))
        .collect()
    ):
        ev[r["user_id"]][r["event_type"]].append(r["t"])
    counts = [0, 0, 0]
    for types in ev.values():
        t1 = min(types[FUNNEL_STEPS[0]], default=None)
        if t1 is None:
            continue
        counts[0] += 1
        deadline = t1 + FUNNEL_HORIZON_US
        t2 = min((t for t in types[FUNNEL_STEPS[1]] if t1 < t <= deadline), default=None)
        if t2 is None:
            continue
        counts[1] += 1
        t3 = min((t for t in types[FUNNEL_STEPS[2]] if t2 < t <= deadline), default=None)
        if t3 is not None:
            counts[2] += 1

    got = {r["step"]: r["n_users"] for r in e12_funnel(spark, sf_dir).collect()}
    assert got == {1: counts[0], 2: counts[1], 3: counts[2]}
    # the horizon must actually discriminate, else the test is vacuous
    assert counts[0] > counts[1] > counts[2] > 0


def test_triangles_match_bruteforce_enumeration(spark, sf_dir):
    from itertools import combinations

    from hadoop_release_spark.plans.i_mapreduce import i11_mr_triangles

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    und = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .filter(F.col("s_nationkey") != F.col("c_nationkey"))
            .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
            .distinct()
            .collect()
        )
    }
    nodes = sorted({v for e in und for v in e})
    per_node = defaultdict(int)
    n_triangles = 0
    for a, b, c3 in combinations(nodes, 3):
        if (a, b) in und and (b, c3) in und and (a, c3) in und:
            n_triangles += 1
            per_node[a] += 1
            per_node[b] += 1
            per_node[c3] += 1

    got = {
        r["n_nationkey"]: r["n_triangles"]
        for r in i11_mr_triangles(spark, sf_dir).collect()
    }
    assert sum(got.values()) == 3 * n_triangles
    for v, cnt in per_node.items():
        assert got[v] == cnt
    assert n_triangles > 0


def test_split_is_leakage_free_and_covers_corpus(spark, sf_dir):
    """No source may appear in two splits (the leakage guarantee),
    every doc is assigned, and all three splits are non-empty."""
    from hadoop_release_spark.plans.l_pipeline import l34_split_leakage_safe

    d = table(spark, sf_dir, "documents")
    rows = l34_split_leakage_safe(spark, sf_dir).collect()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    assert sum(r["n_docs"] for r in rows) == d.count()
    assert sum(r["n_sources"] for r in rows) == d.select("source").distinct().count()
    assert sum(r["sum_chars"] for r in rows) == d.agg(F.sum("n_chars")).collect()[0][0]


def test_video_container_roundtrip_and_stride_sampling(spark, sf_dir):
    """Codec-level: SVID encode→decode is lossless and rejects
    non-SVID bytes; operator-level: every 2nd frame of each doc's
    clip appears, with channel sums matching a direct decode."""
    import numpy as np
    import pytest

    from hadoop_release_spark.operators.multimodal import (
        _doc_video,
        decode_bmp,
        decode_video,
        encode_bmp,
        encode_video,
    )
    from hadoop_release_spark.plans.m_multimodal import m05_video_framesample

    frames = [encode_bmp(4, 3, bytes(range(36))), encode_bmp(2, 2, bytes(range(12)))]
    assert decode_video(encode_video(frames)) == frames
    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x01\x02\x03garbage")

    rows = m05_video_framesample(spark, sf_dir).collect()
    docs = {r["doc_id"]: r for r in table(spark, sf_dir, "documents").collect()}
    by_doc = defaultdict(dict)
    for r in rows:
        by_doc[r["doc_id"]][r["frame_idx"]] = r
    assert set(by_doc) == set(docs)
    for doc_id in list(docs)[:25]:
        clip = decode_video(_doc_video(doc_id, docs[doc_id]["n_chars"]))
        n_frames = doc_id % 5 + 2
        assert len(clip) == n_frames
        assert set(by_doc[doc_id]) == set(range(0, n_frames, 2))
        for idx, row in by_doc[doc_id].items():
            w, h, _, rgb = decode_bmp(clip[idx])
            arr = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
            assert (row["width"], row["height"]) == (w, h)
            assert [row["sum_r"], row["sum_g"], row["sum_b"]] == list(
                arr.sum(axis=0, dtype=np.int64)
            )


def test_bloom_prune_probe_is_selective_and_exact(spark, sf_dir):
    """The bloom probe must pass every true match (no false
    negatives — guaranteed by construction, asserted anyway) and
    prune the overwhelming majority of non-matching fact rows."""
    from hadoop_release_spark.plans.s_stretch import s08_bloom_prune

    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    true_keys = {r["p_partkey"] for r in p.filter(F.col("p_size") == 1).collect()}
    expected = li.filter(F.col("l_partkey").isin(true_keys)).count()

    got = s08_bloom_prune(spark, sf_dir).collect()
    assert sum(r["n_rows"] for r in got) == expected
    # selectivity: matching rows are a tiny fraction of the fact table
    assert expected < li.count() * 0.05


def test_schema_evolution_null_fills_by_generation(spark, sf_dir):
    from hadoop_release_spark.plans.a_scans import a12_schema_evolution

    rows = a12_schema_evolution(spark, sf_dir).collect()
    o = table(spark, sf_dir, "orders")
    assert len(rows) == o.count()
    for r in rows[:2000]:
        if r["o_orderkey"] % 2 == 0:  # generation 1: no o_totalprice yet
            assert r["o_custkey"] is not None and r["o_totalprice"] is None
        else:  # generation 2: o_custkey dropped
            assert r["o_custkey"] is None and r["o_totalprice"] is not None


def test_retention_triangle_consistency(spark, sf_dir):
    """Offset-0 cells must cover every cohort user exactly once;
    every cell is bounded by its cohort's size; offsets non-negative."""
    from hadoop_release_spark.plans.e_windows import e13_retention

    rows = e13_retention(spark, sf_dir).collect()
    cohort_sizes = {
        r["cohort_day"]: r["n_users"] for r in rows if r["day_offset"] == 0
    }
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    # day-0 activity includes the cohorting event itself, so offset-0
    # cells partition the user base
    assert sum(cohort_sizes.values()) == n_users
    for r in rows:
        assert r["day_offset"] >= 0
        assert 0 < r["n_users"] <= cohort_sizes[r["cohort_day"]]


def test_url_dedup_merges_messy_variants(spark, sf_dir):
    """Every canonical URL is in normalized form (no upper case, no
    :443, no tracking params), groups collapse ~10 docs each, and the
    survivor is the minimum doc_id of its group."""
    from hadoop_release_spark.plans.l_pipeline import l35_dedup_url

    rows = l35_dedup_url(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        u = r["canonical_url"]
        assert u == u.lower() and ":443" not in u and "utm_" not in u
        # canonical key is (doc_id%25, %10, %50) ⇒ doc_id ≡ survivor (mod 50)
        assert r["survivor_id"] < 50
        assert r["n_docs"] == n_docs // 50


def test_interval_bin_join_equals_exact_overlap_join(spark, sf_dir):
    """The binned plan must equal a direct (non-binned) overlap join
    computed in Spark, and each interval may expand to at most 2 bins
    (the bounded-expansion guarantee of the bin-width choice)."""
    from hadoop_release_spark.plans.c_joins import (
        IVL_BIN_DAYS,
        IVL_DAY_US,
        c20_join_interval_bins,
    )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")

    def day(c):
        return (F.unix_micros(F.col(c).cast("timestamp")) / F.lit(IVL_DAY_US)).cast(
            "bigint"
        )

    left = li.select(
        "l_returnflag",
        day("l_shipdate").alias("s"),
        (day("l_shipdate") + F.col("l_quantity").cast("bigint") % 14).alias("e"),
    )
    win = o.filter(F.col("o_orderkey") % 300 == 0).select(
        day("o_orderdate").alias("ws"), (day("o_orderdate") + 13).alias("we")
    )
    exact = {
        r["l_returnflag"]: r["n"]
        for r in left.join(
            win, (F.col("s") <= F.col("we")) & (F.col("ws") <= F.col("e"))
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        r["l_returnflag"]: r["n_pairs"]
        for r in c20_join_interval_bins(spark, sf_dir).collect()
    }
    assert got == exact and sum(got.values()) > 0

    max_bins = left.select(
        (
            (F.col("e") / IVL_BIN_DAYS).cast("bigint")
            - (F.col("s") / IVL_BIN_DAYS).cast("bigint")
            + 1
        ).alias("nb")
    ).agg(F.max("nb")).collect()[0][0]
    assert max_bins <= 2


def test_profile_stats_match_direct_queries(spark, sf_dir):
    from hadoop_release_spark.plans.d_aggregates import d19_profile_columns

    li = table(spark, sf_dir, "lineitem")
    rows = {r["column_name"]: r for r in d19_profile_columns(spark, sf_dir).collect()}
    assert set(rows) == {"l_quantity", "l_extendedprice", "l_tax", "l_shipdate"}
    n = li.count()
    for name, r in rows.items():
        assert r["n_rows"] == n and r["n_nulls"] == 0
        assert r["min_val"] <= r["max_val"]
    assert rows["l_quantity"]["n_distinct"] == li.select("l_quantity").distinct().count()
    assert rows["l_quantity"]["min_val"] == 1.0


def test_quote_detection_finds_all_self_matches_at_full_containment(spark, sf_dir):
    """Every snippet must be found in its own source doc with
    containment exactly 1.0 (the planted positive), and containment
    is asymmetric: scores are in (0, 1] regardless of doc length."""
    from hadoop_release_spark.plans.l_pipeline import l36_quote_detection

    rows = l36_quote_detection(spark, sf_dir).collect()
    snip_ids = {
        r["doc_id"]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .collect()
    }
    self_scores = {
        r["snip_id"]: r["containment"] for r in rows if r["snip_id"] == r["doc_id"]
    }
    assert set(self_scores) == snip_ids
    assert all(s == 1.0 for s in self_scores.values())
    assert all(0.0 < r["containment"] <= 1.0 for r in rows)


def test_epoch_shuffle_is_a_deterministic_permutation(spark, sf_dir):
    """Positions form an exact 1..N permutation, are stable across
    runs and repartitionings, and differ from doc_id order (the
    shuffle actually shuffles)."""
    from hadoop_release_spark.plans.l_pipeline import l37_epoch_shuffle

    a = {r["doc_id"]: r["shuffle_pos"] for r in l37_epoch_shuffle(spark, sf_dir).collect()}
    n = table(spark, sf_dir, "documents").count()
    assert sorted(a.values()) == list(range(1, n + 1))
    b = {r["doc_id"]: r["shuffle_pos"] for r in l37_epoch_shuffle(spark, sf_dir).collect()}
    assert a == b
    in_order = sum(1 for d, p in a.items() if sorted(a)[p - 1] == d)
    assert in_order < n * 0.05  # ~N·(1/N) fixed points expected for a real shuffle


def test_nested_prune_reads_only_the_selected_leaf(spark, sf_dir):
    """The physical scan's ReadSchema must contain the selected
    struct leaf and NOT the sibling fields — the nested-pruning
    guarantee a13 exists to pin."""
    from hadoop_release_spark.plans.a_scans import a13_nested_prune

    df = a13_nested_prune(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_totalprice" in scan
    assert "o_custkey" not in scan and "o_orderstatus" not in scan
    assert df.count() == table(spark, sf_dir, "orders").count()


def test_cdc_compact_latest_wins_and_deletes_tombstone(spark, sf_dir):
    """Replay the changelog per user in Python: visible iff the last
    (v, event_id) op is not a delete, with the last version/value."""
    from hadoop_release_spark.plans.e_windows import e14_cdc_compact

    log = defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("v"), "event_id", "value", "event_type")
        .collect()
    ):
        log[r["user_id"]].append((r["v"], r["event_id"], r["value"], r["event_type"]))
    expected = {}
    for uid, rows in log.items():
        v, eid, val, typ = max(rows, key=lambda t: (t[0], t[1]))
        if typ != "error":
            expected[uid] = (v, val)

    got = {
        r["user_id"]: (r["last_version"], r["last_value"])
        for r in e14_cdc_compact(spark, sf_dir).collect()
    }
    assert got == expected
    assert 0 < len(got) < len(log)  # some users tombstoned, not all


def test_gapfill_grid_is_dense_and_forward_filled(spark, sf_dir):
    """The grid must tile each user's [first, last] day span exactly
    once per day, observed days must carry their own total, and every
    gap day must carry the most recent observed total."""
    from hadoop_release_spark.plans.e_windows import (
        DAY_US,
        GAPFILL_USER_MOD,
        e15_gapfill,
    )

    rows = sorted(
        (r["user_id"], r["day"], r["filled_total"], r["n_events"], r["observed"])
        for r in e15_gapfill(spark, sf_dir).collect()
    )
    by_user = defaultdict(list)
    for uid, day, total, n, obs in rows:
        by_user[uid].append((day, total, n, obs))

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") % GAPFILL_USER_MOD == 0)
        .select("user_id", (F.unix_micros("ts") / F.lit(DAY_US)).cast("bigint").alias("day"))
        .collect()
    )
    observed_days = defaultdict(set)
    for r in ev:
        observed_days[r["user_id"]].add(r["day"])
    assert set(by_user) == set(observed_days)

    gaps = 0
    for uid, seq in by_user.items():
        days = [d for d, *_ in seq]
        assert days == list(range(min(days), max(days) + 1))  # dense, no dupes
        last = None
        for day, total, n, obs in seq:
            if obs:
                assert day in observed_days[uid] and n > 0
                last = total
            else:
                gaps += 1
                assert day not in observed_days[uid] and n == 0
                assert total == last  # carried forward, span starts observed
    assert gaps > 0  # the fixture actually has holes to fill


def test_bm25_matches_python_reference(spark, sf_dir):
    """Recompute BM25 end-to-end in Python (tokenize → tf/df/dl →
    Robertson idf → per-doc top-5 on the rounded score) and demand
    the identical rank table."""
    import math

    from hadoop_release_spark.plans.l_llm_ext import (
        BM25_B,
        BM25_K1,
        BM25_TOP_TERMS,
        l38_bm25,
    )

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    n = len(docs)
    dl = {d: len(toks) for d, toks in docs.items()}
    avgdl = float(sum(dl.values())) / float(n)
    df = defaultdict(int)
    for toks in docs.values():
        for t in set(toks):
            df[t] += 1

    expected = set()
    for d, toks in docs.items():
        tf = defaultdict(int)
        for t in toks:
            tf[t] += 1
        scored = []
        for t, f in tf.items():
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s = idf * (f * (BM25_K1 + 1.0)) / (
                f + BM25_K1 * (1.0 - BM25_B + (BM25_B * dl[d]) / avgdl)
            )
            scored.append((-round(s, 4), t))
        for rank, (_, t) in enumerate(sorted(scored)[:BM25_TOP_TERMS], start=1):
            expected.add((d, t, rank))

    got = {
        (r["doc_id"], r["term"], r["term_rank"])
        for r in l38_bm25(spark, sf_dir).collect()
    }
    assert got == expected


def test_fuzzy_join_relinks_every_probe(spark, sf_dir):
    """Every corrupted probe must re-find its own source row at edit
    distance exactly 1, and nothing may match beyond the threshold."""
    from hadoop_release_spark.plans.c_joins import (
        FUZZY_MAX_DIST,
        FUZZY_PROBE_MOD,
        c21_join_fuzzy,
    )

    probes = {
        r["p_partkey"]
        for r in table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % FUZZY_PROBE_MOD == 0)
        .collect()
    }
    assert probes  # the slice is non-empty at every fixture SF
    rows = c21_join_fuzzy(spark, sf_dir).collect()
    self_links = {r["probe_key"] for r in rows if r["probe_key"] == r["match_key"]}
    assert self_links == probes
    for r in rows:
        if r["probe_key"] == r["match_key"]:
            assert r["dist"] == 1  # one dropped character
        assert 0 <= r["dist"] <= FUZZY_MAX_DIST


def test_zorder_buckets_tile_the_table(spark, sf_dir):
    """Bucket counts must sum to the table; each bucket's z-range
    must stay inside its slot; and the interleave must be the real
    Morton curve (pinned against a Python reference on literals)."""
    from hadoop_release_spark.plans.a_scans import (
        ZORDER_BITS,
        ZORDER_BUCKETS,
        _z_interleave,
        a14_zorder_layout,
    )

    rows = a14_zorder_layout(spark, sf_dir).collect()
    step = (1 << (2 * ZORDER_BITS)) // ZORDER_BUCKETS
    assert sum(r["n_rows"] for r in rows) == table(spark, sf_dir, "orders").count()
    # min-max normalization must actually spread the curve — a
    # degenerate layout (small-domain dims → constant top bits → one
    # bucket) is exactly what a14 exists to avoid.
    assert len(rows) >= ZORDER_BUCKETS // 2
    for r in rows:
        lo, hi = r["z_bucket"] * step, (r["z_bucket"] + 1) * step
        assert lo <= r["min_z"] <= r["max_z"] < hi

    def morton(x: int, y: int) -> int:
        z = 0
        for i in range(ZORDER_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for x, y in [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321)]:
        got = spark.sql(
            f"SELECT {_z_interleave(str(x), str(y), 'spark')} AS z"
        ).first()["z"]
        assert got == morton(x, y)


def test_active_users_rolling_window_matches_python(spark, sf_dir):
    """DAU and trailing-7-day WAU recomputed naively in Python must
    match exactly, and WAU must dominate DAU everywhere."""
    from hadoop_release_spark.plans.e_windows import DAY_US, WAU_DAYS, e16_active_users

    pairs = set()
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", (F.unix_micros("ts") / F.lit(DAY_US)).cast("bigint").alias("day"))
        .collect()
    ):
        pairs.add((r["user_id"], r["day"]))
    days = {d for _, d in pairs}
    max_day = max(days)
    expected = {}
    for d in range(min(days), max_day + 1):
        dau = {u for u, dd in pairs if dd == d}
        wau = {u for u, dd in pairs if d - WAU_DAYS < dd <= d}
        if wau:  # a day appears iff some activity falls in its window
            expected[d] = (len(dau), len(wau))

    got = {
        r["day"]: (r["dau"], r["wau"]) for r in e16_active_users(spark, sf_dir).collect()
    }
    assert got == expected
    assert all(wau >= dau for dau, wau in got.values())


def test_trend_ols_matches_numpy_lstsq(spark, sf_dir):
    """Per-user slope/intercept must agree with numpy's least-squares
    fit to ~1e-9, and single-day users must be excluded."""
    import numpy as np

    from hadoop_release_spark.plans.d_aggregates import _OLS_DAY_US, d20_trend_ols

    ev = defaultdict(list)
    for r in (
        table(spark, sf_dir, "events")
        .select("user_id", (F.unix_micros("ts") / F.lit(_OLS_DAY_US)).cast("bigint").alias("day"), "value")
        .collect()
    ):
        ev[r["user_id"]].append((r["day"], r["value"]))
    day0 = min(d for rows in ev.values() for d, _ in rows)

    got = {r["user_id"]: r for r in d20_trend_ols(spark, sf_dir).collect()}
    for uid, rows in ev.items():
        xs = np.array([d - day0 for d, _ in rows], dtype=float)
        ys = np.array([v for _, v in rows], dtype=float)
        if len(set(xs)) < 2:
            assert uid not in got  # zero x-variance keys excluded
            continue
        slope, intercept = np.polyfit(xs, ys, 1)
        assert uid in got
        assert abs(got[uid]["slope"] - slope) < 1e-9
        assert abs(got[uid]["intercept"] - intercept) < 1e-9
        assert got[uid]["n"] == len(rows)
    assert got  # fixture has fittable users


def test_d37_kernel_grp_equals_expression(spark, sf_dir):
    """r15: d37's draw+weight stage moved into an Arrow batch kernel
    (_d37_grp_kernel). The weights are rule-6 integers, so the kernel
    must reproduce the r8 expression form EXACTLY — every (status, g)
    group's 8 partial-sum columns element-for-element (bit-parity pin,
    the house discipline for every kernel that replaces an expression
    form)."""
    from hadoop_release_spark.plans.d_aggregates import (
        _d37_grp_expr,
        _d37_grp_kernel,
    )

    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    a = sorted(map(tuple, _d37_grp_expr(base).collect()))
    b = sorted(map(tuple, _d37_grp_kernel(base).collect()))
    assert a == b
