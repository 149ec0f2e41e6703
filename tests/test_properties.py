"""Property-based tests (hypothesis) for operators whose correctness
arguments are algorithmic rather than fixture-specific: the two-phase
global ranker, the interval-merge island chain, and the events
dtype normalization. Each property runs a handful of examples (Spark
job per example) against an independent pure-Python reference.
"""

from __future__ import annotations

import datetime
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

T0 = datetime.datetime(2024, 6, 1)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=200
    )
)
def test_global_row_number_is_the_total_order(spark, vals):
    """rank.global_row_number must equal the 1..N rank of the sort
    (val, id) — exactly, for any multiset including heavy duplicates
    (range partitioner boundaries fall inside duplicate runs)."""
    from hadoop_release_spark.operators.rank import global_row_number

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, val long")
    out = {
        r["id"]: r["rn"]
        for r in global_row_number(df, ["val", "id"], "rn").collect()
    }
    expected = {
        rid: i + 1
        for i, (rid, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert out == expected


def _reference_merge(minutes: list[float], pad_min: float = 30.0):
    """Pure-Python island merge over ±pad intervals (the e22 rule)."""
    ivs = sorted((m - pad_min, m + pad_min) for m in minutes)
    islands: list[list[float]] = []
    for s, e in ivs:
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], e)
            islands[-1][2] += 1
        else:
            islands.append([s, e, 1])
    return [(s, e, n) for s, e, n in islands]


@settings(**_SETTINGS)
@given(
    minutes=st.lists(
        st.integers(min_value=0, max_value=24 * 60), min_size=1, max_size=40
    )
)
def test_interval_merge_matches_reference(spark, minutes):
    """e22's distributed window chain must agree with the sequential
    merge on arbitrary (including duplicate-timestamp) event sets."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e22_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(minutes)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(minutes=m) for m in minutes],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(minutes), pa.int64()),
                "event_type": pa.array(["view"] * len(minutes)),
                "value": pa.array([1.0] * len(minutes), pa.float64()),
                "props": pa.array(["{}"] * len(minutes)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = sorted(
            (r["start_us"], r["end_us"], r["n_events"])
            for r in specs()["e22_interval_merge"].fn(spark, tmp).collect()
        )
        # tz-pinned: the parquet column stores T0's naive wall-clock as
        # UTC micros, so the reference base must be computed in UTC too
        # (a bare .timestamp() would shift on any non-UTC machine).
        base_us = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        )
        want = sorted(
            (base_us + int(s * 60e6), base_us + int(e * 60e6), n)
            for s, e, n in _reference_merge([float(m) for m in minutes])
        )
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    us_vals=st.lists(
        st.integers(min_value=0, max_value=4_000_000_000_000_000),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_normalize_events_shapes_agree(spark, us_vals):
    """For ANY µs-precision instants, the ns-typed and µs-typed
    parquet layouts must normalize to identical (ts, ts_ns) rows."""
    from hadoop_release_spark.catalog import table

    outs = []
    for unit, scale in (("us", 1), ("ns", 1000)):
        tmp = tempfile.mkdtemp(prefix=f"prop_norm_{unit}_")
        try:
            tbl = pa.table(
                {
                    "event_id": pa.array(range(len(us_vals)), pa.int64()),
                    "ts": pa.array(
                        [v * scale for v in us_vals], pa.timestamp(unit)
                    ),
                    "user_id": pa.array([1] * len(us_vals), pa.int64()),
                    "event_type": pa.array(["view"] * len(us_vals)),
                    "value": pa.array([1.0] * len(us_vals), pa.float64()),
                    "props": pa.array(["{}"] * len(us_vals)),
                }
            )
            pq.write_table(tbl, f"{tmp}/events.parquet")
            outs.append(
                sorted(
                    (r["event_id"], r["ts"], r["ts_ns"])
                    for r in table(spark, tmp, "events")
                    .select("event_id", "ts", "ts_ns")
                    .collect()
                )
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    assert outs[0] == outs[1]
    # rows sort by event_id = input position, so ts_ns follows input order
    assert [t[2] for t in outs[0]] == [v * 1000 for v in us_vals]


def _write_lineitem(tmp: str, rows: list[tuple[str, int, int]]) -> None:
    """rows = (returnflag, price_cents, qty)."""
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(len(rows)), pa.int64()),
            "l_linenumber": pa.array([1] * len(rows), pa.int32()),
            "l_returnflag": pa.array([r[0] for r in rows]),
            "l_extendedprice": pa.array(
                [r[1] / 100.0 for r in rows], pa.float64()
            ),
            "l_quantity": pa.array([float(r[2]) for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/lineitem.parquet")


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "N"]),
            st.integers(min_value=0, max_value=99999),  # 2dp-exact cents
            st.integers(min_value=1, max_value=10),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_weighted_median_matches_reference(spark, rows):
    """d26's distributed cum-weight chain must equal the sequential
    lower weighted median (smallest value whose cumulative weight
    reaches half the total) for ANY weighted multiset, including
    duplicate prices (which the plan collapses pre-window)."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_d26_")
    try:
        _write_lineitem(tmp, rows)
        got = {
            r["l_returnflag"]: (r["wmedian_cents"], r["total_weight"])
            for r in specs()["d26_weighted_median"].fn(spark, tmp).collect()
        }
        want = {}
        for flag in {r[0] for r in rows}:
            pairs = sorted((c, q) for f, c, q in rows if f == flag)
            total = sum(q for _, q in pairs)
            cum = 0
            for c, q in pairs:
                cum += q
                if 2 * cum >= total:
                    want[flag] = (c, total)
                    break
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_events_cents_spaced(tmp: str, types: list[str], step_min: int) -> None:
    """Events at a configurable minute spacing (single user)."""
    n = len(types)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(minutes=i * step_min) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(types),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")


def _write_events_cents(tmp: str, cents: list[int], types: list[str]) -> None:
    n = len(cents)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(minutes=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(types),
            "value": pa.array([c / 100.0 for c in cents], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")


@settings(**_SETTINGS)
@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=99999), min_size=1, max_size=40
    )
)
def test_rolling_median_matches_reference(spark, cents):
    """e24's frame-array median must equal the sequential median of
    the last ≤5 values at every position, for any value sequence
    (odd and even frame fills, duplicates)."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e24_")
    try:
        _write_events_cents(tmp, cents, ["view"] * len(cents))
        got = {
            r["event_id"]: r["med5_cents"]
            for r in specs()["e24_rolling_median"].fn(spark, tmp).collect()
        }
        for i in range(len(cents)):
            frame = sorted(cents[max(0, i - 4) : i + 1])
            n = len(frame)
            want = (
                float(frame[n // 2])
                if n % 2 == 1
                else (frame[n // 2 - 1] + frame[n // 2]) / 2.0
            )
            assert got[i] == want, (i, got[i], want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    types=st.lists(
        st.sampled_from(["view", "click", "buy"]), min_size=2, max_size=40
    )
)
def test_time_in_state_matches_reference(spark, types):
    """e25's lead-interval aggregation must equal the sequential
    per-state dwell-time sums (1-minute spacing, single user)."""
    from collections import defaultdict

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e25_")
    try:
        _write_events_cents(tmp, [100] * len(types), types)
        got = {
            r["event_type"]: (r["n_intervals"], r["total_us"])
            for r in specs()["e25_time_in_state"].fn(spark, tmp).collect()
        }
        want: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        for t in types[:-1]:  # the last event opens no closed interval
            want[t][0] += 1
            want[t][1] += 60_000_000
        assert got == {k: tuple(v) for k, v in want.items()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    day_counts=st.lists(
        st.integers(min_value=1, max_value=50), min_size=1, max_size=30
    )
)
def test_cusum_identity_matches_recursion(spark, day_counts):
    """e26 computes S_d via the prefix-sum − running-min identity;
    it must equal the textbook clamped recursion
    S_d = max(0, S_{d-1} + x_d) for ANY daily-count sequence."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e26_")
    try:
        # one event type, one event per count unit, one day apart
        cents, types, ts = [], [], []
        for d, n in enumerate(day_counts):
            for _ in range(n):
                ts.append(T0 + datetime.timedelta(days=d))
                cents.append(100)
                types.append("view")
        n_rows = len(ts)
        tbl = pa.table(
            {
                "event_id": pa.array(range(n_rows), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * n_rows, pa.int64()),
                "event_type": pa.array(types),
                "value": pa.array([c / 100.0 for c in cents], pa.float64()),
                "props": pa.array(["{}"] * n_rows),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            r["day"]: r["cusum_up"]
            for r in specs()["e26_cusum_drift"].fn(spark, tmp).collect()
        }
        base_day = min(got)
        D, total = len(day_counts), sum(day_counts)
        s = 0
        for d, n in enumerate(day_counts):
            s = max(0, s + (D * n - total))
            assert got[base_day + d] == s, (d, got[base_day + d], s)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    days=st.sets(st.integers(min_value=0, max_value=60), min_size=1, max_size=40)
)
def test_day_streaks_match_reference(spark, days):
    """e27's islands chain must equal the sequential streak scan for
    ANY active-day set (single user; duplicates collapse upstream)."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e27_")
    try:
        day_list = sorted(days)
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(day_list)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=d) for d in day_list],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(day_list), pa.int64()),
                "event_type": pa.array(["view"] * len(day_list)),
                "value": pa.array([1.0] * len(day_list), pa.float64()),
                "props": pa.array(["{}"] * len(day_list)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        rows = specs()["e27_day_streaks"].fn(spark, tmp).collect()
        assert len(rows) == 1
        streaks, run = [], 1
        for prev, cur in zip(day_list, day_list[1:]):
            if cur == prev + 1:
                run += 1
            else:
                streaks.append(run)
                run = 1
        streaks.append(run)
        assert rows[0]["longest_streak"] == max(streaks)
        assert rows[0]["n_streaks"] == len(streaks)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    day_types=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.sampled_from(["view", "click", "buy"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_entropy_matches_reference(spark, day_types):
    """d27's algebraic form H = ln(N) − Σ n·ln(n)/N must agree with
    the definitional −Σ p·ln(p) within float noise, for any daily
    event-type mix."""
    import math
    from collections import Counter

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_d27_")
    try:
        n_rows = len(day_types)
        tbl = pa.table(
            {
                "event_id": pa.array(range(n_rows), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=d) for d, _ in day_types],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * n_rows, pa.int64()),
                "event_type": pa.array([t for _, t in day_types]),
                "value": pa.array([1.0] * n_rows, pa.float64()),
                "props": pa.array(["{}"] * n_rows),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        rows = specs()["d27_entropy"].fn(spark, tmp).collect()
        by_day = Counter()
        for d, t in day_types:
            by_day[(d, t)] += 1
        days = {d for d, _ in day_types}
        assert len(rows) == len(days)
        # map absolute epoch-days back to input day offsets (inputs
        # need not start at offset 0)
        offset = min(r["day"] for r in rows) - min(days)
        for r in rows:
            d = r["day"] - offset
            counts = [v for (dd, _), v in by_day.items() if dd == d]
            n = sum(counts)
            want = -sum((c / n) * math.log(c / n) for c in counts)
            assert r["n_events"] == n and r["n_types"] == len(counts)
            assert abs(r["entropy_nats"] - want) < 1e-6, (d, r, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_vocab_coverage_matches_reference(spark, texts):
    """l42's broadcast-vocab OOV rates must equal the sequential
    computation (top-K by count, ties by token asc) for ANY corpus —
    including empty-string tokens from split boundaries."""
    from collections import Counter

    from hadoop_release_spark.plans.l_llm_ext import _L42_VOCAB_K
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_l42_")
    try:
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, f"{tmp}/documents.parquet")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
            for r in specs()["l42_vocab_coverage"].fn(spark, tmp).collect()
        }
        counts = Counter(tok for t in texts for tok in t.split(" "))
        vocab = {
            tok
            for tok, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
                :_L42_VOCAB_K
            ]
        }
        for i, t in enumerate(texts):
            toks = t.split(" ")
            oov = sum(1 for tok in toks if tok not in vocab)
            assert got[i] == (len(toks), oov, oov / len(toks)), (i, got[i])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_lineitem_qpd(tmp: str, rows: list[tuple[int, int, int]]) -> None:
    """lineitem with (qty_e2, price_cents, disc_e2) integer measures."""
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(len(rows)), pa.int64()),
            "l_quantity": pa.array([q / 100.0 for q, _, _ in rows], pa.float64()),
            "l_extendedprice": pa.array(
                [p / 100.0 for _, p, _ in rows], pa.float64()
            ),
            "l_discount": pa.array([d / 100.0 for _, _, d in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/lineitem.parquet")


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9999),
            st.integers(min_value=0, max_value=99999),
            st.integers(min_value=0, max_value=99),
        ),
        min_size=0,
        max_size=50,
    )
)
def test_corr_matrix_matches_reference(spark, rows):
    """d30's decimal sufficient-stat corr must equal the exact
    integer-arithmetic Pearson formula for ANY 2dp measure set (two
    spread anchor rows keep every variance nonzero)."""
    import math

    from hadoop_release_spark.plans.registry import specs

    rows = rows + [(0, 0, 0), (9999, 99999, 99)]
    tmp = tempfile.mkdtemp(prefix="prop_d30_")
    try:
        _write_lineitem_qpd(tmp, rows)
        got = specs()["d30_corr_matrix"].fn(spark, tmp).collect()[0]
        n = len(rows)
        q = [r[0] for r in rows]
        p = [r[1] for r in rows]
        d = [r[2] for r in rows]

        def ref(x, y):
            num = n * sum(a * b for a, b in zip(x, y)) - sum(x) * sum(y)
            dx = math.sqrt(float(n * sum(a * a for a in x) - sum(x) ** 2))
            dy = math.sqrt(float(n * sum(b * b for b in y) - sum(y) ** 2))
            return float(num) / dx / dy

        assert got["n_rows"] == n
        assert abs(got["corr_qty_price"] - ref(q, p)) < 2e-6
        assert abs(got["corr_qty_disc"] - ref(q, d)) < 2e-6
        assert abs(got["corr_disc_price"] - ref(d, p)) < 2e-6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    cents=st.lists(
        st.integers(min_value=1, max_value=99_999_999),
        min_size=1,
        max_size=60,
    )
)
def test_benford_matches_reference(spark, cents):
    """d31's string-derived leading digit must equal str(cents)[0]
    and its shares the log10 Benford law, for any positive amounts
    (incl. powers of ten, where a float-log derivation would be
    1-ulp fragile)."""
    import math
    from collections import Counter

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_d31_")
    try:
        tbl = pa.table(
            {
                "o_orderkey": pa.array(range(len(cents)), pa.int64()),
                "o_totalprice": pa.array(
                    [c / 100.0 for c in cents], pa.float64()
                ),
            }
        )
        pq.write_table(tbl, f"{tmp}/orders.parquet")
        rows = specs()["d31_benford"].fn(spark, tmp).collect()
        want = Counter(int(str(c)[0]) for c in cents)
        assert {r["digit"]: r["n_orders"] for r in rows} == dict(want)
        t = len(cents)
        for r in rows:
            dig = r["digit"]
            assert abs(r["observed_share"] - want[dig] / t) < 2e-6
            assert abs(r["benford_share"] - math.log10(1 + 1 / dig)) < 2e-6
            assert (
                abs(r["deviation"] - (want[dig] / t - math.log10(1 + 1 / dig)))
                < 2e-6
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    types=st.lists(
        st.sampled_from(["view", "click", "purchase", "signup", "error"]),
        min_size=1,
        max_size=60,
    )
)
def test_seq_pattern_matches_re_findall(spark, types):
    """e28's JVM regexp counts over the collected symbol string must
    equal Python re.findall on the sequentially built string — the
    leftmost-greedy non-overlapping contract — for any event-type
    sequence."""
    import re

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e28_")
    try:
        _write_events_cents(tmp, [100] * len(types), types)
        row = specs()["e28_seq_pattern"].fn(spark, tmp).collect()[0]
        s = "".join(t[0] for t in types)
        assert row["n_events"] == len(types)
        assert row["browse_clicks"] == len(re.findall("v+c", s))
        assert row["quick_converts"] == len(re.findall("sv*p", s))
        assert row["signup_then_purchase"] == (
            1 if re.search("s.*p", s, re.DOTALL) else 0
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    types=st.lists(
        st.sampled_from(["error", "click", "view"]),
        min_size=1,
        max_size=60,
    )
)
def test_nearest_event_matches_brute_force(spark, types):
    """c25's interleaved-window nearest pick must equal the O(E·C)
    brute-force nearest-click scan (tie → the earlier click; no
    click → NULLs), for any error/click interleaving. 'view' rows
    prove the type pre-filter."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_c25_")
    try:
        _write_events_cents(tmp, [100] * len(types), types)
        got = {
            r["event_id"]: (r["nearest_click_id"], r["gap_us"])
            for r in specs()["c25_join_nearest_event"].fn(spark, tmp).collect()
        }
        min_us = 60_000_000
        clicks = [(i * min_us, i) for i, t in enumerate(types) if t == "click"]
        errors = [(i * min_us, i) for i, t in enumerate(types) if t == "error"]
        assert set(got) == {i for _, i in errors}
        for us, i in errors:
            if not clicks:
                assert got[i] == (None, None)
                continue
            # min by (gap, forward-flag): tie prefers the backward click
            gap, _, cid = min(
                (abs(cus - us), 0 if cus <= us else 1, ci)
                for cus, ci in clicks
            )
            assert got[i] == (cid, gap), (i, got[i], (cid, gap))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_docs(tmp: str, texts: list[str]) -> None:
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_lm_score_matches_reference(spark, texts):
    """l43's distributed unigram NLL must equal the sequential
    ln(T) − Σ ln(c_t)/len computation for ANY corpus (duplicate
    tokens, empty-string tokens from split boundaries)."""
    import math
    from collections import Counter

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_l43_")
    try:
        _write_docs(tmp, texts)
        got = {
            r["doc_id"]: (r["n_tokens"], r["avg_nll"])
            for r in specs()["l43_lm_score"].fn(spark, tmp).collect()
        }
        counts = Counter(tok for t in texts for tok in t.split(" "))
        total = sum(counts.values())
        for i, t in enumerate(texts):
            toks = t.split(" ")
            want = math.log(total) - sum(
                math.log(counts[tok]) for tok in toks
            ) / len(toks)
            assert got[i][0] == len(toks)
            assert abs(got[i][1] - want) < 2e-6, (i, got[i], want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_pairs_match_reference(spark, texts):
    """l44's distinct-word pair counts must equal the sequential
    BPE pair-count scan (count DESC, pair ASC, top-20) for ANY
    corpus, including single-char and empty words (no pairs)."""
    from collections import Counter

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_l44_")
    try:
        _write_docs(tmp, texts)
        got = [
            (r["pair"], r["pair_count"])
            for r in specs()["l44_bpe_pairs"].fn(spark, tmp).collect()
        ]
        words = Counter(tok for t in texts for tok in t.split(" "))
        pairs: Counter = Counter()
        for w, cnt in words.items():
            for i in range(len(w) - 1):
                pairs[w[i : i + 2]] += cnt
        want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),    # custkey
            st.integers(min_value=0, max_value=40),   # order day offset
            st.integers(min_value=1, max_value=99999),  # cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_rfm_matches_reference(spark, rows):
    """e29's two-phase-ranked quintiles must equal the sequential
    ntile(5) spec (first n%5 buckets one larger; ties by custkey)
    for ANY order set — including n<5 customers (empty ELSE
    branch) and heavy metric ties."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e29_")
    try:
        tbl = pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_custkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_orderdate": pa.array(
                    [T0 + datetime.timedelta(days=r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "o_totalprice": pa.array(
                    [r[2] / 100.0 for r in rows], pa.float64()
                ),
            }
        )
        pq.write_table(tbl, f"{tmp}/orders.parquet")
        got = {
            r["o_custkey"]: (r["rfm_r"], r["rfm_f"], r["rfm_m"], r["rfm_code"])
            for r in specs()["e29_rfm_segments"].fn(spark, tmp).collect()
        }

        base = {}
        for ck, day, cents in rows:
            r_day, n, m = base.get(ck, (-1, 0, 0))
            base[ck] = (max(r_day, day), n + 1, m + cents)
        n = len(base)

        def ntile5(rn):
            size, extra = n // 5, n % 5
            cut = extra * (size + 1)
            if rn <= cut:
                return (rn - 1) // (size + 1) + 1
            return extra + (rn - 1 - cut) // size + 1

        def quint(metric_idx):
            order = sorted(base, key=lambda ck: (base[ck][metric_idx], ck))
            return {ck: ntile5(i + 1) for i, ck in enumerate(order)}

        qr, qf, qm = quint(0), quint(1), quint(2)
        assert set(got) == set(base)
        for ck in base:
            want = (qr[ck], qf[ck], qm[ck], 100 * qr[ck] + 10 * qf[ck] + qm[ck])
            assert got[ck] == want, (ck, got[ck], want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["O", "F", "P"]),
            st.integers(min_value=1, max_value=99999),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_coalesce_sources_precedence(spark, rows):
    """g08: open orders must surface the gen2 (fresh) row, everything
    else the gen1 fallback (stale cents+100) — exactly one survivor
    per key, for any status mix."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_g08_")
    try:
        tbl = pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_orderstatus": pa.array([r[0] for r in rows]),
                "o_totalprice": pa.array(
                    [r[1] / 100.0 for r in rows], pa.float64()
                ),
            }
        )
        pq.write_table(tbl, f"{tmp}/orders.parquet")
        got = {
            r["o_orderkey"]: (r["src"], r["price_cents"])
            for r in specs()["g08_coalesce_sources"].fn(spark, tmp).collect()
        }
        assert len(got) == len(rows)
        for i, (status, cents) in enumerate(rows):
            want = ("gen2", cents) if status == "O" else ("gen1", cents + 100)
            assert got[i] == want, (i, got[i], want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["F", "O", "P"]),
            st.integers(min_value=1, max_value=300),
        ),
        min_size=1,
        max_size=60,
    ).filter(
        lambda rs: any(s == "F" for s, _ in rs) and any(s == "O" for s, _ in rs)
    )
)
def test_ks_matches_reference(spark, rows):
    """d32's prefix-sum KS statistic must equal the brute-force
    max |c1·N2 − c2·N1| over pooled values (with the smallest argmax
    value) for any two samples — heavy ties included; 'P' rows prove
    the pre-filter."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_d32_")
    try:
        tbl = pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_orderstatus": pa.array([r[0] for r in rows]),
                "o_totalprice": pa.array(
                    [r[1] / 100.0 for r in rows], pa.float64()
                ),
            }
        )
        pq.write_table(tbl, f"{tmp}/orders.parquet")
        [got] = specs()["d32_ks_test"].fn(spark, tmp).collect()
        s1 = sorted(c for s, c in rows if s == "F")
        s2 = sorted(c for s, c in rows if s == "O")
        n1, n2 = len(s1), len(s2)
        best, best_at = -1, None
        for v in sorted(set(s1) | set(s2)):
            c1 = sum(1 for x in s1 if x <= v)
            c2 = sum(1 for x in s2 if x <= v)
            d = abs(c1 * n2 - c2 * n1)
            if d > best:
                best, best_at = d, v
        assert (got["n1"], got["n2"]) == (n1, n2)
        assert got["d_num"] == best
        assert got["d_at_cents"] == best_at
        assert abs(got["d_stat"] - best / (n1 * n2)) < 1e-12
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),        # custkey
            st.sampled_from(["1-URGENT", "2-HIGH", "3-LOW"]),
        ),
        min_size=2,
        max_size=50,
    )
)
def test_chi_square_matches_reference(spark, rows):
    """d33's decimal cell terms must equal the sequential χ² and
    Cramér's V for any contingency shape (degenerate 1×k tables
    give χ²=0, dof=0)."""
    import math
    from collections import Counter

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_d33_")
    try:
        segs = ["A", "B", "C"]
        cust = pa.table(
            {
                "c_custkey": pa.array(range(1, 7), pa.int64()),
                "c_mktsegment": pa.array([segs[k % 3] for k in range(1, 7)]),
            }
        )
        pq.write_table(cust, f"{tmp}/customer.parquet")
        orders = pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_custkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_orderpriority": pa.array([r[1] for r in rows]),
            }
        )
        pq.write_table(orders, f"{tmp}/orders.parquet")
        [got] = specs()["d33_chi_square"].fn(spark, tmp).collect()

        obs = Counter((segs[ck % 3], pri) for ck, pri in rows)
        rt = Counter()
        ct = Counter()
        for (s, p), o in obs.items():
            rt[s] += o
            ct[p] += o
        n = sum(obs.values())
        # the FULL grid — unobserved combinations are zero cells
        chi2 = sum(
            (obs.get((s, p), 0) * n - rt[s] * ct[p]) ** 2
            / (n * rt[s] * ct[p])
            for s in rt
            for p in ct
        )
        dof = (len(rt) - 1) * (len(ct) - 1)
        assert got["n"] == n and got["dof"] == dof
        assert abs(got["chi2"] - chi2) < 2e-6, (got, chi2)
        mn = min(len(rt) - 1, len(ct) - 1)
        if mn > 0:
            assert abs(got["cramers_v"] - math.sqrt(chi2 / (n * mn))) < 2e-6
        else:
            assert got["cramers_v"] is None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    li=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 4)),
        min_size=1,
        max_size=50,
    ),
    od=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 3)),
        min_size=1,
        max_size=50,
    ),
)
def test_matmul_matches_reference(spark, li, od):
    """i15's join-agg product must equal the sequential sparse
    matmul of the two occurrence-count matrices for any key sets
    (empty intersection on k → empty product)."""
    from collections import Counter

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_i15_")
    try:
        tbl = pa.table(
            {
                "l_partkey": pa.array([p for p, _ in li], pa.int64()),
                "l_suppkey": pa.array([s for _, s in li], pa.int64()),
            }
        )
        pq.write_table(tbl, f"{tmp}/lineitem.parquet")
        tbl = pa.table(
            {
                "o_custkey": pa.array([c for c, _ in od], pa.int64()),
                "o_orderkey": pa.array([k for _, k in od], pa.int64()),
            }
        )
        pq.write_table(tbl, f"{tmp}/orders.parquet")
        got = {
            (r["i"], r["j"]): r["c"]
            for r in specs()["i15_mr_matmul"].fn(spark, tmp).collect()
        }
        a = Counter((p % 40, s % 30) for p, s in li)
        b = Counter((c % 30, k % 20) for c, k in od)
        want: Counter = Counter()
        for (i, k), av in a.items():
            for (k2, j), bv in b.items():
                if k == k2:
                    want[(i, j)] += av * bv
        assert got == dict(want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dataset_card_planted_duplicates(spark):
    """l45: a planted within-source duplicate pair must count BOTH
    copies in n_dup_docs; cross-source identical text must NOT (dedup
    scope is per source); rates are exact bigint ratios."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="l45_card_")
    try:
        texts = ["a b c", "a b c", "x y", "a b c", "solo doc here"]
        srcs = ["s1", "s1", "s1", "s2", "s2"]
        langs = ["en", "de", "en", "en", "en"]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(5), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array(srcs),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, f"{tmp}/documents.parquet")
        got = {
            r["source"]: r
            for r in specs()["l45_dataset_card"].fn(spark, tmp).collect()
        }
        s1, s2 = got["s1"], got["s2"]
        assert (s1["n_docs"], s1["n_tokens"], s1["n_langs"]) == (3, 8, 2)
        assert s1["n_dup_docs"] == 2 and s1["dup_rate"] == 2 / 3
        # "a b c" also exists in s2, but only once there — no dup
        assert (s2["n_docs"], s2["n_dup_docs"]) == (2, 0)
        assert s2["avg_tokens"] == 6 / 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    types=st.lists(
        st.sampled_from(["signup", "click", "purchase", "view"]),
        min_size=1,
        max_size=60,
    ),
    spacing_hours=st.sampled_from([0, 2, 20]),
)
def test_windowed_funnel_matches_reference(spark, types, spacing_hours):
    """e30's cross-engine fold must equal the sequential
    earliest-start state machine (stage advances only within the
    window from the FIRST signup) for any event mix; 'view' rows
    prove the pre-filter. spacing_hours stretches the gaps so the
    2-day window bound is exercised BOTH ways (at 20h spacing a
    3-steps-later event is far outside the window) — a shared-text
    bug in the window comparison cannot hide behind oracle parity,
    only this independent reference catches it."""
    from hadoop_release_spark.plans.e_windows import _E30_WINDOW_US
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e30_")
    try:
        step_min = 1 + spacing_hours * 60
        _write_events_cents_spaced(tmp, types, step_min)
        rows = specs()["e30_windowed_funnel"].fn(spark, tmp).collect()
        if all(t == "view" for t in types):
            assert rows == []
            return
        [got] = rows
        min_us = step_min * 60_000_000
        base = int(T0.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        stage, t1 = 0, None
        step_of = {"signup": 1, "click": 2, "purchase": 3}
        for i, ty in enumerate(types):
            if ty == "view":
                continue
            t = base + i * min_us
            s = step_of[ty]
            if stage == 0 and s == 1:
                stage, t1 = 1, t
            elif stage == 1 and s == 2 and t - t1 <= _E30_WINDOW_US:
                stage = 2
            elif stage == 2 and s == 3 and t - t1 <= _E30_WINDOW_US:
                stage = 3
        assert got["stages_completed"] == stage
        assert got["funnel_start_us"] == (t1 if stage > 0 else None)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_validate_constraints_planted_violations(spark):
    """a16: planted range/null/domain/referential violations must
    each land in exactly their rule's count."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="a16_val_")
    try:
        pq.write_table(
            pa.table(
                {
                    "l_orderkey": pa.array([1, 2, 3], pa.int64()),
                    "l_quantity": pa.array([10.0, 99.0, None], pa.float64()),
                    "l_discount": pa.array([0.05, 0.5, 0.02], pa.float64()),
                    "l_shipdate": pa.array(
                        [T0, None, T0], pa.timestamp("us")
                    ),
                }
            ),
            f"{tmp}/lineitem.parquet",
        )
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array([1, 2], pa.int64()),
                    "o_custkey": pa.array([7, 999], pa.int64()),
                }
            ),
            f"{tmp}/orders.parquet",
        )
        pq.write_table(
            pa.table(
                {
                    "c_custkey": pa.array([7], pa.int64()),
                    "c_mktsegment": pa.array(["SPACESHIPS"]),
                }
            ),
            f"{tmp}/customer.parquet",
        )
        got = {
            r["rule"]: (r["n_checked"], r["n_violations"])
            for r in specs()["a16_validate_constraints"].fn(spark, tmp).collect()
        }
        assert got == {
            "lineitem.quantity_range": (3, 2),      # 99 out of range + null
            "lineitem.discount_range": (3, 1),      # 0.5
            "lineitem.shipdate_not_null": (3, 1),
            "orders.custkey_references_customer": (2, 1),  # 999 orphan
            "customer.mktsegment_domain": (1, 1),   # SPACESHIPS
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_feature_hashing_matches_reference(spark, texts):
    """l46's md5-derived buckets/signs must equal the sequential
    hashing-trick vectorization for any corpus; per-doc bucket sums
    of n_tokens must reconstruct the doc's token count (partition
    of unity over buckets)."""
    import hashlib
    from collections import Counter

    from hadoop_release_spark.plans.l_llm_ext import _L46_BUCKETS
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_l46_")
    try:
        _write_docs(tmp, texts)
        got = {
            (r["doc_id"], r["bucket"]): (r["feat"], r["n_tokens"])
            for r in specs()["l46_feature_hashing"].fn(spark, tmp).collect()
        }
        want: dict = {}
        for i, t in enumerate(texts):
            feats: Counter = Counter()
            counts: Counter = Counter()
            for tok in t.split(" "):
                hx = hashlib.md5(tok.encode()).hexdigest()
                bucket = int(hx[:8], 16) % _L46_BUCKETS
                sgn = 1 if int(hx[8], 16) % 2 == 0 else -1
                feats[bucket] += sgn
                counts[bucket] += 1
            for b in counts:
                want[(i, b)] = (feats[b], counts[b])
        assert got == want
        for i, t in enumerate(texts):
            assert sum(
                n for (d, _), (_, n) in got.items() if d == i
            ) == len(t.split(" "))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_funnel_simultaneous_events_order_by_step(spark):
    """e30 tie rule: events at the SAME microsecond order by step
    number (signup < click < purchase), so a simultaneous
    signup+click+purchase completes the whole funnel — pinned with
    hand-built equal timestamps."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="e30_tie_")
    try:
        t = T0
        tbl = pa.table(
            {
                "event_id": pa.array([3, 2, 1], pa.int64()),
                "ts": pa.array([t, t, t], pa.timestamp("us")),
                "user_id": pa.array([1, 1, 1], pa.int64()),
                # write purchase first to prove order comes from the
                # encoding, not file position
                "event_type": pa.array(["purchase", "click", "signup"]),
                "value": pa.array([1.0, 1.0, 1.0], pa.float64()),
                "props": pa.array(["{}"] * 3),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        [row] = specs()["e30_windowed_funnel"].fn(spark, tmp).collect()
        base = int(T0.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        assert row["stages_completed"] == 3
        assert row["funnel_start_us"] == base
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_funnel_window_expires(spark):
    """e30 boundary pin: a click exactly AT the 2-day bound counts
    (<=); one microsecond past it does not — the window comparison
    itself, isolated from oracle parity (both engines share the
    transition text, so only an independent check can catch an
    inverted bound)."""
    from hadoop_release_spark.plans.e_windows import _E30_WINDOW_US
    from hadoop_release_spark.plans.registry import specs

    for offset_us, want_stage in ((0, 2), (1, 1)):
        tmp = tempfile.mkdtemp(prefix="e30_window_")
        try:
            t_click = T0 + datetime.timedelta(
                microseconds=_E30_WINDOW_US + offset_us
            )
            tbl = pa.table(
                {
                    "event_id": pa.array([1, 2], pa.int64()),
                    "ts": pa.array([T0, t_click], pa.timestamp("us")),
                    "user_id": pa.array([1, 1], pa.int64()),
                    "event_type": pa.array(["signup", "click"]),
                    "value": pa.array([1.0, 1.0], pa.float64()),
                    "props": pa.array(["{}"] * 2),
                }
            )
            pq.write_table(tbl, f"{tmp}/events.parquet")
            [row] = specs()["e30_windowed_funnel"].fn(spark, tmp).collect()
            assert row["stages_completed"] == want_stage, (offset_us, row)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def test_entropy_single_type_day_signed_zero_parity(spark):
    """The −0.0 regression (self-review find): a single-event-type
    day has H = ln N − N·lnN/N, a tiny NEGATIVE float residual —
    Spark's BigDecimal round yields +0.0 while DuckDB's exact-binary
    round yields −0.0, and the driver's canon distinguishes them.
    Pin that the oracle's `+ 0.0` normalization makes both engines
    emit bit-identical +0.0 on a planted one-type day."""
    import duckdb

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="d27_zero_")
    try:
        # 6 events, one type, all inside one epoch day
        _write_events_cents(tmp, [100] * 6, ["view"] * 6)
        [row] = specs()["d27_entropy"].fn(spark, tmp).collect()
        spark_val = row["entropy_nats"]
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp}/events.parquet')"
        )
        [(duck_val,)] = con.execute(
            f"SELECT entropy_nats FROM ({specs()['d27_entropy'].oracle})"
        ).fetchall()
        assert repr(spark_val) == repr(duck_val) == "0.0", (
            spark_val,
            duck_val,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rolling_median_all_null_frame_yields_null(spark):
    """The e24 regression (self-review find): an all-NULL value
    frame must yield NULL like the oracle's frame median — not an
    ANSI INVALID_INDEX_OF_ZERO task abort."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="e24_null_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array([0, 1], pa.int64()),
                "ts": pa.array(
                    [T0, T0 + datetime.timedelta(minutes=1)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1, 1], pa.int64()),
                "event_type": pa.array(["view", "view"]),
                "value": pa.array([None, 42.0], pa.float64()),
                "props": pa.array(["{}"] * 2),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        rows = {
            r["event_id"]: r["med5_cents"]
            for r in specs()["e24_rolling_median"].fn(spark, tmp).collect()
        }
        assert rows[0] is None          # all-NULL frame → NULL, no crash
        assert rows[1] == 4200.0        # the one non-null value
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    fraction=st.floats(min_value=0.05, max_value=0.5),
    n_part=st.integers(min_value=1, max_value=16),
)
def test_seeded_sample_reproducible_at_any_partition_count(
    spark, seed, fraction, n_part
):
    """s03's contract, pinned as a property (round-5 verdict item 6):
    for ANY partition count, a seeded Bernoulli sample over a fixed
    layout is (a) identical across repeated invocations, (b) a
    duplicate-free subset of the input. Spark seeds the sampler per
    (seed, partition index), so determinism holds per LAYOUT — the
    sample legitimately differs BETWEEN partition counts, which is
    why s03 is a rows-only contract row and why cross-engine
    pipelines use systematic key-mod sampling instead (s03
    docstring)."""
    df = spark.range(0, 2000, 1, n_part)
    a = sorted(r.id for r in df.sample(fraction=fraction, seed=seed).collect())
    b = sorted(r.id for r in df.sample(fraction=fraction, seed=seed).collect())
    assert a == b                      # reproducible for the fixed layout
    assert len(set(a)) == len(a)       # without replacement: no duplicates
    assert set(a) <= set(range(2000))  # a subset of the input


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.lists(
            st.integers(min_value=-20, max_value=20),
            min_size=3, max_size=3,
        ),
        min_size=9, max_size=40,
    )
)
def test_kmeans_inertia_is_monotone_in_iterations(spark, data):
    """l21's convergence argument, pinned as a property (round-5
    verdict item 6): Lloyd's algorithm never increases total inertia
    (sum of squared distances to the assigned centroid) across full
    assign→update iterations — for the update step because the mean
    minimizes within-cluster squared distance, for the assign step
    because each row moves to its nearest centroid. Holds for any
    point multiset, including heavy duplicates and vanishing
    clusters. Tolerance covers the operator's 3dp sq_dist rounding
    plus float noise."""
    from hadoop_release_spark.operators.clustering import kmeans

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(data)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    inertias = []
    for max_iter in range(3):
        out = kmeans(df, k=3, max_iter=max_iter)
        inertias.append(sum(r.sq_dist for r in out.collect()))
    tol = 1e-3 * len(rows) + 1e-9
    for earlier, later in zip(inertias, inertias[1:]):
        assert later <= earlier + tol, inertias


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.integers(min_value=0, max_value=10**7),  # offset seconds
            st.floats(min_value=0.01, max_value=500.0,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=2, max_size=60,
    )
)
def test_twap_matches_pure_python_reference(spark, events, tmp_path_factory):
    """e31 vs an independent pure-Python TWAP on arbitrary event
    sets: per user, sum(value_micros·dur_us)/(1e6·sum(dur_us)) with
    the last event excluded — exact integer accumulation on both
    sides, so the comparison is equality after the shared 4dp
    round."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_release_spark.plans.e_windows import e31_time_weighted_avg

    # Unique (user, ts): drop duplicate offsets per user (the
    # operator breaks ties by event_id; the reference would need the
    # same rule — dedup keeps the property about the MATH).
    seen, rows = set(), []
    for u, off, v in events:
        if (u, off) not in seen:
            seen.add((u, off))
            rows.append((u, off, v))
    tmp = tmp_path_factory.mktemp("e31prop")
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(seconds=off) for _, off, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([v for _, _, v in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")

    got = {
        r.user_id: (r.n_intervals, r.twap)
        for r in e31_time_weighted_avg(spark, str(tmp)).collect()
    }

    expected = {}
    by_user: dict[int, list] = {}
    for u, off, v in rows:
        by_user.setdefault(u, []).append((off, v))
    for u, evs in by_user.items():
        evs.sort()
        if len(evs) < 2:
            continue
        num, den = 0, 0
        for (o1, v1), (o2, _) in zip(evs, evs[1:]):
            # Spark casts the DOUBLE to decimal(18,6) HALF_UP — mirror
            # on the double's exact binary expansion, not its repr.
            vmic = int(
                decimal.Decimal(v1).quantize(
                    decimal.Decimal("0.000001"),
                    rounding=decimal.ROUND_HALF_UP,
                )
                * 1000000
            )
            dur_us = (o2 - o1) * 1_000_000
            num += vmic * dur_us
            den += dur_us
        twap = num / (1e6 * den)
        expected[u] = (
            len(evs) - 1,
            float(
                decimal.Decimal(twap).quantize(
                    decimal.Decimal("0.0001"),
                    rounding=decimal.ROUND_HALF_UP,
                )
            ),
        )
    assert got == expected, (got, expected)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    prices=st.lists(
        st.integers(min_value=100, max_value=99999),  # cents
        min_size=1, max_size=80,
    )
)
def test_mad_matches_pure_python_reference(spark, prices, tmp_path_factory):
    """d34 vs an independent pure-Python lower-median MAD on
    arbitrary integer multisets (duplicates and even counts are the
    interesting cases for the lower-median convention)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_release_spark.plans.d_aggregates import d34_mad

    def lower_median(vals):
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]  # smallest v with 2*cum >= n

    tmp = tmp_path_factory.mktemp("d34prop")
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(prices)), pa.int64()),
            "o_custkey": pa.array([1] * len(prices), pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(prices)),
            "o_totalprice": pa.array([c / 100 for c in prices], pa.float64()),
            "o_orderdate": pa.array([datetime.date(2024, 6, 1)] * len(prices)),
            "o_orderpriority": pa.array(["1-URGENT"] * len(prices)),
        }
    )
    pq.write_table(tbl, f"{tmp}/orders.parquet")
    rows = d34_mad(spark, str(tmp)).collect()
    assert len(rows) == 1
    med = lower_median(prices)
    mad = lower_median([abs(c - med) for c in prices])
    r = rows[0]
    assert (r.median_cents, r.mad_cents, r.n) == (med, mad, len(prices)), (
        r, med, mad, sorted(prices),
    )


def _write_user_events(tmp: str, rows: list[tuple[int, int]]) -> None:
    """rows = (user_id, t_us offset from T0); full events schema."""
    base = T0
    tbl = pa.table(
        {
            "event_id": pa.array(list(range(len(rows))), pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(microseconds=t) for _, t in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")


def _ref_peak_concurrency(rows: list[tuple[int, int]], gap_us: int):
    """Pure-Python sweep-line reference for e34: sessions by the gap
    rule, [start, end] inclusive intervals, per-day peak including
    cross-midnight carry; tie rule -1 before +1."""
    day_us = 86_400 * 1_000_000
    by_user: dict[int, list[int]] = {}
    for u, t in rows:
        by_user.setdefault(u, []).append(t)
    iv = []
    for ts in by_user.values():
        ts.sort()
        s = e = ts[0]
        for t in ts[1:]:
            if t - e > gap_us:
                iv.append((s, e + 1))
                s = t
            e = t
        iv.append((s, e + 1))
    deltas = []
    for s, e1 in iv:
        deltas.append((s, 1))
        # A -1 exactly ON a day boundary belongs to no day's sweep:
        # the session is over before the new day starts and its
        # absence from carry already accounts for the end (mirrors
        # the plan's boundary filter).
        if e1 % day_us != 0:
            deltas.append((e1, -1))
    deltas.sort()
    days = {t // day_us for t, _ in deltas}
    for s, e1 in iv:
        days.update(range(s // day_us + 1, (e1 - 1) // day_us + 1))
    out = {}
    for d in sorted(days):
        start, end = d * day_us, (d + 1) * day_us
        carry = sum(1 for s, e1 in iv if s < start and e1 > start)
        cur = mx = carry
        n_starts = 0
        for t, dd in deltas:
            if start <= t < end:
                cur += dd
                mx = max(mx, cur)
                n_starts += dd == 1
        out[d] = (carry, mx, n_starts)
    return out


_E34_PROP_DAY_US = 86_400 * 1_000_000

@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.one_of(
                st.integers(min_value=0, max_value=5 * 24).map(
                    lambda h: h * 3_600_000_000
                ),
                # Day-boundary-adjacent instants: an event at
                # k·DAY−1 makes the session's exclusive end land
                # exactly ON the boundary — the case the boundary
                # -1 filter exists for.
                st.tuples(
                    st.integers(min_value=1, max_value=5),
                    st.sampled_from([-1, 0]),
                ).map(lambda kj: kj[0] * _E34_PROP_DAY_US + kj[1]),
            ),
        ),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_peak_concurrency_matches_sweep_reference(spark, rows):
    """e34 must equal an independent pure-Python sweep for any event
    layout — including sessions spanning several midnights (the 12 h
    gap rule merges hour-grained events into multi-day sessions, so
    the carry_in path is exercised constantly)."""
    from hadoop_release_spark.plans.e_windows import SESSION_GAP_US
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="e34_prop_")
    try:
        _write_user_events(tmp, rows)
        got = {
            r["day_id"]: (r["carry_in"], r["peak_concurrency"], r["n_starts"])
            for r in specs()["e34_peak_concurrency"].fn(spark, tmp).collect()
        }
        base_us = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        )
        want = _ref_peak_concurrency(
            [(u, base_us + t) for u, t in rows], SESSION_GAP_US
        )
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_peak_concurrency_touching_sessions_never_overlap(spark):
    """e34 tie rule pinned: user A's single-event session occupies
    [t, t] (exclusive end t+1); user B starting exactly at t+1 fires
    its +1 AFTER A's -1 at the same microsecond, so peak stays 1 —
    while user C starting at t (inside A's inclusive end) overlaps
    for peak 2 on a different day."""
    from hadoop_release_spark.plans.registry import specs

    day_us = 86_400 * 1_000_000
    tmp = tempfile.mkdtemp(prefix="e34_tie_")
    try:
        # day 0: A at t, B at t+1µs (no overlap). day 2: A' and C'
        # simultaneous at t2 (overlap).
        _write_user_events(
            tmp,
            [(1, 1000), (2, 1001), (1, 2 * day_us + 5), (3, 2 * day_us + 5)],
        )
        got = {
            r["day_id"]: r["peak_concurrency"]
            for r in specs()["e34_peak_concurrency"].fn(spark, tmp).collect()
        }
        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        ) // day_us
        assert got[base_day] == 1
        assert got[base_day + 2] == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_peak_concurrency_day_boundary_end(spark):
    """Pinned: a session ending at 23:59:59.999999 of day D (exclusive
    end exactly on day D+1's boundary) must NOT depress day D+1's
    sweep. User 1's session [23:59:59.999999] ends as day 1 starts;
    user 2 starts at day 1's first microsecond. Day 1's peak is 1 —
    before the boundary-(-1) filter it reported 0 (the stray -1
    cancelled user 2's +1 under the -1-before-+1 tie rule)."""
    from hadoop_release_spark.plans.registry import specs

    day_us = 86_400 * 1_000_000
    tmp = tempfile.mkdtemp(prefix="e34_bound_")
    try:
        _write_user_events(tmp, [(1, day_us - 1), (2, day_us)])
        got = {
            r["day_id"]: (r["carry_in"], r["peak_concurrency"], r["n_starts"])
            for r in specs()["e34_peak_concurrency"].fn(spark, tmp).collect()
        }
        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        ) // day_us
        # Sessionization is per-user, so the two events never merge:
        # user 1 = [day0 23:59:59.999999] (e_excl on the boundary,
        # -1 dropped), user 2 = [day1 00:00:00.000000]. User 1's
        # boundary session is NOT in day 1's carry_in (it ended), and
        # day 1's sweep must report peak 1 for user 2, not 0.
        assert got == {
            base_day: (0, 1, 1),
            base_day + 1: (0, 1, 1),
        }, got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    g1=st.lists(st.integers(min_value=100, max_value=130), min_size=2, max_size=40),
    g2=st.lists(st.integers(min_value=100, max_value=130), min_size=2, max_size=40),
)
def test_mann_whitney_matches_midrank_reference(spark, g1, g2, tmp_path_factory):
    """d35 vs an independent pure-Python midrank computation on
    arbitrary overlapping multisets — the tight value range forces
    heavy cross-group ties, the hard case for the ×2 midrank trick
    and the tie-corrected variance."""
    import math

    from hadoop_release_spark.plans.d_aggregates import d35_mann_whitney

    tmp = tmp_path_factory.mktemp("d35prop")
    n = len(g1) + len(g2)
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array([1] * n, pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(g1) + ["O"] * len(g2)),
            "o_totalprice": pa.array(
                [c / 100 for c in g1 + g2], pa.float64()
            ),
            "o_orderdate": pa.array([datetime.date(2024, 6, 1)] * n),
            "o_orderpriority": pa.array(["1-URGENT"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/orders.parquet")
    [r] = d35_mann_whitney(spark, str(tmp)).collect()

    pooled = sorted(g1 + g2)
    # midrank of value v = average of the 1-based ranks it occupies
    first = {}
    for i, v in enumerate(pooled):
        first.setdefault(v, i + 1)
    count = {v: pooled.count(v) for v in set(pooled)}
    rank2 = {v: 2 * first[v] + (count[v] - 1) for v in count}  # 2*midrank
    r1_x2 = sum(rank2[v] for v in g1)
    u1_x2 = r1_x2 - len(g1) * (len(g1) + 1)
    tie_t = sum(c**3 - c for c in count.values())
    assert (r.n1, r.n2, r.u1_x2, r.tie_t) == (
        len(g1), len(g2), u1_x2, tie_t,
    )
    n1, n2 = float(len(g1)), float(len(g2))
    var = (n1 * n2 / 12.0) * ((n1 + n2 + 1.0) - tie_t / ((n1 + n2) * (n1 + n2 - 1.0)))
    if var > 0:
        z_ref = (u1_x2 - n1 * n2) / (2.0 * math.sqrt(var))
        assert math.isclose(r.z_stat, z_ref, rel_tol=1e-12, abs_tol=1e-12)
    else:
        assert r.z_stat is None  # degenerate all-tied pool


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=12),
        min_size=3,
        max_size=12,
    )
)
def test_kneser_ney_matches_reference(spark, docs, tmp_path_factory):
    """l54 vs an independent pure-Python interpolated-KN estimator on
    a 3-word alphabet (dense ties and repeated bigrams). Also
    self-checks the reference: summed over the FULL vocabulary,
    interpolated KN is exactly normalized per context."""
    import math
    from collections import Counter

    from hadoop_release_spark.plans.l_llm_ext import (
        _L54_MIN_COUNT,
        l54_kneser_ney,
    )

    tmp = tmp_path_factory.mktemp("l54prop")
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array([" ".join(d) for d in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["t"] * len(docs)),
            "n_chars": pa.array([len(" ".join(d)) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    got = {
        (r.w1, r.w2): r
        for r in l54_kneser_ney(spark, str(tmp)).collect()
    }

    D = 0.75
    c12 = Counter()
    for d in docs:
        for x, y in zip(d, d[1:]):
            c12[(x, y)] += 1
    c1 = Counter()
    n1fwd = Counter()
    n1rev = Counter()
    for (x, y), c in c12.items():
        c1[x] += c
        n1fwd[x] += 1
        n1rev[y] += 1
    ntypes = len(c12)

    def p_kn(x, y):
        return (c12.get((x, y), 0) - D if (x, y) in c12 else 0.0) / c1[x] + (
            D * n1fwd[x] / c1[x]
        ) * (n1rev.get(y, 0) / ntypes)

    # reference self-check: exact normalization over the full vocab
    vocab = set(n1rev) | set(c1)
    for x in c1:
        assert math.isclose(sum(p_kn(x, y) for y in vocab), 1.0, rel_tol=1e-9)

    want = {k: v for k, v in c12.items() if v >= _L54_MIN_COUNT}
    assert set(got) == set(want)
    for (x, y), r in got.items():
        assert (r.c12, r.c1, r.n1fwd, r.n1rev) == (
            c12[(x, y)], c1[x], n1fwd[x], n1rev[y],
        )
        assert math.isclose(r.p_kn, p_kn(x, y), rel_tol=1e-12)


def test_tokenizer_fertility_planted(spark, tmp_path_factory):
    """l55 on a hand-computed fixture: 'ab cd' → 2 ws tokens, 2 BPE
    tokens; 'a-b x9' → 2 ws tokens, 5 BPE tokens (a, -, b, x, 9);
    median of per-doc bpe*100 DIV ws = lower-median{100, 250}."""
    from hadoop_release_spark.plans.l_llm_ext import l55_tokenizer_fertility

    tmp = tmp_path_factory.mktemp("l55plant")
    texts = ["ab cd", "a-b x9"]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1], pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["t", "t"]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    [r] = l55_tokenizer_fertility(spark, str(tmp)).collect()
    assert (r.n_docs, r.ws_tokens, r.bpe_tokens, r.chars) == (2, 4, 7, 11)
    assert r.fertility == 7 / 4
    assert r.chars_per_bpe == 11 / 7
    assert r.med_bpe_per_100ws == 100


def test_semdedup_min_id_survivor_chain(spark, tmp_path_factory):
    """l56 survivor semantics pinned: with τ=0.3, B (60° from A) is
    shadowed by A; C (120° from A, 60° from B) is shadowed by the
    already-DROPPED B — the documented low-id rule is stricter than
    greedy-on-kept; orthogonal D survives."""
    import math

    from hadoop_release_spark.plans.l_llm_ext import l56_semdedup

    dim = 64

    def vec(theta_deg):
        v = [0.0] * dim
        v[0] = math.cos(math.radians(theta_deg))
        v[1] = math.sin(math.radians(theta_deg))
        return v

    d_vec = [0.0] * dim
    d_vec[2] = 1.0
    tmp = tmp_path_factory.mktemp("l56plant")
    # ids 0,1,3,5: with the adaptive stride (n=4 → stride 2) only
    # id 0 is ≡ 0 mod 2 among the PRESENT ids, so the quantizer has
    # ONE centroid and all four vectors share its cluster — the
    # single-cluster shadow-chain scenario this test pins.
    tbl = pa.table(
        {
            "vec_id": pa.array([0, 1, 3, 5], pa.int64()),
            "embedding": pa.array(
                [vec(0), vec(60), vec(120), d_vec], pa.list_(pa.float32())
            ),
            "label": pa.array([0, 0, 0, 0], pa.int32()),
        }
    )
    pq.write_table(tbl, f"{tmp}/embeddings.parquet")
    rows = {r.vec_id: r for r in l56_semdedup(spark, str(tmp)).collect()}
    assert rows[0].is_kept == 1 and rows[0].dup_of is None
    assert rows[1].is_kept == 0 and rows[1].dup_of == 0
    assert rows[3].is_kept == 0 and rows[3].dup_of == 1  # shadowed by dropped B
    assert rows[5].is_kept == 1 and rows[5].dup_of is None


@settings(**_SETTINGS)
@given(
    cents=st.lists(
        st.integers(min_value=-500, max_value=500), min_size=1, max_size=50
    )
)
def test_max_drawdown_matches_loop_reference(spark, cents, tmp_path_factory):
    """e35 vs the obvious sequential loop: running balance, running
    peak, deepest peak-to-trough drop — including all-negative and
    monotone-rising curves (drawdown 0 edge)."""
    from hadoop_release_spark.plans.e_windows import e35_max_drawdown

    tmp = tmp_path_factory.mktemp("e35prop")
    n = len(cents)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(seconds=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([c / 100 for c in cents], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    [r] = e35_max_drawdown(spark, str(tmp)).collect()
    bal = peak = 0
    first = True
    max_dd = 0
    for c in cents:
        bal += c
        peak = bal if first else max(peak, bal)
        first = False
        max_dd = max(max_dd, peak - bal)
    assert (r.n_events, r.peak_cents, r.max_drawdown_cents) == (n, peak, max_dd)


def test_mlm_masking_matches_hashlib_reference(spark, tmp_path_factory):
    """l57's whole schedule recomputed with hashlib: selection,
    80/10/10 action split, and the vocab-indexed random replacement
    must match row-for-row (validates conv/md5/posexplode semantics
    against CPython's md5)."""
    import hashlib

    from hadoop_release_spark.plans.l_pipeline import (
        _L57_MASK_TOKEN,
        _L57_SELECT_PCT,
        l57_mlm_masking,
    )

    docs = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "pack my box with five dozen liquor jugs",
        2: "the five boxing wizards jump quickly",
    }
    tmp = tmp_path_factory.mktemp("l57plant")
    tbl = pa.table(
        {
            "doc_id": pa.array(list(docs), pa.int64()),
            "text": pa.array(list(docs.values())),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["t"] * len(docs)),
            "n_chars": pa.array([len(t) for t in docs.values()], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    got = {
        (r.doc_id, r.pos): (r.original, r.action, r.replacement)
        for r in l57_mlm_masking(spark, str(tmp)).collect()
    }

    vocab = sorted({t for s in docs.values() for t in s.split()})
    want = {}
    for doc_id, text in docs.items():
        for pos, tok in enumerate(text.split()):
            u = int(
                hashlib.md5(f"{doc_id}:{pos}:mlm".encode()).hexdigest()[:8], 16
            )
            if u % 100 >= _L57_SELECT_PCT:
                continue
            a = (u // 100) % 10
            if a <= 7:
                want[(doc_id, pos)] = (tok, "mask", _L57_MASK_TOKEN)
            elif a == 8:
                want[(doc_id, pos)] = (
                    tok, "random", vocab[(u // 1000) % len(vocab)]
                )
            else:
                want[(doc_id, pos)] = (tok, "keep", tok)
    assert got == want and len(want) > 0


def test_poisson_bootstrap_matches_hashlib_reference(spark, tmp_path_factory):
    """d37's whole resampling pipeline recomputed with hashlib:
    identical weights, replica means, and ranked CI endpoints on a
    small planted table (one status, 40 orders)."""
    import hashlib

    from hadoop_release_spark.plans.d_aggregates import (
        _D37_B,
        _D37_THRESH,
        d37_poisson_bootstrap,
    )

    cents = [(i * 37) % 1000 + 100 for i in range(40)]
    tmp = tmp_path_factory.mktemp("d37plant")
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(40), pa.int64()),
            "o_custkey": pa.array([1] * 40, pa.int64()),
            "o_orderstatus": pa.array(["F"] * 40),
            "o_totalprice": pa.array([c / 100 for c in cents], pa.float64()),
            "o_orderdate": pa.array([datetime.date(2024, 6, 1)] * 40),
            "o_orderpriority": pa.array(["1-URGENT"] * 40),
        }
    )
    pq.write_table(tbl, f"{tmp}/orders.parquet")
    [r] = d37_poisson_bootstrap(spark, str(tmp)).collect()

    means = []
    for b in range(_D37_B):
        sb = nb = 0
        for okey, c in enumerate(cents):
            hx = hashlib.md5(f"{okey}:{b // 4}".encode()).hexdigest()
            u = int(hx[8 * (b % 4) : 8 * (b % 4) + 8], 16)
            w = sum(1 for t in _D37_THRESH if u >= t)
            sb += c * w
            nb += w
        if nb > 0:
            means.append((sb / nb, b))
    means.sort()
    assert r.n_rows == 40
    assert r.point_mean == sum(cents) / 40
    assert r.ci_lo == means[2][0]          # rank 3
    assert r.ci_hi == means[_D37_B - 3][0]  # rank B-2
    assert r.ci_lo <= r.point_mean <= r.ci_hi


@settings(**_SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_matches_brute_force(spark, pts, tmp_path_factory):
    """f06 vs the O(n²) dominance definition on tiny grids (heavy
    ties — the hard case: equal (price, date) pairs must ALL
    survive, equal-price-worse-date must not)."""
    from hadoop_release_spark.plans.f_sorts import f06_skyline

    tmp = tmp_path_factory.mktemp("f06prop")
    n = len(pts)
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array([1] * n, pa.int64()),
            "o_orderstatus": pa.array(["F"] * n),
            "o_totalprice": pa.array([c / 100 for c, _ in pts], pa.float64()),
            "o_orderdate": pa.array(
                [
                    datetime.datetime(2024, 6, 1) + datetime.timedelta(days=d)
                    for _, d in pts
                ],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/orders.parquet")
    got = {r.o_orderkey for r in f06_skyline(spark, str(tmp)).collect()}

    def dominated(i):
        ci, di = pts[i]
        return any(
            (cj <= ci and dj >= di and (cj < ci or dj > di))
            for j, (cj, dj) in enumerate(pts)
            if j != i
        )

    want = {i for i in range(n) if not dominated(i)}
    assert got == want


def test_cogrouped_map_empty_side_keys(spark, tmp_path_factory):
    """k11's defining edge pinned: a key present on only ONE side
    still produces a row, with zeros for the empty frame (customer
    with no events / user with no orders)."""
    from hadoop_release_spark.plans.k_udfs import k11_cogrouped_map

    tmp = tmp_path_factory.mktemp("k11plant")
    tbl_o = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_custkey": pa.array([10, 10], pa.int64()),
            "o_orderstatus": pa.array(["F", "F"]),
            "o_totalprice": pa.array([1.50, 2.25], pa.float64()),
            "o_orderdate": pa.array([datetime.date(2024, 6, 1)] * 2),
            "o_orderpriority": pa.array(["1-URGENT"] * 2),
        }
    )
    pq.write_table(tbl_o, f"{tmp}/orders.parquet")
    tbl_e = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([T0], pa.timestamp("us")),
            "user_id": pa.array([20], pa.int64()),
            "event_type": pa.array(["view"]),
            "value": pa.array([0.75], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(tbl_e, f"{tmp}/events.parquet")
    rows = {r.key: r for r in k11_cogrouped_map(spark, str(tmp)).collect()}
    assert rows[10].n_orders == 2 and rows[10].spend_cents == 375
    assert rows[10].n_events == 0 and rows[10].value_cents == 0
    assert rows[20].n_orders == 0 and rows[20].spend_cents == 0
    assert rows[20].n_events == 1 and rows[20].value_cents == 75


@settings(**_SETTINGS)
@given(
    users=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10),     # first view day
            st.integers(min_value=-1, max_value=12),    # purchase day; <0 = never
        ),
        min_size=1,
        max_size=25,
    )
)
def test_kaplan_meier_matches_reference(spark, users, tmp_path_factory):
    """d38 vs a pure-Python KM estimator: risk sets, event/censor
    counts, and ln-survival (within the r6 grid) for arbitrary
    view/purchase layouts incl. never-converting users and the
    n == d last-row saturation (ln_survival NULL)."""
    import math

    from hadoop_release_spark.plans.d_aggregates import d38_kaplan_meier

    day = 86_400
    rows = []
    eid = 0
    for uid, (v, p) in enumerate(users):
        rows.append((eid, uid, "view", v * day))
        eid += 1
        if p >= 0:
            # p < v plants a purchase BEFORE the first view — d38
            # must ignore it (no conversion, user censored).
            rows.append((eid, uid, "purchase", p * day))
            eid += 1
    tmp = tmp_path_factory.mktemp("d38prop")
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(seconds=r[3]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    got = {r.dur_days: r for r in d38_kaplan_meier(spark, str(tmp)).collect()}

    h = max(r[3] for r in rows) // day
    durs = []
    for uid, (v, p) in enumerate(users):
        if p >= v:
            durs.append((p - v, 1))
        else:
            durs.append((h - v, 0))  # incl. purchase-before-view: censored
    grid = sorted({d for d, _ in durs})
    n = len(durs)
    ln_s = 0.0
    for t in grid:
        d_t = sum(1 for d, e in durs if d == t and e)
        c_t = sum(1 for d, e in durs if d == t and not e)
        r = got[t]
        assert (r.n_at_risk, r.d_events, r.c_censored) == (n, d_t, c_t)
        if n > d_t:
            ln_s += math.log((n - d_t) / n)
            assert r.ln_survival is not None
            assert abs(r.ln_survival - ln_s) < 1e-6 + 1e-9
        else:
            assert r.ln_survival is None
        n -= d_t + c_t
    assert set(got) == set(grid)


def test_psi_drift_planted_distributions(spark, tmp_path_factory):
    """d39 semantics pinned: a source with the reference's exact
    length multiset scores PSI 0.0; a source shifted wholly above
    the reference's top decile scores the Laplace-smoothed maximum
    for its mass — recomputed in pure Python."""
    import math

    from hadoop_release_spark.plans.d_aggregates import (
        _D39_BUCKETS,
        d39_psi_drift,
    )

    ref_lens = list(range(100, 150))          # srcA: 50 docs, the reference
    same_lens = list(range(100, 150))         # srcB: identical multiset
    hi_lens = [900] * 50                      # srcC: all past the top decile
    lens = ref_lens + same_lens + hi_lens
    srcs = ["srcA"] * 50 + ["srcB"] * 50 + ["srcC"] * 50
    tmp = tmp_path_factory.mktemp("d39plant")
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(lens)), pa.int64()),
            "text": pa.array(["x"] * len(lens)),
            "lang": pa.array(["en"] * len(lens)),
            "source": pa.array(srcs),
            "n_chars": pa.array(lens, pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    got = {r.source: r for r in d39_psi_drift(spark, str(tmp)).collect()}
    assert set(got) == {"srcB", "srcC"}
    assert got["srcB"].psi == 0.0

    # pure-Python replay for srcC: ref deciles of 100..149 put all of
    # srcC's mass in bucket 9.
    n, B = 50, _D39_BUCKETS
    pref = [(5 + 1) / (n + B)] * B
    pc = [(0 + 1) / (n + B)] * (B - 1) + [(50 + 1) / (n + B)]
    psi = sum((a - b) * math.log(a / b) for a, b in zip(pref, pc))
    assert abs(got["srcC"].psi - round(psi, 6)) < 1e-9
    assert got["srcC"].psi > 0.25  # the canonical "shifted" threshold


@settings(**_SETTINGS)
@given(
    cents=st.lists(
        st.integers(min_value=-500, max_value=500), min_size=8, max_size=30
    )
)
def test_rolling_ols_matches_reference(spark, cents, tmp_path_factory):
    """e36 vs the closed-form OLS on each length-8 frame computed in
    exact Python integers — numerator, denominator, and the single
    IEEE division must all match."""
    from hadoop_release_spark.plans.e_windows import _E36_K, e36_rolling_ols

    tmp = tmp_path_factory.mktemp("e36prop")
    n = len(cents)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(seconds=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([c / 100 for c in cents], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    got = {r.event_id: r for r in e36_rolling_ols(spark, str(tmp)).collect()}
    K = _E36_K
    assert len(got) == n - K + 1
    for end in range(K - 1, n):
        xs = list(range(end - K + 2, end + 2))  # 1-based row numbers
        ys = cents[end - K + 1 : end + 1]
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        num, den = K * sxy - sx * sy, K * sxx - sx * sx
        r = got[end]
        assert (r.slope_num, r.slope_den) == (num, den)
        assert r.slope_cents_per_step == num / den
        assert den == K * K * (K * K - 1) // 12


@settings(**_SETTINGS)
@given(
    gaps_s=st.lists(
        st.integers(min_value=0, max_value=100000), min_size=1, max_size=30
    )
)
def test_inter_event_gaps_match_reference(spark, gaps_s, tmp_path_factory):
    """e37 vs pure Python: cumulative timestamps from the planted gap
    list must come back as exactly those gaps, log2-bucketed
    (bucket = bit_length of gap_ms, 0 for simultaneous events)."""
    from hadoop_release_spark.plans.e_windows import e37_inter_event_gaps

    ts = [0]
    for g in gaps_s:
        ts.append(ts[-1] + g)
    tmp = tmp_path_factory.mktemp("e37prop")
    n = len(ts)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(seconds=t) for t in ts],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    got = {
        r.bucket: (r.n, r.min_gap_ms, r.max_gap_ms)
        for r in e37_inter_event_gaps(spark, str(tmp)).collect()
    }
    want = {}
    for g in gaps_s:
        ms = g * 1000
        b = ms.bit_length()  # 0 for ms == 0
        n_, lo, hi = want.get(b, (0, ms, ms))
        want[b] = (n_ + 1, min(lo, ms), max(hi, ms))
    assert got == want


def test_preference_pairs_best_worst_matching(spark, tmp_path_factory):
    """l59 pairing pinned on a hand-built group of 5: scores rank
    docs [A,B,C,D,E] best-to-worst → pairs (A,E) and (B,D) with the
    middle doc C unpaired; margins are exact integer differences."""
    from hadoop_release_spark.plans.l_pipeline import l59_preference_pairs

    # stopword-density scores: 'the the the' = 1000‰, down to 0‰.
    texts = {
        0: "the the the",          # 1000
        1: "the the xx",           # 666
        2: "the xx xx",            # 333
        3: "the xx xx xx",         # 250
        4: "xx xx xx",             # 0
    }
    tmp = tmp_path_factory.mktemp("l59plant")
    tbl = pa.table(
        {
            "doc_id": pa.array(list(texts), pa.int64()),
            "text": pa.array(list(texts.values())),
            "lang": pa.array(["en"] * 5),
            "source": pa.array(["s"] * 5),
            "n_chars": pa.array([len(t) for t in texts.values()], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    rows = {
        r.pair_idx: r for r in l59_preference_pairs(spark, str(tmp)).collect()
    }
    assert set(rows) == {1, 2}
    assert (rows[1].chosen_id, rows[1].rejected_id) == (0, 4)
    assert rows[1].margin == 1000
    assert (rows[2].chosen_id, rows[2].rejected_id) == (1, 3)
    assert rows[2].margin == 666 - 250


@settings(**_SETTINGS)
@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=2000), min_size=4, max_size=60
    )
)
def test_tukey_outliers_match_reference(spark, cents, tmp_path_factory):
    """d40 vs pure Python: lower-quantile quartiles (smallest value
    whose cumulative count reaches n·k/4) and the doubled-value
    fence comparisons, on tie-heavy multisets."""
    from hadoop_release_spark.plans.d_aggregates import d40_tukey_outliers

    tmp = tmp_path_factory.mktemp("d40prop")
    n = len(cents)
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_quantity": pa.array([1.0] * n, pa.float64()),
            "l_extendedprice": pa.array([c / 100 for c in cents], pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array(["N"] * n),
            "l_linestatus": pa.array(["O"] * n),
            "l_shipdate": pa.array([datetime.date(2024, 6, 1)] * n),
            "l_commitdate": pa.array([datetime.date(2024, 6, 1)] * n),
            "l_receiptdate": pa.array([datetime.date(2024, 6, 1)] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/lineitem.parquet")
    [r] = d40_tukey_outliers(spark, str(tmp)).collect()
    s = sorted(cents)

    def lower_q(k):  # smallest v with cum*4 >= n*k
        cum = 0
        for v in s:
            cum += 1
            if cum * 4 >= n * k:
                return v

    q1, q3 = lower_q(1), lower_q(3)
    iqr = q3 - q1
    lo2, hi2 = 2 * q1 - 3 * iqr, 2 * q3 + 3 * iqr
    assert (r.q1_cents, r.q3_cents, r.iqr_cents, r.n) == (q1, q3, iqr, n)
    assert r.n_low_outliers == sum(1 for c in cents if 2 * c < lo2)
    assert r.n_high_outliers == sum(1 for c in cents if 2 * c > hi2)


def test_top_paths_order_and_tiebreak(spark, tmp_path_factory):
    """e38 path assembly pinned: simultaneous events order by
    (t_us, event_id), sessions split on the gap rule, and equal
    counts tie-break alphabetically on the path text."""
    from hadoop_release_spark.plans.e_windows import (
        SESSION_GAP_US,
        e38_top_paths,
    )

    gap_s = SESSION_GAP_US // 1_000_000
    # user 1: one session view>click (simultaneous, event_id orders);
    # then a new session (past the gap) click alone.
    # user 2: one session view>click.  → path "view>click" n=2,
    # "click" n=1.
    rows = [
        (1, 1, "view", 0),
        (2, 1, "click", 0),          # same microsecond: id breaks tie
        (3, 1, "click", gap_s + 100),
        (4, 2, "view", 50),
        (5, 2, "click", 60),
    ]
    tmp = tmp_path_factory.mktemp("e38plant")
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(seconds=r[3]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    got = [(r.rank, r.path, r.n_sessions) for r in
           sorted(e38_top_paths(spark, str(tmp)).collect())]
    assert got == [(1, "view>click", 2), (2, "click", 1)]


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=100, max_value=130),  # cents
            st.integers(min_value=1, max_value=9),      # qty
        ),
        min_size=1,
        max_size=50,
    )
)
def test_weighted_quantiles_match_reference(spark, rows, tmp_path_factory):
    """d41 vs pure Python: all three weighted lower-quantiles from
    one cumulative-weight walk, on tie-heavy value ranges."""
    from hadoop_release_spark.plans.d_aggregates import d41_weighted_quantiles

    tmp = tmp_path_factory.mktemp("d41prop")
    n = len(rows)
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_quantity": pa.array([float(q) for _, q in rows], pa.float64()),
            "l_extendedprice": pa.array([c / 100 for c, _ in rows], pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array(["N"] * n),
            "l_linestatus": pa.array(["O"] * n),
            "l_shipdate": pa.array([datetime.date(2024, 6, 1)] * n),
            "l_commitdate": pa.array([datetime.date(2024, 6, 1)] * n),
            "l_receiptdate": pa.array([datetime.date(2024, 6, 1)] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/lineitem.parquet")
    [r] = d41_weighted_quantiles(spark, str(tmp)).collect()

    w = {}
    for c, q in rows:
        w[c] = w.get(c, 0) + q * 100
    total = sum(w.values())

    def lower_q(k):
        cum = 0
        for v in sorted(w):
            cum += w[v]
            if cum * 10 >= total * k:
                return v

    assert r.total_qty_x100 == total
    assert (r.p10_cents, r.p50_cents, r.p90_cents) == (
        lower_q(1), lower_q(5), lower_q(9),
    )


def test_rendezvous_minimal_disruption(spark, tmp_path_factory):
    """l60's defining property: recomputing the argmax over shards
    0..6 (shard 7 removed) must reassign ONLY the documents that
    lived on shard 7 — every other doc keeps its shard."""
    import hashlib

    from hadoop_release_spark.plans.l_pipeline import (
        _L60_SHARDS,
        l60_rendezvous_sharding,
    )

    tmp = tmp_path_factory.mktemp("l60plant")
    n = 200
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(["x"] * n),
            "lang": pa.array(["en"] * n),
            "source": pa.array(["t"] * n),
            "n_chars": pa.array([1] * n, pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    got = {
        r.doc_id: r.shard
        for r in l60_rendezvous_sharding(spark, str(tmp)).collect()
    }

    def hrw(doc, shards):
        return max(
            shards,
            key=lambda s: hashlib.md5(f"{doc}:{s}".encode()).hexdigest(),
        )

    # engine output matches the reference argmax
    assert got == {d: hrw(d, range(_L60_SHARDS)) for d in range(n)}
    # minimal disruption when shard 7 is removed
    after = {d: hrw(d, range(_L60_SHARDS - 1)) for d in range(n)}
    moved = {d for d in range(n) if after[d] != got[d]}
    assert moved == {d for d in range(n) if got[d] == _L60_SHARDS - 1}
    assert moved  # the fixture actually exercises the property


@settings(**_SETTINGS)
@given(
    daily=st.lists(
        st.integers(min_value=0, max_value=500), min_size=9, max_size=30
    )
)
def test_autocorrelation_matches_reference(spark, daily, tmp_path_factory):
    """e39 vs pure-Python Pearson over the aligned lag pairs: one
    event per day carries the whole daily total, so the planted
    series IS the day grid; constant series must yield NULL."""
    import math

    from hadoop_release_spark.plans.e_windows import (
        _E39_LAGS,
        e39_autocorrelation,
    )

    tmp = tmp_path_factory.mktemp("e39prop")
    n = len(daily)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(days=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([c / 100 for c in daily], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    got = {r.lag: r for r in e39_autocorrelation(spark, str(tmp)).collect()}
    for lag in _E39_LAGS:
        xs = daily[:-lag]
        ys = daily[lag:]
        m = len(xs)
        r = got[lag]
        assert r.n == m
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
        vx, vy = m * sxx - sx * sx, m * syy - sy * sy
        if vx > 0 and vy > 0:
            ref = (m * sxy - sx * sy) / math.sqrt(vx * vy)
            assert r.autocorr is not None
            assert math.isclose(r.autocorr, ref, rel_tol=1e-9)
        else:
            assert r.autocorr is None


def test_shard_manifest_detects_any_mutation(spark, tmp_path_factory):
    """l61's attestation property: recomputing after flipping one
    byte of one document changes EXACTLY that document's shard
    manifest and no other."""
    from hadoop_release_spark.plans.l_pipeline import l61_shard_manifest

    def write(tmp, texts):
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, f"{tmp}/documents.parquet")

    texts = [f"doc number {i} body" for i in range(60)]
    t1 = tmp_path_factory.mktemp("l61a")
    write(t1, texts)
    before = {
        r.shard: r.manifest_digest
        for r in l61_shard_manifest(spark, str(t1)).collect()
    }
    mutated = list(texts)
    mutated[17] = mutated[17] + "!"
    t2 = tmp_path_factory.mktemp("l61b")
    write(t2, mutated)
    out2 = {r.shard: r for r in l61_shard_manifest(spark, str(t2)).collect()}
    changed = {s for s in before if out2[s].manifest_digest != before[s]}
    assert len(changed) == 1  # only doc 17's shard's manifest moved
    # the mutated byte also shows in that shard's size total, and
    # nowhere else
    before_sizes = {
        r.shard: r.total_chars
        for r in l61_shard_manifest(spark, str(t1)).collect()
    }
    for s in before:
        if s in changed:
            assert out2[s].total_chars == before_sizes[s] + 1
        else:
            assert out2[s].total_chars == before_sizes[s]


def test_hour_of_week_epoch_arithmetic(spark, tmp_path_factory):
    """e40's weekday rule pinned with known dates: (epoch_day+3)%7
    gives 0 = Monday (1970-01-01, epoch day 0, was a Thursday → 3).
    2024-06-03 was a Monday → dow 0; 2024-06-09 a Sunday → dow 6;
    hours are UTC."""
    from hadoop_release_spark.plans.e_windows import e40_hour_of_week_profile

    tmp = tmp_path_factory.mktemp("e40plant")
    rows = [
        (1, datetime.datetime(2024, 6, 3, 9, 30), 1),   # Monday 09h
        (2, datetime.datetime(2024, 6, 9, 23, 5), 2),   # Sunday 23h
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * 2),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}"] * 2),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    got = {
        (r.dow, r.hour): (r.n_events, r.n_users, r.sum_cents)
        for r in e40_hour_of_week_profile(spark, str(tmp)).collect()
    }
    assert got == {(0, 9): (1, 1, 100), (6, 23): (1, 1, 200)}


def test_kn_perplexity_matches_reference(spark, tmp_path_factory):
    """l62 vs a pure-Python KN scorer on a small corpus: per-doc
    average NLL under the corpus's own bigram KN model (within the
    r6 grid)."""
    import math
    from collections import Counter

    from hadoop_release_spark.plans.l_llm_ext import l62_kn_perplexity

    docs = {
        0: "a b a b c",
        1: "b c b c a a",
        2: "c a b",
    }
    tmp = tmp_path_factory.mktemp("l62prop")
    tbl = pa.table(
        {
            "doc_id": pa.array(list(docs), pa.int64()),
            "text": pa.array(list(docs.values())),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["t"] * len(docs)),
            "n_chars": pa.array([len(t) for t in docs.values()], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    got = {r.doc_id: r for r in l62_kn_perplexity(spark, str(tmp)).collect()}

    D = 0.75
    c12 = Counter()
    for t in docs.values():
        w = t.split()
        for x, y in zip(w, w[1:]):
            c12[(x, y)] += 1
    c1, n1fwd, n1rev = Counter(), Counter(), Counter()
    for (x, y), c in c12.items():
        c1[x] += c
        n1fwd[x] += 1
        n1rev[y] += 1
    nt = len(c12)
    for doc_id, t in docs.items():
        w = t.split()
        s = n = 0
        for x, y in zip(w, w[1:]):
            p = (c12[(x, y)] - D) / c1[x] + (D * n1fwd[x] / c1[x]) * (
                n1rev[y] / nt
            )
            s += math.log(p)
            n += 1
        r = got[doc_id]
        assert r.n_bigrams == n
        assert abs(r.avg_nll - round(-s / n, 6)) < 2e-6


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),   # day offset
            st.integers(min_value=100, max_value=99999),  # cents
        ),
        min_size=2,
        max_size=60,
    ).filter(lambda rs: len({d for d, _ in rs}) >= 2)
)
def test_theil_sen_matches_pairwise_reference(spark, rows):
    """d43 vs an independent pure-Python Theil-Sen: lower-median of
    all pairwise daily slopes and of the residuals, over arbitrary
    multisets of (day, price) orders — duplicate days aggregate,
    duplicate slopes (collinear runs) stress the tie path of the
    two-phase selection. Precondition n_days >= 2 (a one-point trend
    has no slope; the degenerate case returns NULLs by contract)."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_d43_")
    try:
        tbl = pa.table(
            {
                "o_orderkey": pa.array(range(len(rows)), pa.int64()),
                "o_totalprice": pa.array(
                    [c / 100.0 for _, c in rows], pa.float64()
                ),
                "o_orderdate": pa.array(
                    [T0 + datetime.timedelta(days=d) for d, _ in rows],
                    pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(tbl, f"{tmp}/orders.parquet")
        got = specs()["d43_theil_sen"].fn(spark, tmp).collect()[0]

        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp())
            * 1_000_000
        ) // (86_400 * 1_000_000)
        daily: dict[int, int] = {}
        for d, c in rows:
            key = base_day + d
            daily[key] = daily.get(key, 0) + c
        days = sorted(daily)
        n = len(days)
        slopes = sorted(
            (daily[b] - daily[a]) / (b - a)
            for i, a in enumerate(days)
            for b in days[i + 1 :]
        )
        lomed = lambda xs: xs[(len(xs) + 1) // 2 - 1]  # noqa: E731
        sm = lomed(slopes)
        im = lomed(sorted(float(daily[d]) - sm * float(d) for d in days))
        assert got["n_days"] == n
        assert got["n_pairs"] == n * (n - 1) // 2
        # plan rounds to 6dp; compare against the unrounded reference
        # with half-ulp-of-6dp tolerance (avoids HALF_UP-vs-banker
        # disagreement between engines and Python).
        assert abs(got["slope_cents_per_day"] - sm) <= 5.1e-7, (got, sm)
        assert abs(got["intercept_cents"] - im) <= 5.1e-7, (got, im)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.integers(min_value=1, max_value=30),  # token count
        ),
        min_size=1,
        max_size=60,
    )
)
def test_quality_calibration_is_per_source_uniform(spark, docs):
    """l63 vs a pure-Python per-source rank transform: pct must hit
    exactly the uniform grid (rank-1)/(n-1) under the (score,
    doc_id) total order, deciles the integer buckets — including
    single-doc sources (pct 0.0 by the greatest(n-1,1) guard) and
    all-tied scores (row_number splits ties by doc_id)."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_l63_")
    try:
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(docs)), pa.int64()),
                "source": pa.array([s for s, _ in docs]),
                "text": pa.array(["w " * (k - 1) + "w" for _, k in docs]),
            }
        )
        pq.write_table(tbl, f"{tmp}/documents.parquet")
        got = {
            r["doc_id"]: (r["source"], r["tok_cnt"], r["pct"], r["decile"])
            for r in specs()["l63_quality_calibration"].fn(spark, tmp).collect()
        }
        by_src: dict[str, list] = {}
        for i, (s, k) in enumerate(docs):
            by_src.setdefault(s, []).append((k, i))
        want = {}
        for s, members in by_src.items():
            members.sort()
            n = len(members)
            for idx, (k, i) in enumerate(members):
                want[i] = (s, k, round(idx / max(n - 1, 1), 6),
                           min(idx * 10 // n, 9))
        assert set(got) == set(want)
        for i in got:
            gs, gk, gp, gd = got[i]
            ws, wk, wp, wd = want[i]
            assert (gs, gk, gd) == (ws, wk, wd), (i, got[i], want[i])
            assert abs(gp - wp) <= 5.1e-7, (i, got[i], want[i])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=-20, max_value=20), min_size=1, max_size=120
    ),
    kfrac=st.floats(min_value=0.0, max_value=1.0),
)
def test_global_kth_selects_the_sorted_element(spark, vals, kfrac):
    """rank.global_kth must return exactly sorted(vals)[k-1] for any
    multiset and any rank — heavy duplicates put range-partition
    boundaries inside tie runs, the case where per-partition
    row_number order is arbitrary but the VALUE at a global rank is
    still unique."""
    from hadoop_release_spark.operators.rank import global_kth

    k = max(1, min(len(vals), round(kfrac * len(vals))))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = global_kth(df, ["v"], lambda t: k).collect()
    assert len(got) == 1
    assert got[0]["v"] == sorted(vals)[k - 1], (vals, k, got)


@settings(**_SETTINGS)
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=45),       # day offset
            st.integers(min_value=100, max_value=500000), # cents that day
        ),
        min_size=1,
        max_size=45,
        unique_by=lambda t: t[0],
    )
)
def test_robust_anomaly_matches_mad_reference(spark, days):
    """e41 vs a pure-Python rolling lower-median/MAD walk over an
    arbitrary observed-day grid (gaps included — the frame is the
    last 28 OBSERVED days, a rows frame, so calendar gaps must not
    shift it). All-integer comparison, no tolerance needed."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e41_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(days)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=d) for d, _ in days],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(days), pa.int64()),
                "event_type": pa.array(["view"] * len(days)),
                "value": pa.array([c / 100.0 for _, c in days], pa.float64()),
                "props": pa.array(["{}"] * len(days)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            r["day_id"]: (r["n_trail"], r["med_trail"], r["mad_trail"],
                          r["is_anomaly"])
            for r in specs()["e41_robust_anomaly_days"].fn(spark, tmp).collect()
        }
        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp())
            * 1_000_000
        ) // (86_400 * 1_000_000)
        seq = sorted((base_day + d, c) for d, c in days)
        lomed = lambda xs: sorted(xs)[(len(xs) + 1) // 2 - 1]  # noqa: E731
        want = {}
        for i, (d, c) in enumerate(seq):
            frame = [c2 for _, c2 in seq[max(0, i - 28) : i]]
            n = len(frame)
            med = lomed(frame) if n else None
            mad = lomed([abs(v - med) for v in frame]) if n else None
            flag = (1 if abs(c - med) > 3 * mad else 0) if n >= 28 else None
            want[d] = (n, med, mad, flag)
        assert got == want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """connected_components_min_label vs an independent union-find on
    arbitrary random graphs — long chains, cycles, self-merging
    multi-edges, and isolated nodes all land in the same min-labeled
    component as the sequential reference. (The pinned chain test
    covers one topology; this covers the space.)"""
    from pyspark.sql import functions as F

    from hadoop_release_spark.operators.dedup import (
        connected_components_min_label,
    )

    n_nodes = 25
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n_nodes)}

    nodes = spark.createDataFrame(
        [(i,) for i in range(n_nodes)], "__id long"
    )
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(0, 0)],
        "id_a long, id_b long",
    )
    if not edges:
        pairs = pairs.filter(F.col("id_a") != F.col("id_b"))
    got = {
        r["__id"]: r["component"]
        for r in connected_components_min_label(
            nodes, pairs, max_iters=30
        ).collect()
    }
    assert got == want, (sorted(edges), got, want)


@settings(**_SETTINGS)
@given(
    days=st.lists(
        st.tuples(
            st.sampled_from(["click", "view"]),           # entity
            st.integers(min_value=0, max_value=40),       # day offset
            st.integers(min_value=100, max_value=500000), # cents
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_entity_robust_anomaly_isolated_per_entity(spark, days):
    """e42 vs a pure-Python per-entity rolling lower-median/MAD walk:
    each entity's baseline must see ONLY its own days (cross-entity
    contamination of the trailing frame is the bug class this
    partitioned variant exists to avoid). All-integer, no
    tolerance."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e42_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(days)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=d) for _, d, _ in days],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(days), pa.int64()),
                "event_type": pa.array([e for e, _, _ in days]),
                "value": pa.array(
                    [c / 100.0 for _, _, c in days], pa.float64()
                ),
                "props": pa.array(["{}"] * len(days)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            (r["event_type"], r["day_id"]): (
                r["n_trail"], r["med_trail"], r["mad_trail"], r["is_anomaly"]
            )
            for r in specs()["e42_entity_robust_anomaly_days"]
            .fn(spark, tmp)
            .collect()
        }
        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp())
            * 1_000_000
        ) // (86_400 * 1_000_000)
        lomed = lambda xs: sorted(xs)[(len(xs) + 1) // 2 - 1]  # noqa: E731
        want = {}
        for ent in {e for e, _, _ in days}:
            seq = sorted(
                (base_day + d, c) for e, d, c in days if e == ent
            )
            for i, (d, c) in enumerate(seq):
                frame = [c2 for _, c2 in seq[max(0, i - 28) : i]]
                n = len(frame)
                med = lomed(frame) if n else None
                mad = lomed([abs(v - med) for v in frame]) if n else None
                flag = (
                    (1 if abs(c - med) > 3 * mad else 0) if n >= 28 else None
                )
                want[(ent, d)] = (n, med, mad, flag)
        assert got == want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    hours=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),      # hour offset
            st.integers(min_value=100, max_value=500000), # cents
        ),
        min_size=2,
        max_size=50,
        unique_by=lambda t: t[0],
    )
)
def test_theil_sen_hourly_matches_windowed_reference(spark, hours):
    """d44 vs a pure-Python windowed Theil-Sen: lower-median of the
    slopes over EXACTLY the pairs 0 < Δh <= 168 — hour offsets up to
    400 span three bins, so the bin-replication join's exactly-once
    rule (own + next bin, then the Δ filter) is what's under test:
    a pair double-counted or dropped at a bin boundary shifts
    n_pairs and can shift the median."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_d44_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(hours)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(hours=h) for h, _ in hours],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(hours), pa.int64()),
                "event_type": pa.array(["view"] * len(hours)),
                "value": pa.array(
                    [c / 100.0 for _, c in hours], pa.float64()
                ),
                "props": pa.array(["{}"] * len(hours)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = specs()["d44_theil_sen_hourly"].fn(spark, tmp).collect()[0]

        base_h = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp())
            * 1_000_000
        ) // (3600 * 1_000_000)
        grid = sorted((base_h + h, c) for h, c in hours)
        slopes = sorted(
            (cb - ca) / (hb - ha)
            for i, (ha, ca) in enumerate(grid)
            for hb, cb in grid[i + 1 :]
            if 0 < hb - ha <= 168
        )
        assert got["n_hours"] == len(grid)
        assert got["n_pairs"] == len(slopes)
        if slopes:
            sm = slopes[(len(slopes) + 1) // 2 - 1]
            assert abs(got["slope_cents_per_hour"] - sm) <= 5.1e-7, (got, sm)
        else:
            assert got["slope_cents_per_hour"] is None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    seq=st.lists(
        st.tuples(
            # gaps up to ~4 tokens of refill (1 token = 4 h of µs)
            st.integers(min_value=0, max_value=60 * 10**9),
            st.integers(min_value=1, max_value=5),  # cost tokens
        ),
        min_size=1,
        max_size=80,
    )
)
def test_token_bucket_matches_fraction_reference(seq):
    """k12's integer µs-credit core vs an independent reference
    simulated in exact Fraction TOKEN units (cap 10, refill 1 token
    per 4 h) — zero gaps, saturating refills, and always-too-costly
    draining runs included. Purely CPU (no Spark session): the
    hypothesis budget all goes to edge coverage."""
    from fractions import Fraction

    import numpy as np

    from hadoop_release_spark.plans.k_udfs import (
        K12_CAP_U,
        K12_RATE_UT_PER_US,
        K12_TOKEN_US,
        token_bucket_admission,
    )

    tus = np.cumsum([g for g, _ in seq]).astype(np.int64)
    cost_u = np.array([c * K12_TOKEN_US for _, c in seq], dtype=np.int64)
    admitted, after = token_bucket_admission(
        tus, cost_u, K12_CAP_U, K12_RATE_UT_PER_US
    )

    cap = Fraction(10)
    tokens = cap
    prev = None
    for i, (g, c) in enumerate(seq):
        t = int(tus[i])
        if prev is not None:
            tokens = min(cap, tokens + Fraction(t - prev, K12_TOKEN_US))
        ok = tokens >= c
        if ok:
            tokens -= c
        assert bool(admitted[i]) == ok, (i, seq)
        assert Fraction(int(after[i]), K12_TOKEN_US) == tokens, (i, seq)
        assert 0 <= after[i] <= K12_CAP_U
        prev = t
    # non-vacuity: a draining sequence must actually reject — three
    # back-to-back max-cost events always exceed the full bucket.
    adm2, _ = token_bucket_admission(
        np.zeros(3, dtype=np.int64),
        np.full(3, 5 * K12_TOKEN_US, dtype=np.int64),
        K12_CAP_U,
        K12_RATE_UT_PER_US,
    )
    assert list(adm2) == [1, 1, 0]


def test_token_bucket_spark_plumbing_matches_core(spark):
    """k12 end-to-end: the applyInPandas grouping/ordering must feed
    each user's events to the core in (ts, event_id) order with the
    exact cost rule — pinned against the pure core on a two-user
    fixture with duplicate timestamps (the event_id tiebreak) and an
    interleaved arrival order."""
    import numpy as np

    from hadoop_release_spark.plans.k_udfs import (
        K12_CAP_U,
        K12_RATE_UT_PER_US,
        K12_TOKEN_US,
        token_bucket_admission,
    )
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_k12_")
    try:
        # (event_id, user, seconds-offset, value) — user 7's events
        # arrive out of ts order in the file; two share ts=4.
        rows = [
            (0, 7, 4, 3.00),
            (1, 9, 0, 1.02),
            (2, 7, 0, 4.99),
            (3, 7, 4, 2.01),
            (4, 9, 1, 0.50),
            (5, 7, 30, 1.00),
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(seconds=r[2]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            r["event_id"]: (r["admitted"], r["tokens_after_u"])
            for r in specs()["k12_token_bucket"].fn(spark, tmp).collect()
        }
        want = {}
        for user in {r[1] for r in rows}:
            evs = sorted(
                (r for r in rows if r[1] == user),
                key=lambda r: (r[2], r[0]),
            )
            tus = np.array(
                [
                    int(
                        (T0 + datetime.timedelta(seconds=r[2]))
                        .replace(tzinfo=datetime.timezone.utc)
                        .timestamp()
                        * 1_000_000
                    )
                    for r in evs
                ],
                dtype=np.int64,
            )
            cost = np.array(
                [(1 + round(r[3] * 100) % 5) * K12_TOKEN_US for r in evs],
                dtype=np.int64,
            )
            adm, aft = token_bucket_admission(
                tus, cost, K12_CAP_U, K12_RATE_UT_PER_US
            )
            for r, a, f in zip(evs, adm, aft):
                want[r[0]] = (int(a), int(f))
        assert got == want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.integers(min_value=1, max_value=8),  # token count
        ),
        min_size=1,
        max_size=50,
    )
)
def test_corpus_diff_drilldown_attribution(spark, docs):
    """l64 vs a pure-Python replay of the DIFF_* snapshot rules:
    statuses depend only on doc_id mod 20 (changed=5, added=3,
    removed phantoms from 9), token mass of removed rows must be
    attributed to the ORIGINATING doc's source, and per-(source,
    status) doc/token totals must conserve the corpus."""
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_l64_")
    try:
        texts = [
            " ".join(f"w{i}x{j}" for j in range(ntok))
            for i, (_, ntok) in enumerate(docs)
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(docs)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array([s for s, _ in docs]),
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int64()
                ),
            }
        )
        pq.write_table(tbl, f"{tmp}/documents.parquet")
        got = {
            (r["source"], r["status"]): (r["n_docs"], r["n_tokens"])
            for r in specs()["l64_corpus_diff_drilldown"]
            .fn(spark, tmp)
            .collect()
        }
        want: dict = {}

        def add(src, status, toks):
            k = (src, status)
            n, t = want.get(k, (0, 0))
            want[k] = (n + 1, t + toks)

        for i, (src, ntok) in enumerate(docs):
            m = i % 20
            status = (
                "added" if m == 3 else "changed" if m == 5 else "unchanged"
            )
            add(src, status, ntok)
            if m == 9:
                add(src, "removed", ntok)
        assert got == want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # group (event type)
            st.integers(min_value=1, max_value=49000),   # cents
        ),
        min_size=4,
        max_size=60,
    )
)
def test_anova_matches_reference(spark, rows):
    """d45 vs a pure-Python one-way ANOVA over the same integer
    sufficient statistics. Integer outputs (k, N, dfs) must be
    exact; the rounded floats are compared against the UNROUNDED
    reference with the 6dp half-grid tolerance (accumulation-order
    noise between engines is ~1e-16 relative — the d27 argument —
    so the half-grid dominates)."""
    from collections import defaultdict

    from hypothesis import assume

    from hadoop_release_spark.plans.registry import specs

    groups = defaultdict(list)
    for t, c in rows:
        groups[t].append(c)
    assume(len(groups) >= 2)
    k, n_total = len(groups), len(rows)
    assume(n_total > k)
    t_sum = sum(
        sum(cs) ** 2 / len(cs) for _, cs in sorted(groups.items())
    )
    s_all = sum(c for _, c in rows)
    q_all = sum(c * c for _, c in rows)
    ssw = q_all - t_sum
    ssb = t_sum - s_all * s_all / n_total
    assume(ssw > 1e-6)  # degenerate zero within-variance -> F = inf
    f_ref = (ssb / (k - 1)) / (ssw / (n_total - k))
    eta_ref = ssb / (q_all - s_all * s_all / n_total)

    tmp = tempfile.mkdtemp(prefix="prop_d45_")
    try:
        n = len(rows)
        tbl = pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(minutes=i) for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array([f"type{t}" for t, _ in rows]),
                "value": pa.array([c / 100.0 for _, c in rows], pa.float64()),
                "props": pa.array(["{}"] * n),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = specs()["d45_anova"].fn(spark, tmp).collect()[0]
        assert got["k"] == k
        assert got["n_total"] == n_total
        assert got["df_between"] == k - 1
        assert got["df_within"] == n_total - k
        assert abs(got["f_stat"] - f_ref) <= 6e-7 * max(1.0, abs(f_ref)), (
            got["f_stat"],
            f_ref,
        )
        assert abs(got["eta_sq"] - eta_ref) <= 6e-7, (got["eta_sq"], eta_ref)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=45),        # day offset
            st.integers(min_value=100, max_value=500000),  # cents that day
        ),
        min_size=1,
        max_size=45,
        unique_by=lambda t: t[0],
    )
)
def test_seasonal_adjust_matches_reference(spark, days):
    """e43 vs a pure-Python weekly-median decomposition over an
    arbitrary observed-day grid: per-weekday-class lower median,
    deseasonalized series, centered 7-OBSERVED-day rolling lower
    median trend (NULL until the frame is complete on both sides),
    residual. All-integer, no tolerance."""
    from collections import defaultdict

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e43_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(days)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=d) for d, _ in days],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(days), pa.int64()),
                "event_type": pa.array(["view"] * len(days)),
                "value": pa.array([c / 100.0 for _, c in days], pa.float64()),
                "props": pa.array(["{}"] * len(days)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            r["day_id"]: (
                r["dow"], r["cents"], r["seasonal"], r["deseason"],
                r["trend"], r["residual"],
            )
            for r in specs()["e43_seasonal_adjust"].fn(spark, tmp).collect()
        }
        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp())
            * 1_000_000
        ) // (86_400 * 1_000_000)
        seq = sorted((base_day + d, c) for d, c in days)
        lomed = lambda xs: sorted(xs)[(len(xs) + 1) // 2 - 1]  # noqa: E731
        by_dow = defaultdict(list)
        for d, c in seq:
            by_dow[d % 7].append(c)
        seasonal = {dow: lomed(cs) for dow, cs in by_dow.items()}
        des = [(d, c, c - seasonal[d % 7]) for d, c in seq]
        want = {}
        for i, (d, c, dz) in enumerate(des):
            if 3 <= i < len(des) - 3:
                tr = lomed([dz2 for _, _, dz2 in des[i - 3 : i + 4]])
                res = dz - tr
            else:
                tr, res = None, None
            want[d] = (d % 7, c, seasonal[d % 7], dz, tr, res)
        assert got == want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=40), min_size=2, max_size=5
    )
)
def test_temperature_mix_matches_reference(spark, counts):
    """l65 vs a pure-Python largest-remainder apportionment replaying
    the engines' EXACT float contract: IEEE sqrt, HALF_UP 6dp decimal
    weights (exact decimal sum), one shared quota tree, floor/
    remainder rank, then the md5-rank fill. Targets and the selected
    doc set must match exactly, and the global budget must be hit
    exactly."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from hadoop_release_spark.plans.registry import specs

    langs = ["aa", "bb", "cc", "dd", "ee"][: len(counts)]
    doc_rows = []
    for li, cnt in enumerate(counts):
        for _ in range(cnt):
            doc_rows.append((len(doc_rows), langs[li]))
    tmp = tempfile.mkdtemp(prefix="prop_l65_")
    try:
        tbl = pa.table(
            {
                "doc_id": pa.array([i for i, _ in doc_rows], pa.int64()),
                "text": pa.array([f"doc {i}" for i, _ in doc_rows]),
                "lang": pa.array([lg for _, lg in doc_rows]),
                "source": pa.array(["s0"] * len(doc_rows)),
                "n_chars": pa.array([5] * len(doc_rows), pa.int64()),
            }
        )
        pq.write_table(tbl, f"{tmp}/documents.parquet")
        out = specs()["l65_temperature_mix"].fn(spark, tmp).collect()
        got = {(r["doc_id"], r["lang"]) for r in out}
        got_targets = {r["lang"]: r["lang_target"] for r in out}

        n_total = len(doc_rows)
        budget = n_total // 2
        grid = Decimal("0.000001")
        w = {
            lg: Decimal(repr(math.sqrt(cnt))).quantize(
                grid, rounding=ROUND_HALF_UP
            )
            for lg, cnt in zip(langs, counts)
        }
        w_sum = sum(w.values())
        quota = {
            lg: float(budget) * float(w[lg]) / float(w_sum) for lg in langs
        }
        base = {lg: math.floor(quota[lg]) for lg in langs}
        rem = {lg: quota[lg] - math.floor(quota[lg]) for lg in langs}
        deficit = budget - sum(base.values())
        order = sorted(langs, key=lambda lg: (-rem[lg], lg))
        target = {
            lg: base[lg] + (1 if order.index(lg) < deficit else 0)
            for lg in langs
        }
        assert sum(target.values()) == budget
        md5 = lambda i: hashlib.md5(str(i).encode()).hexdigest()  # noqa: E731
        want = set()
        for lg in langs:
            ids = sorted(
                (i for i, lg2 in doc_rows if lg2 == lg),
                key=lambda i: (md5(i), i),
            )
            want |= {(i, lg) for i in ids[: target[lg]]}
        # every surviving row must carry its language's exact target
        assert got == want, (got, want)
        for lg, t in got_targets.items():
            assert t == target[lg], (lg, t, target[lg])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dynamic_partition_overwrite_semantics(spark):
    """a19's three partition classes, planted: an untouched day
    (mod 3 != 1) keeps every row; a rewritten day (mod 3 == 1 WITH
    purchases) keeps ONLY its purchase rows; a day ≡1 mod 3 whose
    batch slice is EMPTY (no purchases) is absent from the batch and
    keeps every row — overwrite-by-presence, the sharp edge the
    oracle encodes."""
    from hadoop_release_spark.plans.registry import specs

    base_day = (
        int(T0.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    ) // (86_400 * 1_000_000)
    # pick concrete offsets for each class relative to base_day % 3
    off_untouched = next(o for o in range(3) if (base_day + o) % 3 != 1)
    off_rewritten = next(o for o in range(3) if (base_day + o) % 3 == 1)
    off_absent = off_rewritten + 3
    rows = [
        # (event_id, day offset, type)
        (0, off_untouched, "view"),
        (1, off_untouched, "purchase"),
        (2, off_rewritten, "view"),
        (3, off_rewritten, "purchase"),
        (4, off_rewritten, "error"),
        (5, off_absent, "view"),
        (6, off_absent, "click"),
    ]
    tmp = tempfile.mkdtemp(prefix="prop_a19_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array([r[2] for r in rows]),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            r["event_id"]
            for r in specs()["a19_dynamic_partition_overwrite"]
            .fn(spark, tmp)
            .collect()
        }
        # untouched day: 0,1 survive; rewritten day: only 3; absent
        # day: 5,6 survive untouched.
        assert got == {0, 1, 3, 5, 6}, got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    series=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),         # entity
            st.integers(min_value=0, max_value=25),        # day offset
            st.integers(min_value=100, max_value=500000),  # cents
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_holt_trend_matches_references(spark, series):
    """e44 twice over: (1) the Spark applyInPandas output must equal
    a direct holt_smooth float replay BIT-FOR-BIT (plumbing: per-
    entity isolation, day ordering, exact cents transport); (2) the
    float loop itself must track the exact-Fraction recurrence to
    1e-9 relative (validates the halving argument has no gross
    error). Alpha = beta = 1/2."""
    from collections import defaultdict
    from fractions import Fraction

    from hadoop_release_spark.plans.e_windows import holt_smooth
    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e44_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(series)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=d) for _, d, _ in series],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(series), pa.int64()),
                "event_type": pa.array([f"type{e}" for e, _, _ in series]),
                "value": pa.array(
                    [c / 100.0 for _, _, c in series], pa.float64()
                ),
                "props": pa.array(["{}"] * len(series)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            (r["event_type"], r["day_id"]): (
                r["cents"], r["level"], r["trend"], r["forecast_next"]
            )
            for r in specs()["e44_holt_trend"].fn(spark, tmp).collect()
        }
        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp())
            * 1_000_000
        ) // (86_400 * 1_000_000)
        per = defaultdict(list)
        for e, d, c in series:
            per[f"type{e}"].append((base_day + d, c))
        want = {}
        for etype, rows in per.items():
            rows.sort()
            cents = [c for _, c in rows]
            levels, trends = holt_smooth(cents)
            # exact-rational recurrence: the float loop must track it
            flv = ftr = None
            for i, c in enumerate(cents):
                x = Fraction(c)
                if flv is None:
                    flv, ftr = x, Fraction(0)
                else:
                    new_l = x / 2 + (flv + ftr) / 2
                    ftr = (new_l - flv) / 2 + ftr / 2
                    flv = new_l
                assert abs(levels[i] - float(flv)) <= 1e-9 * max(
                    1.0, abs(float(flv))
                )
                assert abs(trends[i] - float(ftr)) <= 1e-9 * max(
                    1.0, abs(float(ftr))
                )
            for i, (d, c) in enumerate(rows):
                want[(etype, d)] = (
                    c, levels[i], trends[i], levels[i] + trends[i]
                )
        assert got == want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stale_guard_expression_fires_and_passes(spark):
    """The rank-primitive stale-partitioning tripwire (_stale_guard):
    on the partition's last row a mismatched (or NULL, via the
    null-safe compare) expected figure must raise_error; matching
    rows and non-last rows must pass the wrapped expression through
    untouched. Genuine drift needs cache eviction + nondeterministic
    input (unreachable deterministically), so the CASE semantics are
    pinned directly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_release_spark.operators.rank import _stale_guard

    guard = _stale_guard("CAST(v * 10 AS BIGINT)", "v", "exp", "unit_test")
    ok = spark.createDataFrame(
        [(5, 5, True), (3, 99, False)], "v long, exp long, __is_last boolean"
    )
    got = {r["out"] for r in ok.select(F.expr(guard).alias("out")).collect()}
    assert got == {50, 30}  # non-last row never checks its exp
    for bad_exp in [99, None]:
        bad = spark.createDataFrame(
            [(5, bad_exp, True)], "v long, exp long, __is_last boolean"
        )
        with _pytest.raises(Exception, match="unit_test: partition contents"):
            bad.select(F.expr(guard).alias("out")).collect()


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "N"]),
            st.integers(min_value=0, max_value=500),   # price cents (ties!)
            st.integers(min_value=1, max_value=5),     # qty (heavy ties)
        ),
        min_size=2,
        max_size=120,
    )
)
def test_spearman_matches_midrank_reference(spark, rows, tmp_path_factory):
    """d46 vs a pure-Python Spearman: average (mid) ranks per group
    for both variables, Pearson on the ranks. Integer n exact; rho
    within the 6dp half-grid of the unrounded reference; degenerate
    groups (zero rank variance on either side) must report NULL.
    Also pins the fractional-ranking invariant Σ(2r) = n(n+1)."""
    import math
    from collections import defaultdict

    from hadoop_release_spark.plans.d_aggregates import d46_spearman

    tmp = tmp_path_factory.mktemp("d46prop")
    _write_lineitem(str(tmp), rows)

    groups = defaultdict(list)
    for flag, cents, qty in rows:
        groups[flag].append((qty, cents))

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            avg = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = avg
            i = j
        return ranks

    got = {r.grp: r for r in d46_spearman(spark, str(tmp)).collect()}
    assert set(got) == set(groups)
    for flag, pairs in groups.items():
        n = len(pairs)
        rx = midranks([q for q, _ in pairs])
        ry = midranks([c for _, c in pairs])
        assert sum(2 * r for r in rx) == n * (n + 1)
        r = got[flag]
        assert r.n == n
        mx, my = sum(rx) / n, sum(ry) / n
        denx = sum((a - mx) ** 2 for a in rx)
        deny = sum((b - my) ** 2 for b in ry)
        if denx <= 0 or deny <= 0:
            assert r.rho is None
        else:
            ref = sum(
                (a - mx) * (b - my) for a, b in zip(rx, ry)
            ) / math.sqrt(denx * deny)
            assert r.rho is not None
            assert abs(r.rho - ref) <= 6e-7, (r.rho, ref)


@settings(**_SETTINGS)
@given(
    users=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10),   # first view day
            st.integers(min_value=-1, max_value=12),  # purchase day; <0 = never
        ),
        min_size=1,
        max_size=25,
    )
)
def test_nelson_aalen_matches_reference(spark, users, tmp_path_factory):
    """d47 vs a pure-Python Nelson–Aalen estimator over the d38
    duration rule (shared construction — same planted layouts as
    the KM property, incl. purchase-before-view censoring): risk
    sets and event/censor counts exact, H(t) = Σ d/n and
    Var = Σ d/n² within the r6 grid, and NO NULL tail (H is
    defined at n == d, unlike ln S)."""
    from hadoop_release_spark.plans.d_aggregates import d47_nelson_aalen

    day = 86_400
    rows = []
    eid = 0
    for uid, (v, p) in enumerate(users):
        rows.append((eid, uid, "view", v * day))
        eid += 1
        if p >= 0:
            rows.append((eid, uid, "purchase", p * day))
            eid += 1
    tmp = tmp_path_factory.mktemp("d47prop")
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(seconds=r[3]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")
    got = {r.dur_days: r for r in d47_nelson_aalen(spark, str(tmp)).collect()}

    h = max(r[3] for r in rows) // day
    durs = []
    for uid, (v, p) in enumerate(users):
        if p >= v:
            durs.append((p - v, 1))
        else:
            durs.append((h - v, 0))
    grid = sorted({d for d, _ in durs})
    assert set(got) == set(grid)
    n = len(durs)
    cum_h = 0.0
    cum_v = 0.0
    for t in grid:
        d_t = sum(1 for d, e in durs if d == t and e)
        c_t = sum(1 for d, e in durs if d == t and not e)
        r = got[t]
        assert (r.n_at_risk, r.d_events, r.c_censored) == (n, d_t, c_t)
        cum_h += d_t / n
        cum_v += d_t / (n * n)
        assert r.cum_hazard is not None and r.var_hazard is not None
        assert abs(r.cum_hazard - cum_h) <= 6e-7, (r.cum_hazard, cum_h)
        assert abs(r.var_hazard - cum_v) <= 6e-7, (r.var_hazard, cum_v)
        n -= d_t + c_t


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),      # suppkey (collisions)
            st.sampled_from([1996, 1997]),              # ship year
            st.integers(min_value=100, max_value=99999),  # price cents
            st.integers(min_value=0, max_value=10),     # discount pct
        ),
        min_size=1,
        max_size=60,
    )
)
def test_concentration_matches_reference(spark, rows, tmp_path_factory):
    """d48 vs a pure-Python HHI/CR4 on exact integer revenue units:
    supplier counts and top_suppkey exact (rev DESC, suppkey tie
    rule), hhi/cr4/top_share within the 6dp half-grid."""
    from hadoop_release_spark.plans.d_aggregates import d48_concentration

    tmp = tmp_path_factory.mktemp("d48prop")
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(len(rows)), pa.int64()),
            "l_suppkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_shipdate": pa.array(
                [datetime.datetime(r[1], 7, 1) for r in rows],
                pa.timestamp("us"),
            ),
            "l_extendedprice": pa.array(
                [r[2] / 100.0 for r in rows], pa.float64()
            ),
            "l_discount": pa.array(
                [r[3] / 100.0 for r in rows], pa.float64()
            ),
        }
    )
    pq.write_table(tbl, f"{tmp}/lineitem.parquet")

    from collections import defaultdict

    rev = defaultdict(int)
    for supp, yr, cents, disc in rows:
        rev[(yr, supp)] += cents * (100 - disc)
    years = sorted({yr for yr, _ in rev})
    got = {r.yr: r for r in d48_concentration(spark, str(tmp)).collect()}
    assert set(got) == set(years)
    for yr in years:
        supps = sorted(
            ((s, u) for (y, s), u in rev.items() if y == yr),
            key=lambda t: (-t[1], t[0]),
        )
        total = sum(u for _, u in supps)
        r = got[yr]
        assert r.n_suppliers == len(supps)
        assert r.top_suppkey == supps[0][0]
        hhi = sum((u / total) ** 2 for _, u in supps)
        cr4 = sum(u for _, u in supps[:4]) / total
        assert abs(r.hhi - hhi) <= 6e-7, (r.hhi, hhi)
        assert abs(r.cr4 - cr4) <= 6e-7, (r.cr4, cr4)
        assert abs(r.top_share - supps[0][1] / total) <= 6e-7


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),        # custkey
            st.integers(min_value=0, max_value=2000),     # price cents (ties)
        ),
        min_size=1,
        max_size=80,
    )
)
def test_diversified_topk_semantics(spark, rows, tmp_path_factory):
    """f07 vs the literal rule: sort all orders by (price DESC, key),
    keep each customer's best 2, take the first 20 — EXACT match on
    every output column including positions and per-customer
    ranks."""
    from hadoop_release_spark.plans.f_sorts import f07_diversified_topk

    tmp = tmp_path_factory.mktemp("f07prop")
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_totalprice": pa.array(
                [r[1] / 100.0 for r in rows], pa.float64()
            ),
        }
    )
    pq.write_table(tbl, f"{tmp}/orders.parquet")

    by_price = sorted(
        ((cents, ok, ck) for ok, (ck, cents) in enumerate(rows)),
        key=lambda t: (-t[0], t[1]),
    )
    seen: dict[int, int] = {}
    expected = []
    for cents, ok, ck in by_price:
        seen[ck] = seen.get(ck, 0) + 1
        if seen[ck] <= 2:
            expected.append((ok, ck, cents, seen[ck]))
        if len(expected) == 20:
            break
    got = sorted(
        f07_diversified_topk(spark, str(tmp)).collect(),
        key=lambda r: r.pos,
    )
    assert len(got) == len(expected)
    for pos, (r, (ok, ck, cents, rn)) in enumerate(zip(got, expected), 1):
        assert r.pos == pos
        assert (r.o_orderkey, r.o_custkey, r.per_cust_rank) == (ok, ck, rn)
        assert round(r.o_totalprice * 100) == cents


@settings(**_SETTINGS)
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10),  # custkey
            st.sampled_from([1996, 1997]),           # year
        ),
        min_size=1,
        max_size=50,
    )
)
def test_symmetric_diff_is_exact_xor(spark, orders, tmp_path_factory):
    """g09 vs the set rule: exactly the customers active in one year
    but not the other, labeled with the right side and that year's
    exact order count; both-year and no-year customers absent."""
    from hadoop_release_spark.plans.g_setops import g09_symmetric_diff

    tmp = tmp_path_factory.mktemp("g09prop")
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(orders)), pa.int64()),
            "o_custkey": pa.array([c for c, _ in orders], pa.int64()),
            "o_orderdate": pa.array(
                [datetime.date(y, 3, 15) for _, y in orders]
            ),
        }
    )
    pq.write_table(tbl, f"{tmp}/orders.parquet")

    from collections import Counter

    n96 = Counter(c for c, y in orders if y == 1996)
    n97 = Counter(c for c, y in orders if y == 1997)
    expected = {
        c: ("only_1996", n96[c]) for c in n96 if c not in n97
    } | {c: ("only_1997", n97[c]) for c in n97 if c not in n96}
    got = {
        r.o_custkey: (r.side, r.n_orders)
        for r in g09_symmetric_diff(spark, str(tmp)).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_containment_matches_set_reference(spark, docs, tmp_path_factory):
    """l66 vs a pure-Python set reference: per-doc distinct 3-gram
    shingles, the df ≤ 50 universe (never binding at ≤12 docs),
    containment = |∩| / min sizes with the ≥ 0.5 emit rule — exact
    counts, half-away r3 scores, and the contained-id tie rule.
    min_size=1 (round 13): docs SHORTER than the shingle width now
    reach the plan — the oracle's range() gives them zero shingles
    and the gram_keys kernel's short_doc="empty" mode mirrors that
    (the old _shingles3 expression CRASHED on them:
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT from the descending
    sequence — which is why this strategy used to start at 3)."""
    from hadoop_release_spark.functions.contracts import py_round_half_away
    from hadoop_release_spark.plans.l_llm_ext import l66_containment_dedup

    tmp = tmp_path_factory.mktemp("l66prop")
    texts = [" ".join(words) for words in docs]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["gen"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")

    shingle_sets = [
        {
            " ".join(words[i : i + 3])
            for i in range(len(words) - 2)
        }
        for words in docs
    ]
    expected = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = shingle_sets[a], shingle_sets[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            cont = inter / min(len(sa), len(sb))
            if cont < 0.5:
                continue
            if len(sa) < len(sb):
                cid = a
            elif len(sb) < len(sa):
                cid = b
            else:
                cid = a
            expected[(a, b)] = (
                inter,
                len(sa),
                len(sb),
                float(py_round_half_away(cont, 3)),
                cid,
            )
    got = {
        (r.id_a, r.id_b): (
            r.n_shared,
            r.n_a,
            r.n_b,
            r.containment,
            r.contained_id,
        )
        for r in l66_containment_dedup(spark, str(tmp)).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["sA", "sB", "sC"]),         # source
            st.integers(min_value=1, max_value=400),     # n_chars
        ),
        min_size=2,
        max_size=80,
    )
)
def test_jensen_shannon_matches_reference(spark, rows, tmp_path_factory):
    """d49 vs a pure-Python JSD over the same global lower-decile
    grid: pair keys and doc counts exact, jsd within the 6dp
    half-grid, symmetric by construction (upper triangle only), and
    0 ≤ jsd ≤ ln 2 + grid noise."""
    import math

    from hadoop_release_spark.plans.d_aggregates import d49_jensen_shannon

    tmp = tmp_path_factory.mktemp("d49prop")
    tbl = pa.table(
        {
            "source": pa.array([r[0] for r in rows]),
            "n_chars": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")

    # global lower-decile bounds: b_k = min{v : cum(v)*10 >= N*k}
    from collections import Counter, defaultdict

    vals = sorted(Counter(r[1] for r in rows).items())
    total = len(rows)
    bounds = []
    for k in range(1, 10):
        cum = 0
        bk = None
        for v, w in vals:
            cum += w
            if cum * 10 >= total * k:
                bk = v
                break
        bounds.append(bk)

    def bucket(v: int) -> int:
        return sum(1 for b in bounds if v > b)

    nb = defaultdict(int)
    n_src = Counter(r[0] for r in rows)
    for s, v in rows:
        nb[(s, bucket(v))] += 1

    def p(s: str, b: int) -> float:
        return (nb[(s, b)] + 1) / (n_src[s] + 10)

    sources = sorted(n_src)
    expected = {}
    for i, sa in enumerate(sources):
        for sb in sources[i + 1 :]:
            jsd = sum(
                0.5 * p(sa, b) * math.log(2 * p(sa, b) / (p(sa, b) + p(sb, b)))
                + 0.5 * p(sb, b) * math.log(2 * p(sb, b) / (p(sa, b) + p(sb, b)))
                for b in range(10)
            )
            expected[(sa, sb)] = jsd

    got = {
        (r.src_a, r.src_b): r
        for r in d49_jensen_shannon(spark, str(tmp)).collect()
    }
    assert set(got) == set(expected)
    for (sa, sb), r in got.items():
        assert (r.n_a, r.n_b) == (n_src[sa], n_src[sb])
        assert abs(r.jsd - expected[(sa, sb)]) <= 6e-7, (
            r.jsd,
            expected[(sa, sb)],
        )
        assert -6e-7 <= r.jsd <= math.log(2) + 6e-7


@settings(**_SETTINGS)
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),      # day offset
            st.integers(min_value=-5000, max_value=5000),  # cents
        ),
        min_size=2,
        max_size=60,
    ).filter(lambda rs: len({d for d, _ in rs}) >= 2)
)
def test_changepoint_matches_reference(spark, days, tmp_path_factory):
    """e45 vs the literal CUSUM rule: daily sums, argmax of
    |N·S_k − k·S_N| with the earlier-day tie-break, split day and
    both segment sizes EXACT, means within the 6dp half-grid."""
    from collections import defaultdict

    from hadoop_release_spark.plans.e_windows import e45_changepoint

    tmp = tmp_path_factory.mktemp("e45prop")
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(days)), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(days=d, hours=3) for d, _ in days],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(days), pa.int64()),
            "event_type": pa.array(["purchase"] * len(days)),
            "value": pa.array([c / 100.0 for _, c in days], pa.float64()),
            "props": pa.array(["{}"] * len(days)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")

    daily = defaultdict(int)
    for d, c in days:
        daily[d] += c
    grid = sorted(daily)
    n = len(grid)
    s_n = sum(daily.values())
    best = None  # (dev, day, k, s_k) with max dev, earliest day
    s_k = 0
    for k, day in enumerate(grid, start=1):
        s_k += daily[day]
        if k >= n:
            break
        dev = abs(n * s_k - k * s_n)
        if best is None or dev > best[0]:
            best = (dev, day, k, s_k)

    [r] = e45_changepoint(spark, str(tmp)).collect()
    _, day, k, sk = best
    assert (r.n_days, r.n_before, r.n_after) == (n, k, n - k)
    # the op reports absolute epoch days; fixture days are offsets
    # from T0
    epoch0 = int(
        (T0 - datetime.datetime(1970, 1, 1)).total_seconds() // 86400
    )
    assert r.split_day_id == epoch0 + day
    assert abs(r.mean_before_cents - sk / k) <= 6e-7
    assert abs(r.mean_after_cents - (s_n - sk) / (n - k)) <= 6e-7
    assert abs(r.shift_cents - ((s_n - sk) / (n - k) - sk / k)) <= 2e-6


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "fr"]),  # lang
            st.lists(
                st.sampled_from(
                    ["alpha", "beta", "Gamma", "delta42", "x", "zz-top"]
                ),
                min_size=0,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_dsir_weights_match_reference(spark, docs, tmp_path_factory):
    """l67 vs a pure-Python DSIR replay: the md5 bucket hash, the
    largest-lang target rule, Laplace-smoothed bucket log-ratios and
    per-doc sums — n_tokens/in_target exact, logw within the 6dp
    half-grid."""
    import hashlib
    import math
    import re
    from collections import Counter, defaultdict

    from hadoop_release_spark.plans.l_llm_ext import (
        _L67_B,
        l67_dsir_weights,
    )

    tmp = tmp_path_factory.mktemp("l67prop")
    texts = [" ".join(words) for _, words in docs]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([lang for lang, _ in docs]),
            "source": pa.array(["s0"] * len(docs)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")

    def buckets(text: str) -> list[int]:
        return [
            int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _L67_B
            for tok in re.findall(r"[a-z]+", text.lower())
        ]

    langs = Counter(lang for lang, _ in docs)
    target = sorted(langs.items(), key=lambda t: (-t[1], t[0]))[0][0]
    raw = defaultdict(int)
    tgt = defaultdict(int)
    per_doc = []
    for (lang, _), text in zip(docs, texts):
        bs = buckets(text)
        per_doc.append(bs)
        for b in bs:
            raw[b] += 1
            if lang == target:
                tgt[b] += 1
    n_r = sum(raw.values())
    n_t = sum(tgt.values())
    lr = {
        b: math.log(
            ((tgt[b] + 1) / (n_t + _L67_B)) / ((raw[b] + 1) / (n_r + _L67_B))
        )
        for b in range(_L67_B)
    }

    got = {r.doc_id: r for r in l67_dsir_weights(spark, str(tmp)).collect()}
    assert set(got) == set(range(len(docs)))
    for i, (lang, _) in enumerate(docs):
        r = got[i]
        assert r.lang == lang
        assert r.n_tokens == len(per_doc[i])
        assert r.in_target == int(lang == target)
        expected = sum(lr[b] for b in per_doc[i])
        assert abs(r.logw - expected) <= 6e-7, (r.logw, expected)


@settings(**_SETTINGS)
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),      # day offset
            st.integers(min_value=-300, max_value=300),  # cents
        ),
        min_size=1,
        max_size=50,
    )
)
def test_mann_kendall_matches_reference(spark, days, tmp_path_factory):
    """d50 vs the literal pure-Python MK rule: S, n, var18 and the
    trend label exact; Z within the 6dp half-grid (or NULL when all
    days tie)."""
    import math
    from collections import defaultdict

    from hadoop_release_spark.plans.d_aggregates import d50_mann_kendall

    tmp = tmp_path_factory.mktemp("d50prop")
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(days)), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(days=d, hours=5) for d, _ in days],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(days), pa.int64()),
            "event_type": pa.array(["view"] * len(days)),
            "value": pa.array([c / 100.0 for _, c in days], pa.float64()),
            "props": pa.array(["{}"] * len(days)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")

    daily = defaultdict(int)
    for d, c in days:
        daily[d] += c
    xs = [daily[d] for d in sorted(daily)]
    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = defaultdict(int)
    for x in xs:
        ties[x] += 1
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var18 = n * (n - 1) * (2 * n + 5) - tie_term

    [r] = d50_mann_kendall(spark, str(tmp)).collect()
    assert (r.n_days, r.s_stat, r.var18) == (n, s, var18)
    assert r.trend == (
        "increasing" if s > 0 else "decreasing" if s < 0 else "no_trend"
    )
    if var18 <= 0:
        assert r.z is None
    else:
        zref = (
            (s - 1) / math.sqrt(var18 / 18.0)
            if s > 0
            else (s + 1) / math.sqrt(var18 / 18.0)
            if s < 0
            else 0.0
        )
        assert abs(r.z - zref) <= 6e-7, (r.z, zref)


@settings(**_SETTINGS)
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),      # day offset
            st.integers(min_value=-400, max_value=400),  # cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_seasonal_strength_matches_reference(spark, days, tmp_path_factory):
    """e46 vs a pure-Python replay of e43's decomposition (lower
    medians, dow = epoch-day mod 7, 7-day centered trend) + the
    Hyndman strength formulas: counts exact, strengths within the
    6dp half-grid, NULL exactly when the denominator variance is
    zero."""
    from collections import defaultdict

    from hadoop_release_spark.plans.e_windows import e46_seasonal_strength

    tmp = tmp_path_factory.mktemp("e46prop")
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(days)), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(days=d, hours=7) for d, _ in days],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(days), pa.int64()),
            "event_type": pa.array(["click"] * len(days)),
            "value": pa.array([c / 100.0 for _, c in days], pa.float64()),
            "props": pa.array(["{}"] * len(days)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")

    epoch0 = int(
        (T0 - datetime.datetime(1970, 1, 1)).total_seconds() // 86400
    )
    daily = defaultdict(int)
    for d, c in days:
        daily[epoch0 + d] += c
    grid = sorted(daily)
    cents = [daily[d] for d in grid]

    def lo_med(vals):
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]

    by_dow = defaultdict(list)
    for d in grid:
        by_dow[d % 7].append(daily[d])
    seasonal = [lo_med(by_dow[d % 7]) for d in grid]
    deseason = [c - s for c, s in zip(cents, seasonal)]
    n = len(grid)
    trend = [
        lo_med(deseason[i - 3 : i + 4]) if 3 <= i < n - 3 else None
        for i in range(n)
    ]
    core = [i for i in range(n) if trend[i] is not None]
    r = [deseason[i] - trend[i] for i in core]
    sr = [cents[i] - trend[i] for i in core]
    dt = [deseason[i] for i in core]

    def num(vs):
        return len(vs) * sum(v * v for v in vs) - sum(vs) ** 2

    [row] = e46_seasonal_strength(spark, str(tmp)).collect()
    assert (row.n_days, row.n_core) == (n, len(core))
    for got, den_vals in (
        (row.seasonal_strength, sr),
        (row.trend_strength, dt),
    ):
        den = num(den_vals)
        if den <= 0:
            assert got is None
        else:
            exp = max(0.0, 1.0 - num(r) / den)
            assert abs(got - exp) <= 6e-7, (got, exp)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "green", "fish", "cat", "dog"]),
            min_size=1,
            max_size=10,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_minhash_calibration_matches_reference(
    spark, docs, tmp_path_factory
):
    """l68 vs a full pure-Python MinHash/LSH replay (shingles, md5
    mod P, the LCG permutations, 16×4 banding, candidate pairs):
    the pair SET and n_match exact, est on the k/64 grid, jaccard
    and err within the 3dp half-grid."""
    import hashlib
    from itertools import combinations

    from hadoop_release_spark.operators.dedup import (
        _P,
        _hash_params,
        lsh_pair_calibration,
    )

    tmp = tmp_path_factory.mktemp("l68prop")
    texts = [" ".join(ws) for ws in docs]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(texts),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")

    def shingles(words):
        if len(words) >= 3:
            out, seen = [], set()
            for i in range(len(words) - 2):
                s = " ".join(words[i : i + 3])
                if s not in seen:
                    seen.add(s)
                    out.append(s)
            return out
        return [" ".join(words)]

    params = _hash_params(64)

    def signature(sh):
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _P
            for s in sh
        ]
        return [min((a * h + b) % _P for h in hs) for a, b in params]

    shs = [shingles(ws) for ws in docs]
    sigs = [signature(sh) for sh in shs]

    def buckets(sig):
        return {
            (b, ",".join(str(v) for v in sig[b * 4 : b * 4 + 4]))
            for b in range(16)
        }

    expected = {}
    for i, j in combinations(range(len(docs)), 2):
        if buckets(sigs[i]) & buckets(sigs[j]):
            inter = len(set(shs[i]) & set(shs[j]))
            union = len(set(shs[i]) | set(shs[j]))
            n_match = sum(1 for x, y in zip(sigs[i], sigs[j]) if x == y)
            expected[(i, j)] = (n_match, inter / union)

    from hadoop_release_spark.catalog import table as _table

    d = _table(spark, str(tmp), "documents")
    try:
        got = {
            (r.id_a, r.id_b): r
            for r in lsh_pair_calibration(d, "doc_id", "text").collect()
        }
        assert set(got) == set(expected)
        for key, (n_match, jac) in expected.items():
            r = got[key]
            assert r.n_match == n_match
            assert r.est_jaccard == n_match / 64
            assert abs(r.jaccard - jac) <= 6e-4
            assert abs(r.err - (n_match / 64 - jac)) <= 6e-4
    finally:
        # The operator's persisted staging block outlives the call by
        # contract (released by the registry wrapper in production —
        # operators/dedup.py docstring); hypothesis runs this body
        # dozens of times per session, so release here or the blocks
        # accumulate one shingle pass per example.
        from hadoop_release_spark.functions.materialize import release

        release()


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # custkey
            st.integers(min_value=0, max_value=3),   # priority class
        ),
        min_size=1,
        max_size=60,
    )
)
def test_relational_division_matches_reference(
    spark, rows, tmp_path_factory
):
    """g10 vs the literal division rule: qualifying set and both
    counts exact, divisor data-defined (corpus-wide distinct
    priorities)."""
    from collections import defaultdict

    from hadoop_release_spark.plans.g_setops import g10_relational_division

    tmp = tmp_path_factory.mktemp("g10prop")
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_orderpriority": pa.array([f"{r[1]}-P" for r in rows]),
        }
    )
    pq.write_table(tbl, f"{tmp}/orders.parquet")

    divisor = {p for _, p in rows}
    prios = defaultdict(set)
    counts = defaultdict(int)
    for c, p in rows:
        prios[c].add(p)
        counts[c] += 1
    expected = {
        c: (len(prios[c]), counts[c])
        for c in prios
        if prios[c] == divisor
    }
    got = {
        r.o_custkey: (r.n_priorities, r.n_orders)
        for r in g10_relational_division(spark, str(tmp)).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),      # day offset
            st.integers(min_value=-400, max_value=400),  # cents
        ),
        min_size=2,
        max_size=70,
    ).filter(lambda rs: len({d for d, _ in rs}) >= 2)
)
def test_ljung_box_matches_reference(spark, days, tmp_path_factory):
    """d51 vs a pure-Python sample-ACF + Ljung–Box replay over the
    observed-day series: n_pairs exact per emitted lag, rho/q_cum
    within the 6dp half-grid (or NULL on a zero-variance series),
    lags past the series length absent."""
    from collections import defaultdict

    from hadoop_release_spark.plans.d_aggregates import (
        _D51_H,
        d51_ljung_box,
    )

    tmp = tmp_path_factory.mktemp("d51prop")
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(days)), pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(days=d, hours=2) for d, _ in days],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(days), pa.int64()),
            "event_type": pa.array(["view"] * len(days)),
            "value": pa.array([c / 100.0 for _, c in days], pa.float64()),
            "props": pa.array(["{}"] * len(days)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")

    daily = defaultdict(int)
    for d, c in days:
        daily[d] += c
    xs = [daily[d] for d in sorted(daily)]
    n = len(xs)
    s = sum(xs)
    dev = [n * x - s for x in xs]
    den = sum(d * d for d in dev)

    got = {r.lag: r for r in d51_ljung_box(spark, str(tmp)).collect()}
    expected_lags = [k for k in range(1, _D51_H + 1) if k < n]
    assert sorted(got) == expected_lags
    qsum = 0.0
    for k in expected_lags:
        r = got[k]
        assert r.n_pairs == n - k
        if den == 0:
            assert r.rho is None and r.q_cum is None
            continue
        rho = sum(dev[t] * dev[t + k] for t in range(n - k)) / den
        qsum += rho * rho / (n - k)
        q = n * (n + 2) * qsum
        assert abs(r.rho - rho) <= 6e-7, (k, r.rho, rho)
        assert abs(r.q_cum - q) <= max(6e-7, abs(q) * 1e-9), (k, r.q_cum, q)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "fr", "es"]),   # labeled lang
            st.lists(
                st.sampled_from(
                    ["the", "und", "les", "los", "to", "ist", "est",
                     "es", "y", "qqq"]
                ),
                min_size=0,
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_langid_confusion_matches_reference(spark, docs, tmp_path_factory):
    """l69 vs a pure-Python replay of l15's marker-count argmax
    (fixed en>de>fr>es tie preference) + the confusion rollup:
    cells and counts exact, recall shares within the 6dp
    half-grid."""
    from collections import Counter

    from hadoop_release_spark.plans.l_llm_ext import (
        _LANG_MARKERS,
        l69_langid_confusion,
    )

    tmp = tmp_path_factory.mktemp("l69prop")
    texts = [" ".join(ws) for _, ws in docs]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([lang for lang, _ in docs]),
            "source": pa.array(["s0"] * len(docs)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")

    def predict(text):
        toks = text.split(" ")
        s = {
            lang: sum(1 for t in toks if t in set(m))
            for lang, m in _LANG_MARKERS.items()
        }
        if s["en"] >= s["de"] and s["en"] >= s["fr"] and s["en"] >= s["es"]:
            return "en"
        if s["de"] >= s["fr"] and s["de"] >= s["es"]:
            return "de"
        return "fr" if s["fr"] >= s["es"] else "es"

    cells = Counter((lang, predict(t)) for (lang, _), t in zip(docs, texts))
    row_tot = Counter()
    for (lang, _), n in cells.items():
        row_tot[lang] += n

    got = {
        (r.true_lang, r.predicted): r
        for r in l69_langid_confusion(spark, str(tmp)).collect()
    }
    assert set(got) == set(cells)
    for key, n in cells.items():
        r = got[key]
        assert r.n_docs == n
        assert r.is_correct == int(key[0] == key[1])
        assert abs(r.recall_share - n / row_tot[key[0]]) <= 6e-7


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["view", "purchase", "click"]),  # entity
            st.integers(min_value=0, max_value=20),          # day offset
            st.integers(min_value=-5000, max_value=5000),    # cents
        ),
        min_size=2,
        max_size=60,
    ).filter(
        lambda rs: any(
            len({d for e2, d, _ in rs if e2 == e}) >= 2
            for e in {e for e, _, _ in rs}
        )
    )
)
def test_entity_changepoint_matches_reference(spark, rows, tmp_path_factory):
    """e47 vs the literal per-entity CUSUM rule: per event_type daily
    sums, argmax of |N·S_k − k·S_N| with the earlier-day tie-break;
    split day and regime sizes EXACT, means within the 6dp
    half-grid; single-day entities emit no row."""
    from collections import defaultdict

    from hadoop_release_spark.plans.e_windows import e47_entity_changepoint

    tmp = tmp_path_factory.mktemp("e47prop")
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [
                    T0 + datetime.timedelta(days=d, hours=3)
                    for _, d, _ in rows
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([e for e, _, _ in rows]),
            "value": pa.array([c / 100.0 for _, _, c in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, f"{tmp}/events.parquet")

    daily = defaultdict(lambda: defaultdict(int))
    for e, d, c in rows:
        daily[e][d] += c
    expected = {}
    for e, series in daily.items():
        grid = sorted(series)
        n = len(grid)
        if n < 2:
            continue
        s_n = sum(series.values())
        best = None
        s_k = 0
        for k, day in enumerate(grid, start=1):
            s_k += series[day]
            if k >= n:
                break
            dev = abs(n * s_k - k * s_n)
            if best is None or dev > best[0]:
                best = (dev, day, k, s_k)
        expected[e] = (best[1], best[2], n, best[3], s_n)

    got = {
        r.event_type: r
        for r in e47_entity_changepoint(spark, str(tmp)).collect()
    }
    assert set(got) == set(expected)
    epoch0 = int(
        (T0 - datetime.datetime(1970, 1, 1)).total_seconds() // 86400
    )
    for e, (day, k, n, sk, sn) in expected.items():
        r = got[e]
        assert (r.n_days, r.n_before, r.n_after) == (n, k, n - k)
        assert r.split_day_id == epoch0 + day
        assert abs(r.mean_before_cents - sk / k) <= 6e-7
        assert abs(r.mean_after_cents - (sn - sk) / (n - k)) <= 6e-7
        assert abs(r.shift_cents - ((sn - sk) / (n - k) - sk / k)) <= 2e-6


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["view", "purchase"]),         # entity
            st.integers(min_value=0, max_value=45),        # day offset
            st.integers(min_value=100, max_value=500000),  # cents
        ),
        min_size=1,
        max_size=45,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_entity_seasonal_adjust_matches_reference(spark, rows):
    """e48 vs a pure-Python PER-ENTITY weekly-median decomposition:
    each entity's series independently gets the e43 rule
    (weekday-class lower median, deseasonalize, centered 7-observed-
    day rolling lower-median trend). All-integer, no tolerance."""
    from collections import defaultdict

    from hadoop_release_spark.plans.registry import specs

    tmp = tempfile.mkdtemp(prefix="prop_e48_")
    try:
        tbl = pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array(
                    [T0 + datetime.timedelta(days=d) for _, d, _ in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array([e for e, _, _ in rows]),
                "value": pa.array(
                    [c / 100.0 for _, _, c in rows], pa.float64()
                ),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{tmp}/events.parquet")
        got = {
            (r["event_type"], r["day_id"]): (
                r["dow"], r["cents"], r["seasonal"], r["deseason"],
                r["trend"], r["residual"],
            )
            for r in specs()["e48_entity_seasonal_adjust"]
            .fn(spark, tmp)
            .collect()
        }
        base_day = (
            int(T0.replace(tzinfo=datetime.timezone.utc).timestamp())
            * 1_000_000
        ) // (86_400 * 1_000_000)
        lomed = lambda xs: sorted(xs)[(len(xs) + 1) // 2 - 1]  # noqa: E731
        want = {}
        per_entity = defaultdict(list)
        for e, d, c in rows:
            per_entity[e].append((base_day + d, c))
        for e, seq in per_entity.items():
            seq = sorted(seq)
            by_dow = defaultdict(list)
            for d, c in seq:
                by_dow[d % 7].append(c)
            seasonal = {dow: lomed(cs) for dow, cs in by_dow.items()}
            des = [(d, c, c - seasonal[d % 7]) for d, c in seq]
            for i, (d, c, dz) in enumerate(des):
                if 3 <= i < len(des) - 3:
                    tr = lomed([dz2 for _, _, dz2 in des[i - 3 : i + 4]])
                    res = dz - tr
                else:
                    tr, res = None, None
                want[(e, d)] = (d % 7, c, seasonal[d % 7], dz, tr, res)
        assert got == want, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "ep"]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=60,
    )
)
def test_corpus_pipeline_v2_matches_reference(spark, docs, tmp_path_factory):
    """l70 vs a pure-Python replay of the whole chain (semantic stage
    neutralized with an EMPTY embeddings table so stages 1-3 and the
    placement stages carry the property): URL refetch collapse keys
    on (doc_id % 50, md5(text)) — the planted canonicalization
    collapses the four variants of one (site,page,id) triple, which
    is doc_id mod 50; exact dedup on md5(text) among survivors; near
    dedup via the full MinHash/LSH replay (shingles → md5 mod P →
    LCG sigs → 16×4 banding → exact Jaccard, Spark's HALF_UP 3dp via
    Decimal); kept docs get the md5(source) split and the rendezvous
    shard. Statuses, dup_of, split, shard all exact."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal
    from itertools import combinations

    from hadoop_release_spark.operators.dedup import _P, _hash_params
    from hadoop_release_spark.plans.l_pipeline import (
        SPLIT_TRAIN_LT,
        SPLIT_VAL_LT,
        _L60_SHARDS,
    )
    from hadoop_release_spark.plans.registry import specs

    texts = [" ".join(ws) for ws in docs]
    n = len(texts)
    tmp = tmp_path_factory.mktemp("l70prop")
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"s{i % 3}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")
    empty = pa.table(
        {
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
            "label": pa.array([], pa.int32()),
        }
    )
    pq.write_table(empty, f"{tmp}/embeddings.parquet")

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731

    # stage 1: URL refetch collapse on (curl-key, content hash)
    status, dup_of = {}, {}
    groups = {}
    for d in range(n):
        groups.setdefault((d % 50, md5(texts[d])), []).append(d)
    u_surv = []
    for ds in groups.values():
        ds = sorted(ds)
        u_surv.append(ds[0])
        for d in ds[1:]:
            status[d], dup_of[d] = "url_refetch_dup", ds[0]
    # stage 2: exact content dedup among stage-1 survivors
    by_hash = {}
    for d in sorted(u_surv):
        by_hash.setdefault(md5(texts[d]), []).append(d)
    e_surv = []
    for ds in by_hash.values():
        e_surv.append(ds[0])
        for d in ds[1:]:
            status[d], dup_of[d] = "exact_dup", ds[0]
    # stage 3: MinHash/LSH near dedup (full replay, l68 machinery)

    def shingles(ws):
        if len(ws) >= 3:
            out, seen = [], set()
            for i in range(len(ws) - 2):
                s = " ".join(ws[i : i + 3])
                if s not in seen:
                    seen.add(s)
                    out.append(s)
            return out
        return [" ".join(ws)]

    params = _hash_params(64)

    def signature(sh):
        hs = [int(md5(s)[:15], 16) % _P for s in sh]
        return [min((a * h + b) % _P for h in hs) for a, b in params]

    shs = {d: shingles(docs[d]) for d in e_surv}
    sigs = {d: signature(shs[d]) for d in e_surv}

    def buckets(sig):
        return {
            (b, ",".join(str(v) for v in sig[b * 4 : b * 4 + 4]))
            for b in range(16)
        }

    nkill = {}
    for a, b in combinations(sorted(e_surv), 2):
        if buckets(sigs[a]) & buckets(sigs[b]):
            inter = len(set(shs[a]) & set(shs[b]))
            union = len(set(shs[a]) | set(shs[b]))
            j3 = Decimal(inter / union).quantize(
                Decimal("0.001"), ROUND_HALF_UP
            )
            if j3 >= Decimal("0.3"):
                nkill.setdefault(b, a)
    for b, a in nkill.items():
        status[b], dup_of[b] = "near_dup", a
    kept = [d for d in e_surv if d not in nkill]
    # stages 5-6 for kept (semantic stage empty)
    want = {}
    for d in range(n):
        if d in status:
            # every drop in this fixture is stage 1-3 (the semantic
            # stage is neutralized), hence semantic_examined False
            want[d] = (status[d], dup_of[d], None, None, False)
    for d in kept:
        bucket = int(md5(f"s{d % 3}")[:4], 16) % 100
        split = (
            "train"
            if bucket < SPLIT_TRAIN_LT
            else ("val" if bucket < SPLIT_VAL_LT else "test")
        )
        shard = max(
            range(_L60_SHARDS), key=lambda s: (md5(f"{d}:{s}"), -s)
        )
        # the embeddings table is EMPTY in this fixture, so every
        # kept doc is honestly flagged semantic-unexamined
        want[d] = ("kept", None, split, shard, False)

    try:
        got = {
            r.doc_id: (
                r.status, r.dup_of, r.split, r.shard, r.semantic_examined
            )
            for r in specs()["l70_corpus_pipeline_v2"]
            .fn(spark, str(tmp))
            .collect()
        }
        assert got == want, {k: (got.get(k), want.get(k)) for k in set(got) | set(want) if got.get(k) != want.get(k)}
    finally:
        # l70 persists its per-stage kill tables and the LSH staging
        # block past the call by contract (released by the registry
        # wrapper in production); hypothesis runs this body dozens of
        # times per session, so release here or the blocks accumulate
        # one pipeline working set per example — the same fix the
        # l68 calibration test above carries.
        from hadoop_release_spark.functions.materialize import release

        release()


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b"]), min_size=4, max_size=18
        ),
        min_size=2,
        max_size=60,
    )
)
def test_exact_substring_matches_reference(spark, docs, tmp_path_factory):
    """l74 vs a pure-Python replay of the whole ExactSubstr chain
    (positional K-grams, the df <= MAX_DF boilerplate guard, pair
    matches, diagonal gaps-and-islands run merge): a 2-word vocab
    makes every K-gram collide somewhere, and 60 docs can push a
    gram's document frequency past the guard, so both the matching
    AND the guard are exercised."""
    from collections import defaultdict

    from hadoop_release_spark.plans.l_pipeline import (
        L74_GRAM_K,
        L74_MAX_DF,
        l74_exact_substring,
    )

    k = L74_GRAM_K
    texts = [" ".join(ws) for ws in docs]
    n = len(texts)
    tmp = tmp_path_factory.mktemp("l74prop")
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")

    # replay: positional grams -> df guard -> pair matches -> runs
    pos_grams = {
        d: [
            " ".join(ws[i : i + k])
            for i in range(len(ws) - k + 1)
        ]
        for d, ws in enumerate(docs)
        if len(ws) >= k
    }
    docs_of = defaultdict(set)
    for d, gs in pos_grams.items():
        for g in gs:
            docs_of[g].add(d)
    kept = {g for g, ds in docs_of.items() if len(ds) <= L74_MAX_DF}
    want = set()
    ids = sorted(pos_grams)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            by_diag = defaultdict(list)
            for pa_, ga in enumerate(pos_grams[a]):
                if ga not in kept:
                    continue
                for pb, gb in enumerate(pos_grams[b]):
                    if gb == ga:
                        by_diag[pa_ - pb].append(pa_)
            for diag, pas in by_diag.items():
                pas = sorted(set(pas))
                start = prev = pas[0]
                for p in pas[1:] + [None]:
                    if p is not None and p == prev + 1:
                        prev = p
                        continue
                    run_len = prev - start + 1
                    want.add(
                        (b, a, start - diag, start, run_len + k - 1)
                    )
                    if p is not None:
                        start = prev = p
    try:
        got = {
            (r.doc_id, r.dup_of, r.start_pos, r.src_pos, r.n_tokens)
            for r in l74_exact_substring(spark, str(tmp)).collect()
        }
        assert got == want, (got - want, want - got)
    finally:
        # l74 persists the guarded gram table past the call by
        # contract (released by the registry wrapper in production);
        # hypothesis reruns this body — release per example.
        from hadoop_release_spark.functions.materialize import release

        release()


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=14
        ),
        min_size=2,
        max_size=60,
    )
)
def test_bloom_gated_ingest_matches_reference(spark, docs, tmp_path_factory):
    """l75 vs a pure-Python replay of the WHOLE gated pipeline,
    bloom bits included: corpus 8-gram set → md5-slice bit
    positions → per-gram two-bit test → gated intersection. A
    3-word vocab forces shared grams (exercising the gate's
    lossless path) while distinct word orders produce unshared
    grams the bloom must mostly reject. Every output column is
    replayed exactly — including n_bloom_pass, because the bitmap
    is portable md5 arithmetic a pure-Python oracle can reproduce
    bit-for-bit."""
    import hashlib

    from hadoop_release_spark.plans.l_pipeline import (
        DECON_MIN_SHARED,
        DECON_NGRAM_K,
        L72_M_BITS,
        NEW_MOD,
        NEW_REM,
        l75_bloom_gated_ingest,
    )

    texts = [" ".join(ws) for ws in docs]
    n = len(texts)
    tmp = tmp_path_factory.mktemp("l75prop")
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
        }
    )
    pq.write_table(tbl, f"{tmp}/documents.parquet")

    def grams(ws):
        if len(ws) >= DECON_NGRAM_K:
            return {
                " ".join(ws[i : i + DECON_NGRAM_K])
                for i in range(len(ws) - DECON_NGRAM_K + 1)
            }
        return {" ".join(ws)}

    def bits(g):
        h = hashlib.md5(g.encode()).hexdigest()
        return (int(h[0:8], 16) % L72_M_BITS, int(h[8:16], 16) % L72_M_BITS)

    corpus_grams = set()
    for d, ws in enumerate(docs):
        if d % NEW_MOD != NEW_REM:
            corpus_grams |= grams(ws)
    corpus_bits = set()
    for g in corpus_grams:
        corpus_bits.update(bits(g))

    want = {}
    for d, ws in enumerate(docs):
        if d % NEW_MOD != NEW_REM:
            continue
        gs = grams(ws)
        passing = {g for g in gs if set(bits(g)) <= corpus_bits}
        shared = gs & corpus_grams
        assert shared <= passing  # no false negatives, by construction
        want[d] = (
            len(gs),
            len(passing),
            len(shared),
            len(shared) >= DECON_MIN_SHARED,
        )

    got = {
        r.doc_id: (r.n_grams, r.n_bloom_pass, r.n_shared, r.contaminated)
        for r in l75_bloom_gated_ingest(spark, str(tmp)).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    data=st.data(),
    n_vecs=st.integers(min_value=1, max_value=12),
    n_cents=st.integers(min_value=1, max_value=6),
)
def test_rank_clusters_emit_sim_3dp_matches_reference(
    spark, data, n_vecs, n_cents
):
    """emit_sim_3dp property (round-13 l48 kernel mode): for ANY
    small vector/centroid set, the kernel's (cluster, __sim) must
    equal a pure-Python replay of the declarative rule — float32
    cast, float64 cosine accumulated dimension-by-dimension, round
    to 3dp, THEN rank (sim DESC, centroid_id ASC). Values are drawn
    from a coarse grid plus near-ties so rounded-equal-but-raw-
    different sims (the case raw-sim ranking gets wrong) occur
    often, not just in the planted test."""
    import math

    import numpy as np

    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
    )

    dim = 4
    # Coarse component grid → many exact and near 3dp ties.
    comp = st.sampled_from([-1.0, -0.5, 0.1, 0.25, 0.5, 0.7, 1.0])
    vec = st.lists(comp, min_size=dim, max_size=dim).filter(
        lambda v: any(x != 0 for x in v)
    )
    vecs = [data.draw(vec) for _ in range(n_vecs)]
    cents = [data.draw(vec) for _ in range(n_cents)]

    e = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    c = spark.createDataFrame(
        [(j, v) for j, v in enumerate(cents)],
        "centroid_id long, centroid array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["__sim"])
        for r in rank_clusters_arrow(
            e, c, nprobe=1, dim=dim, emit_sim_3dp=True
        ).collect()
    }

    want = {}
    for i, v in enumerate(vecs):
        v32 = [float(np.float32(x)) for x in v]
        vn = math.sqrt(sum(x * x for x in v32))
        best = None
        for j, cv in enumerate(cents):
            c32 = [float(np.float32(x)) for x in cv]
            cn = math.sqrt(sum(x * x for x in c32))
            s = 0.0
            for k in range(dim):
                s += v32[k] * c32[k]
            sim = float(np.round(s / (vn * cn), 3))
            # rank rule: rounded sim DESC, centroid_id ASC
            if best is None or sim > best[1]:
                best = (j, sim)
        want[i] = best and (best[0], best[1])

    assert got == want


@settings(**_SETTINGS)
@given(
    data=st.data(),
    n_vecs=st.integers(min_value=1, max_value=12),
    stride=st.integers(min_value=1, max_value=4),
    nprobe=st.integers(min_value=1, max_value=3),
)
def test_two_level_probe_all_matches_flat_reference(
    spark, data, n_vecs, stride, nprobe
):
    """Two-level quantizer property (round-14): for ANY small vector
    set — drawn from a coarse grid so exact cosine TIES (including
    duplicate vectors, the self-cell-override edge) occur often —
    the probe-all two-level assignment (rank_clusters_two_level at
    k=1) must equal a pure-Python replay of the FLAT rule: argmax
    over the stride-sampled fine centroids of the float64
    dimension-by-dimension cosine, ties to the LOWER fine id. nprobe
    varies only the coarse LAYOUT (cell sizing), which probe-all
    equality must be blind to."""
    import math

    import numpy as np

    from hadoop_release_spark.operators.similarity import (
        rank_clusters_two_level,
    )

    dim = 4
    comp = st.sampled_from([-1.0, -0.5, 0.25, 0.5, 1.0])
    vec = st.lists(comp, min_size=dim, max_size=dim).filter(
        lambda v: any(x != 0 for x in v)
    )
    vecs = [data.draw(vec) for _ in range(n_vecs)]

    e = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = rank_clusters_two_level(
        e, dim, 1, stride=stride, nprobe_coarse=nprobe, probe_all=True
    ).collect()
    assert all(r["__rn"] == 1 for r in rows)
    got = {r["vec_id"]: r["cluster"] for r in rows}

    fine = [(j, v) for j, v in enumerate(vecs) if j % stride == 0]
    want = {}
    for i, v in enumerate(vecs):
        v32 = [float(np.float32(x)) for x in v]
        vn = math.sqrt(sum(x * x for x in v32))
        best = None
        for j, cv in fine:
            c32 = [float(np.float32(x)) for x in cv]
            cn = math.sqrt(sum(x * x for x in c32))
            s = 0.0
            for k in range(dim):
                s += v32[k] * c32[k]
            sim = s / (vn * cn)
            if best is None or sim > best[1]:
                best = (j, sim)
        want[i] = best[0]

    assert len(rows) == len(got)
    assert got == want


@settings(**_SETTINGS)
@given(
    data=st.data(),
    n_vecs=st.integers(min_value=1, max_value=10),
    stride=st.integers(min_value=1, max_value=3),
    k=st.integers(min_value=1, max_value=4),
)
def test_rank_two_level_probe_all_matches_flat_topk_reference(
    spark, data, n_vecs, stride, k
):
    """Top-k two-level property (round-14, the k>1 kernel branch):
    probe-all ranking must equal a pure-Python replay of the flat
    rule — per vector, ALL stride-sampled fine centroids ranked by
    (float64 dim-loop cosine DESC, fine id ASC), top min(k, K) kept
    with __rn 1..j. Coarse grid components force exact ties
    (duplicate vectors included) so the cross-cell merge's tie
    handling is exercised, not just the happy path."""
    import math

    import numpy as np

    from hadoop_release_spark.operators.similarity import (
        rank_clusters_two_level,
    )

    dim = 4
    comp = st.sampled_from([-1.0, -0.5, 0.25, 0.5, 1.0])
    vec = st.lists(comp, min_size=dim, max_size=dim).filter(
        lambda v: any(x != 0 for x in v)
    )
    vecs = [data.draw(vec) for _ in range(n_vecs)]

    e = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = sorted(
        (r["vec_id"], r["cluster"], r["__rn"])
        for r in rank_clusters_two_level(
            e, dim, k, stride=stride, nprobe_coarse=2, probe_all=True
        ).collect()
    )

    fine = [(j, v) for j, v in enumerate(vecs) if j % stride == 0]
    want = []
    for i, v in enumerate(vecs):
        v32 = [float(np.float32(x)) for x in v]
        vn = math.sqrt(sum(x * x for x in v32))
        scored = []
        for j, cv in fine:
            c32 = [float(np.float32(x)) for x in cv]
            cn = math.sqrt(sum(x * x for x in c32))
            s = 0.0
            for d in range(dim):
                s += v32[d] * c32[d]
            scored.append((-(s / (vn * cn)), j))
        scored.sort()
        for rn, (_, j) in enumerate(scored[: min(k, len(fine))], start=1):
            want.append((i, j, rn))
    assert got == sorted(want)
