"""§2.K — UDF / UDAF / UDTF surface.

Reference analog: Hadoop Streaming — arbitrary user code over record
streams. The engine's ladder, fastest first:

  1. builtin Catalyst expressions (everything in §2.H) — codegen'd;
  2. ``pandas_udf`` / ``applyInPandas`` / ``mapInPandas`` — Arrow
     batch transfer to a Python worker, vectorized numpy/pandas
     compute (~10-100× faster than row-at-a-time);
  3. row-at-a-time ``@udf`` — pickled per row; k01 exists to cover
     the API, and is deliberately the only row-wise UDF in the repo.

Float discipline: Python-side arithmetic is the same IEEE double
arithmetic as the JVM and DuckDB, so elementwise expressions are
bit-deterministic; only reductions (k03/k04) need rounding, at
scales where the accumulation error (~1e-9) is far inside the
rounding half-grid (5e-5).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.contracts import py_round_half_away as _round_half_away
from hadoop_release_spark.functions.materialize import temp_view
from hadoop_release_spark.plans.registry import register


@register(
    "k01_udf_python",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS band
    FROM orders
    """,
)
def k01_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise Python UDF (price-band labeling). Semantically equal
    to h12's CASE expression — the point is the API parity; the CASE
    form is what production code should use."""

    @F.udf(returnType=StringType())
    def band(price: float) -> str:
        if price > 300000:
            return "high"
        if price > 100000:
            return "mid"
        return "low"

    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@register(
    "k02_udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net
    FROM lineitem
    """,
)
def k02_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) scalar UDF: elementwise net price on numpy
    arrays — IEEE-identical to the JVM expression, no rounding
    needed."""

    @F.pandas_udf(DoubleType())
    def net(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1 - discount)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", net("l_extendedprice", "l_discount").alias("net")
    )


@register(
    "k03_udaf_pandas",
    oracle="""
    SELECT c_nationkey,
           round(sum(c_acctbal * c_custkey) / sum(c_custkey), 4) AS weighted_bal
    FROM customer GROUP BY c_nationkey
    """,
    priority="P2",
)
def k03_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF: custkey-weighted mean balance
    per nation (groups are ~100 rows, so float accumulation error
    ≪ the 4dp half-grid)."""

    @F.pandas_udf("double")
    def weighted_mean(bal: pd.Series, weight: pd.Series) -> float:
        return float(_round_half_away((bal * weight).sum() / weight.sum(), 4))

    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        weighted_mean("c_acctbal", "c_custkey").alias("weighted_bal")
    )


@register(
    "k04_udf_grouped_map",
    oracle="""
    SELECT event_id, user_id,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
    priority="P2",
)
def k04_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map transform: z-normalize value within each user
    (the canonical applyInPandas pattern — whole group in, whole
    group out)."""

    def znorm(pdf: pd.DataFrame) -> pd.DataFrame:
        # ddof=1 matches the oracle's stddev_samp; a single-event
        # group gives std=NaN there DuckDB yields NULL, so map
        # non-finite z to None (Arrow NaN would hash-diverge from the
        # oracle's NULL). Half-away rounding matches DuckDB's round.
        std = pdf["value"].std(ddof=1)
        z = _round_half_away((pdf["value"] - pdf["value"].mean()) / std, 4)
        z = pd.Series(z, index=pdf.index).astype(object)
        pdf = pdf.assign(z=z.where(np.isfinite(z.astype(float)), None))
        return pdf[["event_id", "user_id", "z"]]

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        znorm, schema="event_id long, user_id long, z double"
    )


@register(
    "k05_udtf",
    oracle="""
    SELECT o_orderkey, unnest(range(0, o_orderkey % 4 + 1)) AS seq
    FROM orders WHERE o_orderkey <= 1000
    """,
    priority="P2",
)
def k05_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one input row → N output rows (PySpark 4's
    lateral-join-style table function)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, seq bigint")
    class Expand:
        def eval(self, orderkey: int):
            for k in range((orderkey % 4) + 1):
                yield orderkey, k

    spark.udtf.register("k05_expand_seq", Expand)
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    temp_view(spark, "orders_k05", o)
    return spark.sql(
        "SELECT s.o_orderkey, s.seq "
        "FROM orders_k05, LATERAL k05_expand_seq(o_orderkey) s"
    )


@register(
    "k06_map_in_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
    priority="P2",
)
def k06_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise iterator UDF (the Hadoop Streaming analog: a
    whole input split streams through user code as Arrow batches)."""

    def compute(batches):
        for pdf in batches:
            out = pdf[["l_orderkey", "l_linenumber"]].copy()
            out["charge"] = pdf["l_extendedprice"] * (1 - pdf["l_discount"]) * (1 + pdf["l_tax"])
            yield out

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    return li.mapInPandas(compute, schema="l_orderkey long, l_linenumber int, charge double")


@register(
    "k07_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net
    FROM lineitem
    """,
    priority="P2",
)
def k07_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native iterator UDF (``mapInArrow``) — the lowest-overhead
    Python path: batches arrive as raw ``pyarrow.RecordBatch`` and the
    computation runs entirely in pyarrow.compute kernels (C++,
    zero-copy, no pandas materialization). Completes the Python-eval
    API matrix next to k01 (row UDF), k02 (pandas scalar), k03 (pandas
    agg), k04 (grouped map), k05 (UDTF), k06 (pandas iterator).

    The arithmetic is one IEEE multiply of identical parquet doubles,
    so the unrounded result is bit-identical to the SQL oracle — same
    parity argument as k06.

    Scale shape: per-batch streaming transform, no shuffle, columns
    pruned to the three used; when Python is unavoidable this is the
    fastest boundary Spark offers (Arrow in, Arrow out, no
    row/pandas conversion either side)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def compute(batches):
        for batch in batches:
            net = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), batch.column("l_linenumber"), net],
                names=["l_orderkey", "l_linenumber", "net"],
            )

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    return li.mapInArrow(compute, schema="l_orderkey long, l_linenumber int, net double")


@register(
    "k08_udf_pandas_iter",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) * 100 + n_chars % 100
                AS BIGINT) AS feature
    FROM documents
    """,
    priority="P2",
)
def k08_udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form Pandas UDF (``Iterator[Series] -> Iterator[
    Series]``) — the API whose POINT is per-task one-time init: the
    expensive setup (a tokenizer, an ONNX session, a model handle)
    runs ONCE per executor task, then streams every Arrow batch
    through it; the scalar form (k02) would pay init per batch. Here
    the "model" is a deterministic stand-in (token count × 100 +
    n_chars mod 100 — all integer, oracle-trivial); a real inference
    pipeline swaps the loop body and NOTHING else changes.

    Scale shape: identical to k02 — Arrow-batched, no shuffle, fused
    with the scan; the iterator form additionally bounds init cost
    at #tasks, which at 100 TB (~400k scan tasks) is the difference
    between loading a model 400k times and streaming ~thousands of
    batches per load."""
    @F.pandas_udf(LongType())
    def feature(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time per-task init happens HERE (load model/tokenizer);
        # deterministic stand-in: a fixed multiplier.
        mult = 100
        for texts in batches:
            # nullable Int64: a NULL text row must degrade to NULL (as
            # the SQL oracle does), not NaN→astype(int64) task crash.
            yield texts.str.split(" ").str.len().astype("Int64") * mult

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (feature("text") + F.col("n_chars") % 100).cast("long").alias("feature"),
    )


@register(
    "k09_udf_arrow",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS band
    FROM orders
    """,
    priority="P2",
)
def k09_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (``useArrow=True``) — k01's exact
    price-band semantics through the third eval path in the UDF
    matrix: row-wise Python *logic* but Arrow-batched *transport*
    (ArrowEvalPython, plan-pinned), eliminating pickle
    serialization, the biggest cost of the classic path. Completes
    the API surface: k01 pickled row UDF · k02 vectorized pandas ·
    k09 arrow row UDF · k06/k07 map-batch forms."""

    @F.udf(returnType=StringType(), useArrow=True)
    def band(price: float) -> str:
        if price > 300000:
            return "high"
        if price > 100000:
            return "mid"
        return "low"

    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@register(
    "k10_udaf_window",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 4)
             AS cust_total
    FROM orders
    """,
    priority="P2",
)
def k10_udaf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF evaluated OVER A WINDOW — the last Python-UDF
    transport path the k-family was missing (k03 runs the same UDAF
    shape in groupBy().agg(); here the SAME decorated function
    attaches to Window.partitionBy, where Spark plans a
    WindowInPandas exec: every row keeps its identity and receives
    its partition's aggregate — no join-back needed). Unbounded
    partition frame; per-customer order totals broadcast onto each
    order row.

    Float discipline: groups are ≤ ~40 rows, so pandas' float sum
    vs the oracle's is ≪ the 4dp half-grid (k03 argument).

    Scale shape: one hash-partition exchange on the window key, the
    Python worker sees Arrow batches per partition — same shuffle
    count as the pure-JVM form; the UDF only adds the Arrow hop."""

    @F.pandas_udf("double")
    def psum(v: pd.Series) -> float:
        return float(_round_half_away(float(v.sum()), 4))

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        psum("o_totalprice").over(w).alias("cust_total"),
    )


@register(
    "k11_cogrouped_map",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS spend_cents
      FROM orders GROUP BY o_custkey
    ), e AS (
      SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY user_id
    )
    SELECT coalesce(o.key, e.key) AS key,
           coalesce(o.n_orders, 0) AS n_orders,
           coalesce(o.spend_cents, 0) AS spend_cents,
           coalesce(e.n_events, 0) AS n_events,
           coalesce(e.value_cents, 0) AS value_cents
    FROM o FULL OUTER JOIN e ON o.key = e.key
    """,
    priority="P2",
)
def k11_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map transform — the LAST cell of the Pandas
    transport matrix (k02 scalar, k03 UDAF, k04 grouped map, k06/k07
    map batches, k08 iter, k09 arrow, k05 UDTF — and this:
    ``groupBy().cogroup().applyInPandas``): both relations' rows for
    one key arrive as two aligned pandas frames, the Python analog
    of a reduce-side join. The demo merges a customer's orders and
    activity into one 360° row; either side may be EMPTY for a key
    (customers with no events, users with no orders) — the empty-
    frame path is the API's defining edge and the oracle's FULL
    OUTER JOIN checks it.

    Scale shape: each side shuffles ONCE on the key (identical to a
    shuffle join); Arrow moves whole per-key batches into Python.
    Cents stay exact integers (the d22 rule) so the hash gate holds
    bit-for-bit. Built-in join+agg expresses this exact query JVM-
    side (the oracle) — the operator exists for the API surface,
    where per-key Python logic genuinely can't be declarative."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    e = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )

    def merge(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "key": [int(key[0])],
                "n_orders": [len(left)],
                "spend_cents": [int(left["cents"].sum()) if len(left) else 0],
                "n_events": [len(right)],
                "value_cents": [int(right["cents"].sum()) if len(right) else 0],
            }
        )

    return (
        o.groupBy("key")
        .cogroup(e.groupBy("key"))
        .applyInPandas(
            merge,
            schema=(
                "key long, n_orders long, spend_cents long,"
                " n_events long, value_cents long"
            ),
        )
    )


#: k12 token bucket: capacity 10 tokens, refill 1 token per 4 HOURS,
#: per-event cost 1..5 tokens derived from the event's cents value.
#: State lives in µs-OF-CREDIT units — 1 token ≡ 4 h of refill, so
#: one unit accrues per elapsed microsecond: refill = Δt_µs EXACTLY,
#: no scaling, no division, every quantity an exact bigint and the
#: admission decision never touches a float. The 4 h rate is sized
#: to the fixture's arrival density (mean inter-event gap ≈ 10.7 h ≈
#: 2.7 tokens of refill vs mean cost 3): the bucket genuinely
#: drains, so the steady state mixes admits and REJECTS — a
#: faster-refill first cut admitted 10 000/10 000 events at sf0.01,
#: a vacuous replay (caught round 8, re-parameterized).
K12_TOKEN_US = 4 * 3600 * 1_000_000  # 1 token = 4 h of credit, in µs
K12_CAP_U = 10 * K12_TOKEN_US
K12_RATE_UT_PER_US = 1  # 1 credit-unit per elapsed µs, by construction


def token_bucket_admission(
    tus: np.ndarray,
    cost_u: np.ndarray,
    cap_u: int,
    rate: int,
    tokens0: int | None = None,
    prev_t0: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Sequential token-bucket admission over ONE key's events
    (arrays sorted by time): bucket starts full; before each event it
    refills by rate·Δt (capped), the event is admitted iff the
    available tokens cover its cost, and only admitted events drain
    the bucket. The rejected-events-don't-consume feedback makes the
    recurrence non-linear — the genuinely non-declarative core this
    operator exists for (a rejection changes every later balance, so
    no prefix-sum/running-min closed form applies). Pure integers
    throughout. Returns (admitted int64 0/1, tokens_after int64).

    ``tokens0``/``prev_t0`` resume the recurrence from carried state
    (j13's streaming micro-batch boundary); the defaults are the
    fresh-bucket start (full at cap, no prior event)."""
    n = len(tus)
    admitted = np.zeros(n, dtype=np.int64)
    after = np.zeros(n, dtype=np.int64)
    tokens = cap_u if tokens0 is None else int(tokens0)
    prev_t = prev_t0
    for i in range(n):
        t = int(tus[i])
        if prev_t is not None:
            tokens = min(cap_u, tokens + rate * (t - prev_t))
        c = int(cost_u[i])
        if tokens >= c:
            admitted[i] = 1
            tokens -= c
        after[i] = tokens
        prev_t = t
    return admitted, after


def _o_k12() -> str:
    return f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS tus,
             (1 + (CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) % 5))
               * {K12_TOKEN_US} AS cost_u,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), sim AS (
      SELECT user_id, event_id, rn, tus, cost_u,
             CASE WHEN {K12_CAP_U} >= cost_u THEN 1 ELSE 0 END
               AS admitted,
             CASE WHEN {K12_CAP_U} >= cost_u
                  THEN {K12_CAP_U} - cost_u ELSE {K12_CAP_U} END
               AS after_u
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.rn, e.tus, e.cost_u,
             CASE WHEN least({K12_CAP_U},
                             s.after_u + {K12_RATE_UT_PER_US}
                               * (e.tus - s.tus)) >= e.cost_u
                  THEN 1 ELSE 0 END,
             CASE WHEN least({K12_CAP_U},
                             s.after_u + {K12_RATE_UT_PER_US}
                               * (e.tus - s.tus)) >= e.cost_u
                  THEN least({K12_CAP_U},
                             s.after_u + {K12_RATE_UT_PER_US}
                               * (e.tus - s.tus)) - e.cost_u
                  ELSE least({K12_CAP_U},
                             s.after_u + {K12_RATE_UT_PER_US}
                               * (e.tus - s.tus)) END
      FROM sim s JOIN ev e
        ON e.user_id = s.user_id AND e.rn = s.rn + 1
    )
    SELECT user_id, event_id,
           CAST(admitted AS BIGINT) AS admitted,
           CAST(after_u AS BIGINT) AS tokens_after_u
    FROM sim
    """


@register("k12_token_bucket", oracle=_o_k12(), priority="P2")
def k12_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user token-bucket admission simulation — the rate-limit
    replay every abuse/quota audit runs over its event log ("which
    requests WOULD have been throttled under capacity C, refill R?").
    Bucket starts full (cap 10 tokens), refills 1 token per 4 h,
    events cost 1–5 tokens (derived from the event's cents value);
    an event is admitted iff the bucket covers its cost, and ONLY
    admitted events drain it — that feedback (rejections don't
    consume) makes the per-user recurrence non-linear, so unlike
    e18's EWMA or e22's running-max islands there is no window/
    prefix-scan closed form: this is the legitimate applyInPandas
    use-case (per-key sequential state, Arrow whole-group batches),
    the batch twin of j06's applyInPandasWithState. The DuckDB
    oracle replays the identical recurrence as a RECURSIVE CTE
    (one step per event rank), viable because fixture users have
    ~10²-10³ events — the Spark side is the scale path.

    All state lives in integer µs-of-credit units (1 token ≡ 4 h,
    so refill = Δt_µs exactly — no scaling step at all), so
    admitted/tokens_after hash bit-for-bit; the refill rate is sized
    so the fixture's bucket genuinely drains (see K12_TOKEN_US).

    Scale shape: ONE user_id hash exchange (identical to any
    grouped agg); each Python worker sees one user's events as an
    Arrow batch and runs an O(events-per-user) loop — total work
    linear in events, parallel across users; no state ever crosses
    keys. Cites k11 (cogrouped transport) and j06 (the streaming
    form whose state store replaces re-replay in production)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("tus"),
        F.expr(
            "(1 + (CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) % 5))"
            f" * {K12_TOKEN_US}"
        ).alias("cost_u"),
    )

    # r15 form: whole-partition mapInPandas over user-clustered,
    # user-sorted input instead of groupBy().applyInPandas. The
    # recurrence itself is unchanged (token_bucket_admission, same
    # per-user event order), but the fixture has ~15k users of ~7
    # events each, and applyInPandas builds one pandas DataFrame per
    # GROUP — ~100 µs of per-group overhead that dominated the query
    # (measured 2.5-3.0 s → ~1.1 s at sf0.1, identical rows). Shuffle
    # shape is identical: ONE user_id hash exchange + a per-partition
    # sort, exactly what FlatMapGroupsInPandas did internally. State
    # carries across Arrow batches inside a partition via the j13
    # resume parameters (tokens0/prev_t0) — a user's events can span
    # a batch boundary, a partition boundary never splits a user.
    def simulate_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        carry_user = None
        carry_tokens = None
        carry_prev_t = None
        for pdf in batches:
            users = pdf["user_id"].to_numpy(np.int64)
            tus = pdf["tus"].to_numpy(np.int64)
            cost = pdf["cost_u"].to_numpy(np.int64)
            n = len(users)
            if n == 0:
                continue
            admitted = np.empty(n, dtype=np.int64)
            after = np.empty(n, dtype=np.int64)
            # user-run boundaries within the batch (input is sorted
            # by user_id, so runs are contiguous)
            starts = np.flatnonzero(np.diff(users) != 0) + 1
            bounds = [0, *starts.tolist(), n]
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                u = int(users[lo])
                if u == carry_user:
                    t0, p0 = carry_tokens, carry_prev_t
                else:
                    t0, p0 = None, None  # fresh bucket (full at cap)
                a, af = token_bucket_admission(
                    tus[lo:hi],
                    cost[lo:hi],
                    K12_CAP_U,
                    K12_RATE_UT_PER_US,
                    tokens0=t0,
                    prev_t0=p0,
                )
                admitted[lo:hi] = a
                after[lo:hi] = af
                carry_user = u
                carry_tokens = int(af[-1])
                carry_prev_t = int(tus[hi - 1])
            yield pd.DataFrame(
                {
                    "user_id": users,
                    "event_id": pdf["event_id"].to_numpy(np.int64),
                    "admitted": admitted,
                    "tokens_after_u": after,
                }
            )

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "tus", "event_id")
        .mapInPandas(
            simulate_partition,
            schema=(
                "user_id long, event_id long, admitted long,"
                " tokens_after_u long"
            ),
        )
    )
