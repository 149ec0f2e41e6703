"""§2.E — window functions.

Reference analog: Hadoop's *secondary sort* idiom — values ordered
within a reduce group (the partition key is the grouping, the sort
key orders the values). Spark's ``Window`` spec generalizes this:
partitionBy = reduce key, orderBy = secondary sort, plus frames.

Scale note: a window with ``partitionBy`` parallelizes per key group
(one shuffle on the partition key, exactly like a reduce phase). A
window with NO partition collapses to a single task — never used
here except through operators/rank.py's two-phase ranker.

Float rule for window aggregates: window sums/avgs accumulate in an
engine-specific order (DuckDB uses segment trees), so contract
queries window-sum over exact DECIMAL casts and convert back — the
same trick as functions/contracts.py:dsum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.materialize import persist
from hadoop_release_spark.plans.registry import register

_DEC = "decimal(25,8)"


def _orders_with_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"
    )


@register(
    "e01_win_row_number",
    oracle="""
    SELECT o_orderkey, o_custkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS seq
    FROM orders
    """,
)
def e01_win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order sequence (unique ranking, tie-broken by key)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select("o_orderkey", "o_custkey", F.row_number().over(w).alias("seq"))


@register(
    "e02_win_rank_dense",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           rank()       OVER (PARTITION BY l_orderkey ORDER BY l_quantity) AS rnk,
           dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity) AS drnk
    FROM lineitem
    """,
)
def e02_win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank with ties (integer quantities tie often)."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "e03_win_ntile",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
    priority="P2",
)
def e03_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing per status (tie-broken by key so bucket
    boundaries are deterministic)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))


@register(
    "e04_win_pct",
    oracle="""
    SELECT o_orderkey,
           percent_rank() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS pct_rank,
           cume_dist()    OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS cume
    FROM orders
    """,
    priority="P2",
)
def e04_win_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative position: both are ratios of identical integers
    ((rank-1)/(n-1), rows≤current/n), so one IEEE division yields
    bit-identical doubles — no rounding needed."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "e05_win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
    FROM events
    """,
)
def e05_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset access to neighboring events in per-user time order."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@register(
    "e06_win_running",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS {_DEC.upper()}))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def e06_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer (exact-decimal window sum; the
    per-customer totals stay ≤10 significant digits so the double
    cast is exact)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double")
    return o.select("o_orderkey", "o_custkey", running.alias("running_total"))


@register(
    "e07_win_moving",
    oracle=f"""
    SELECT event_id, user_id,
           (CAST(sum(CAST(value AS {_DEC.upper()}))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / count(value)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS moving_avg
    FROM events
    """,
)
def e07_win_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average per user: exact-decimal frame sum divided
    by the frame count (one IEEE division, engine-identical)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    mov = F.sum(F.col("value").cast(_DEC)).over(w).cast("double") / F.count("value").over(w)
    return ev.select("event_id", "user_id", mov.alias("moving_avg"))


@register(
    "e08_win_range_frame",
    oracle=f"""
    SELECT o_orderkey,
           CAST(sum(CAST(o_totalprice AS {_DEC.upper()}))
                OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                      RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
                AS DOUBLE) AS near_sum
    FROM orders
    """,
    priority="P2",
)
def e08_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: sum over all orders within ±1000.0 of the current
    price (value-based frame, not row-based)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice").rangeBetween(-1000, 1000)
    near = F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double")
    return o.select("o_orderkey", near.alias("near_sum"))


@register(
    "e09_win_first_last",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           first_value(o_orderkey) OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_totalprice, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING) AS cheapest,
           last_value(o_orderkey)  OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_totalprice, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING) AS dearest
    FROM orders
    """,
    priority="P2",
)
def e09_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last_value with the full-partition frame (the default
    frame stops at CURRENT ROW, which makes last_value a footgun —
    the explicit frame is the correct idiom)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.first("o_orderkey").over(w).alias("cheapest"),
        F.last("o_orderkey").over(w).alias("dearest"),
    )


@register(
    "e10_win_topk_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey)
    WHERE rn <= 3
    """,
)
def e10_win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per market segment — THE per-group top-k
    idiom (rank + filter). At scale this shuffles once on the group
    key; the rank filter prunes before any further join."""
    joined = _orders_with_segment(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )


#: e11 sessionization gap: a new session starts after >12 h of user
#: inactivity (the fixture's 150 users × 30 days event stream yields
#: ~3 events/session at this threshold; the gap is the tunable knob).
SESSION_GAP_US = 12 * 3600 * 1_000_000


@register(
    "e11_sessionize",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us,
             CAST(value AS DECIMAL(25,8)) AS v
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
                      OR t_us - lag(t_us) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_sess
      FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY t_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           min(t_us) AS start_us, max(t_us) AS end_us,
           CAST(round(sum(v), 4) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, session_idx
    """,
    priority="P1",
)
def e11_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the canonical log-analytics operator:
    split each user's event stream into sessions at inactivity gaps
    (> SESSION_GAP_US), then aggregate one row per session. This is
    the batch twin of j03's streaming session_window, expressed as
    lag → gap flag → running sum (the session id) → group-agg.

    Scale shape: ONE shuffle on user_id serves the entire plan
    (verified: a single Exchange) — lag and the running sum share the
    same partition+order spec so Catalyst plans one Sort+Window pair,
    and the final groupBy(user_id, session_idx) groups on a superset
    of the partitioning key, so hash(user_id) already satisfies its
    clustering and no re-shuffle is needed. Skewed users (bots with
    millions of events)
    are the known hazard — at 100 TB, cap per-user history or salt
    the window key by day first. Times ride as epoch-µs bigints
    end-to-end (contracts.ts_us bridge); the value sum uses the
    exact-decimal rule."""
    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id", "event_id", t_us.alias("t_us"), F.col("value").cast(_DEC).alias("v")
    )
    prev = F.lag("t_us").over(w)
    flagged = seq.withColumn(
        "new_sess",
        F.when(prev.isNull() | (F.col("t_us") - prev > SESSION_GAP_US), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("t_us").alias("start_us"),
        F.max("t_us").alias("end_us"),
        F.round(F.sum("v"), 4).cast("double").alias("sum_value"),
    )


#: e12 funnel: later steps must land within this horizon of the
#: user's FIRST step-1 event (and strictly after the prior step).
#: 24 h discriminates at fixture event density: 150 → 60 → 14 users.
FUNNEL_HORIZON_US = 24 * 3600 * 1_000_000
FUNNEL_STEPS = ["view", "click", "purchase"]


@register(
    "e12_funnel",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t
      FROM events
    ), s1 AS (
      SELECT user_id, min(t) AS t1 FROM ev
      WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
    ), s2 AS (
      SELECT ev.user_id, min(s1.t1) AS t1, min(ev.t) AS t2
      FROM ev JOIN s1 ON ev.user_id = s1.user_id
      WHERE ev.event_type = '{FUNNEL_STEPS[1]}'
        AND ev.t > s1.t1 AND ev.t <= s1.t1 + {FUNNEL_HORIZON_US}
      GROUP BY ev.user_id
    ), s3 AS (
      SELECT ev.user_id, min(ev.t) AS t3
      FROM ev JOIN s2 ON ev.user_id = s2.user_id
      WHERE ev.event_type = '{FUNNEL_STEPS[2]}'
        AND ev.t > s2.t2 AND ev.t <= s2.t1 + {FUNNEL_HORIZON_US}
      GROUP BY ev.user_id
    )
    SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
           (SELECT count(*) FROM s1) AS n_users
    UNION ALL SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
    UNION ALL SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3)
    """,
    priority="P1",
)
def e12_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis — the product-analytics staple: how
    many users progressed view → click → purchase, where each step
    must occur STRICTLY AFTER the user's previous step and within
    FUNNEL_HORIZON_US of their first step-1 event. First-match
    semantics: step k anchors at the user's earliest qualifying
    event, the standard (and order-deterministic) funnel definition.

    Determinism design: anchors are min() selections over integer
    epoch-µs, and the output is three count rows — no float, no
    ordering hazard; equal-timestamp ties never matter because the
    predicate is a set filter, not a sequence scan.

    Scale shape: each stage scans events with its event_type
    predicate PUSHED DOWN (a step reads only its own slice, not the
    full log) and aggregates on user_id with map-side partial min —
    each stage's shuffle carries one row per (task, user), and all
    stages shuffle on the SAME key so the step joins are co-located.
    Step tables shrink monotonically (funnel property), so later
    joins are broadcast-able at any scale (verified: both step joins
    plan as broadcasts). Extending to k steps is a linear chain of
    the same shape, not a self-join explosion."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(
            (F.col("t") > F.col("t1"))
            & (F.col("t") <= F.col("t1") + FUNNEL_HORIZON_US)
        )
        .groupBy("user_id")
        .agg(F.min("t1").alias("t1"), F.min("t").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(
            (F.col("t") > F.col("t2"))
            & (F.col("t") <= F.col("t1") + FUNNEL_HORIZON_US)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )

    def count_row(step: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(step).cast("int").alias("step"),
            F.lit(name).alias("event_type"),
            F.count("*").alias("n_users"),
        )

    return (
        count_row(1, FUNNEL_STEPS[0], s1)
        .unionAll(count_row(2, FUNNEL_STEPS[1], s2))
        .unionAll(count_row(3, FUNNEL_STEPS[2], s3))
    )


#: e13 cohort grain: epoch-day index (t_us DIV DAY_US) — pure
#: integer bucketing, immune to calendar/timezone divergence. Day
#: grain (not week) because the 30-day fixture yields a rich
#: ~400-cell retention matrix at days and a degenerate 5-cell one at
#: weeks; at production scale the same query runs at any DIV grain.
DAY_US = 24 * 3600 * 1_000_000


@register(
    "e13_retention",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {DAY_US} AS day
      FROM events
    ), cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, day FROM ev
    )
    SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    priority="P1",
)
def e13_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the other half of product analytics next to
    e12's funnel: users are cohorted by the epoch-day of their first
    event, and each later active day counts toward that cohort's
    (cohort_day, day_offset) retention cell. The output is the
    classic retention triangle in long form.

    Determinism design: periods are integer epoch-µs DIV day-µs — no
    calendar or timezone semantics to diverge on — and every output
    is a count.

    Scale shape: one user_id shuffle computes cohorts (map-side
    partial min); the distinct-activity set compresses to one row
    per (user, day) map-side before the same-keyed join — Catalyst
    co-partitions cohort and activity, so the join adds no third
    shuffle. The final cell agg's count(DISTINCT user) is exact with
    a plain-count partial (a user appears once per (cohort, offset)
    after the distinct). Retention over a year of 100 TB logs is
    exactly this plan with the scan bounded by partition pruning on
    the event date."""
    ev = table(spark, sf_dir, "events").select(
        # integer DIV (not float `/`+cast): a µs value 1 below a day
        # boundary double-divides to the NEXT integer — latent
        # boundary flip the rest of the e-family already avoids
        "user_id", F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = ev.distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "e14_cdc_compact",
    oracle="""
    WITH log AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS v,
             event_id, value,
             (event_type = 'error') AS is_delete
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY v DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT user_id, v AS last_version, value AS last_value
    FROM ranked WHERE rn = 1 AND NOT is_delete
    """,
    priority="P1",
)
def e14_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction — the CDC snapshot read (the
    merge-on-read path of every lakehouse table format): a log of
    versioned upserts/deletes per key collapses to current state by
    keeping each key's LATEST version and dropping keys whose latest
    op is a delete. Here events stand in for the changelog (key =
    user_id, version = event epoch-µs tie-broken by event_id,
    delete = 'error' events), so ~1/5 of keys' visibility flips on
    their last event — the delete path is genuinely exercised.

    Differs from a07 (two-table upsert merge): this is N versions →
    1 within a single log, the compaction a streaming ingest runs
    continuously.

    Determinism: version ordering is total (integer µs + unique-ish
    event_id tiebreak applied identically in both engines); outputs
    are selections of one row's values — no accumulation, no floats
    computed.

    Scale shape: ONE shuffle on the key; per-key work is a
    row_number window — at 100 TB this runs per ingest partition
    (compact only files touched since the last checkpoint), and the
    window never sees more than one key group per task stream. The
    filter rn=1 fuses into the window stage, so the shuffle output
    is the only materialized state."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("v").desc(), F.col("event_id").desc()
    )
    log = ev.select(
        "user_id",
        F.unix_micros("ts").alias("v"),
        "event_id",
        "value",
        (F.col("event_type") == "error").alias("is_delete"),
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.col("is_delete")))
        .select("user_id", F.col("v").alias("last_version"), F.col("value").alias("last_value"))
    )


#: e15 probe slice: one-in-7 users keeps the graded compare payload
#: at ~3k rows while exercising every gap shape the fixture has.
GAPFILL_USER_MOD = 7


@register(
    "e15_gapfill",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {DAY_US} AS day,
             value
      FROM events WHERE user_id % {GAPFILL_USER_MOD} = 0
    ), daily AS (
      SELECT user_id, day,
             CAST(round(sum(CAST(value AS DECIMAL(25,8))), 4) AS DOUBLE) AS day_total,
             CAST(count(*) AS BIGINT) AS n_events
      FROM ev GROUP BY user_id, day
    ), spans AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
    ), grid AS (
      SELECT g.user_id, g.day, d.day_total,
             COALESCE(d.n_events, 0) AS n_events
      FROM (SELECT user_id, unnest(generate_series(d0, d1)) AS day
            FROM spans) g
      LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    ), grouped AS (
      SELECT *, count(day_total) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill_grp
      FROM grid
    )
    SELECT user_id, day,
           max(day_total) OVER (PARTITION BY user_id, fill_grp) AS filled_total,
           n_events,
           CAST(n_events > 0 AS INT) AS observed
    FROM grouped
    """,
    priority="P1",
)
def e15_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill — the resample step every
    metrics/feature pipeline runs before ML or charting: each user's
    daily totals become a DENSE day grid (missing days materialized)
    with gaps carrying the last observed value forward.

    The fill itself uses the portable fill-group idiom instead of
    ``last_value IGNORE NULLS``: a running count of non-null values
    assigns every gap row to the group of its most recent observed
    row, and a per-(user, group) max recovers that row's value — two
    standard window functions, identical semantics in any engine.

    Determinism: the day grid is integer epoch-day arithmetic; daily
    totals are exact-decimal sums (dsum); the fill only TRANSPORTS an
    already-deterministic double, so no new float computation enters.

    Scale shape: one shuffle keys everything by user_id — the daily
    rollup, the span, the sequence explode, and both window passes
    all share it (AQE coalesces the three same-key exchanges). The
    explode fan-out is bounded by the calendar span, not the event
    count, so 100 TB of events still grids to |users|×|days| rows —
    the output scale is chosen by the grain, and a year-grid of 1B
    users shards cleanly on the same user_id key."""
    from hadoop_release_spark.functions.contracts import dsum

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") % GAPFILL_USER_MOD == 0)
        .select(
            "user_id",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {DAY_US}").alias("day"),
            "value",
        )
    )
    daily = ev.groupBy("user_id", "day").agg(
        dsum("value").alias("day_total"), F.count("*").alias("n_events")
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = (
        spans.select(
            "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
        )
        .join(daily, ["user_id", "day"], "left")
        .withColumn("n_events", F.coalesce("n_events", F.lit(0)))
    )
    running = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = grid.withColumn("fill_grp", F.count("day_total").over(running))
    return grouped.select(
        "user_id",
        "day",
        F.max("day_total")
        .over(Window.partitionBy("user_id", "fill_grp"))
        .alias("filled_total"),
        "n_events",
        (F.col("n_events") > 0).cast("int").alias("observed"),
    )


#: e16 rolling-engagement window: a user active on day d counts as
#: "weekly active" on days d..d+WAU_DAYS-1.
WAU_DAYS = 7


@register(
    "e16_active_users",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {DAY_US} AS day
      FROM events
    ), mx AS (SELECT max(day) AS max_day FROM pairs),
    dau AS (
      SELECT day, count(DISTINCT user_id) AS dau FROM pairs GROUP BY day
    ), contrib AS (
      SELECT user_id, obs_day FROM (
        SELECT user_id,
               unnest(generate_series(day, day + {WAU_DAYS - 1})) AS obs_day
        FROM pairs)
      WHERE obs_day <= (SELECT max_day FROM mx)
    ), wau AS (
      SELECT obs_day AS day, count(DISTINCT user_id) AS wau
      FROM contrib GROUP BY obs_day
    )
    SELECT w.day, COALESCE(d.dau, 0) AS dau, w.wau
    FROM wau w LEFT JOIN dau d USING (day)
    """,
    priority="P1",
)
def e16_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement — DAU and trailing-7-day WAU per day, the
    metric pair every product dashboard leads with. WAU(d) = distinct
    users active on any of days d-6..d.

    The scale-correct construction is contribution explode, not a
    day-range self-join: each distinct (user, day) pair fans out to
    the ≤7 observation days it contributes to — a fan-out bounded by
    the WINDOW LENGTH, independent of user count or event volume —
    and the per-day distinct count collapses it back. (The naive
    alternative — join every day against a ±7-day activity range —
    shuffles |days|×|active-users| rows; this shuffles 7×|pairs|.)

    Determinism: integer epoch-day grid, distinct-count outputs only;
    observation days past the data's horizon are clipped so trailing
    windows never report phantom days.

    Scale shape: one distinct over (user, day) compresses the event
    log map-side; the explode is map-only; the final agg shuffles
    slim (obs_day, user) rows on obs_day. At 100 TB swap the exact
    count-distinct for s01/s06's HLL sketch and the same plan streams
    incrementally (mergeable per-day sketches)."""
    pairs = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {DAY_US}").alias("day"),
        )
        .distinct()
    )
    mx = pairs.agg(F.max("day").alias("max_day"))
    dau = pairs.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    contrib = (
        pairs.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(WAU_DAYS - 1))
            ).alias("obs_day"),
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("obs_day") <= F.col("max_day"))
    )
    return (
        contrib.groupBy(F.col("obs_day").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
        .join(dau, "day", "left")
        .select("day", F.coalesce("dau", F.lit(0)).alias("dau"), "wau")
    )


#: e17 — attribution lookback window (µs): touches older than this
#: before the conversion carry no credit.
ATTR_LOOKBACK_US = 7 * DAY_US


@register(
    "e17_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS p_us
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS touch_id, user_id, event_type AS touch_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us
      FROM events WHERE event_type IN ('view', 'click')
    ), joined AS (
      SELECT p.purchase_id, t.touch_id, t.touch_type,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY t.t_us, t.touch_id) AS rn_first,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY t.t_us DESC, t.touch_id DESC) AS rn_last
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.t_us < p.p_us AND t.t_us >= p.p_us - {ATTR_LOOKBACK_US}
    )
    SELECT p.purchase_id, p.user_id,
           f.touch_id AS first_touch_id, f.touch_type AS first_touch_type,
           l.touch_id AS last_touch_id, l.touch_type AS last_touch_type
    FROM p
    LEFT JOIN (SELECT * FROM joined WHERE rn_first = 1) f
           ON p.purchase_id = f.purchase_id
    LEFT JOIN (SELECT * FROM joined WHERE rn_last = 1) l
           ON p.purchase_id = l.purchase_id
    """,
    priority="P1",
)
def e17_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution — first-touch and last-touch: for every
    purchase, the earliest and latest view/click by the same user in
    the 7-day lookback before it. Purchases with no touch in the
    window still emit (NULL credit) — unattributed conversions are a
    metric, not a dropped row.

    Determinism: touch order is total (integer µs + event_id
    tiebreak); outputs are id/type selections, zero floats.

    Scale shape: ONE equi-join on user_id with the lookback predicate
    applied join-side (the c12 as-of discipline: time-bucket
    co-partitioning bounds it at 100 TB); both attribution picks come
    from the same joined relation via two row_number windows over the
    purchase key — the candidate set shuffles once and is consumed
    twice. Per-purchase fan-in is bounded by one user's 7-day touch
    count, the natural skew bound of behavioral data."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.unix_micros("ts").alias("t_us"),
    )
    joined = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - F.lit(ATTR_LOOKBACK_US)),
    )
    w_first = Window.partitionBy("purchase_id").orderBy("t_us", "touch_id")
    w_last = Window.partitionBy("purchase_id").orderBy(
        F.col("t_us").desc(), F.col("touch_id").desc()
    )
    ranked = joined.select(
        "purchase_id",
        "touch_id",
        "touch_type",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    first = ranked.filter(F.col("rn_first") == 1).select(
        F.col("purchase_id").alias("f_pid"),
        F.col("touch_id").alias("first_touch_id"),
        F.col("touch_type").alias("first_touch_type"),
    )
    last = ranked.filter(F.col("rn_last") == 1).select(
        F.col("purchase_id").alias("l_pid"),
        F.col("touch_id").alias("last_touch_id"),
        F.col("touch_type").alias("last_touch_type"),
    )
    return (
        p.join(first, p.purchase_id == first.f_pid, "left")
        .join(last, p.purchase_id == last.l_pid, "left")
        .select(
            "purchase_id",
            "user_id",
            "first_touch_id",
            "first_touch_type",
            "last_touch_id",
            "last_touch_type",
        )
    )


#: e18 — EWMA decay 1/2 per day over a 7-day horizon. Halving weights
#: are EXACT decimals (0.5^k has k decimal digits), so the weighted
#: contribution of a 2-dp daily total carries ≤8 true decimals —
#: inside DECIMAL(25,8)'s exact range in both engines.
EWMA_HORIZON_DAYS = 7
EWMA_WEIGHTS = ["1.0", "0.5", "0.25", "0.125", "0.0625", "0.03125", "0.015625"]


def _ewma_weight_sql(kexpr: str) -> str:
    cases = " ".join(
        f"WHEN {k} THEN CAST({w} AS DECIMAL(9,6))"
        for k, w in enumerate(EWMA_WEIGHTS)
    )
    return f"(CASE {kexpr} {cases} END)"


@register(
    "e18_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {DAY_US} AS day,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(14,2)) AS total
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, max(day) AS max_day FROM daily GROUP BY user_id
    ), contrib AS (
      SELECT d.user_id, d.day + k AS obs_day,
             d.total * {_ewma_weight_sql("k")} AS wv
      FROM daily d CROSS JOIN (SELECT unnest(generate_series(0,
             {EWMA_HORIZON_DAYS - 1})) AS k)
    )
    SELECT c.user_id, c.obs_day AS day,
           CAST(round(sum(c.wv), 4) AS DOUBLE) AS ewma
    FROM contrib c JOIN spans s
      ON c.user_id = s.user_id AND c.obs_day <= s.max_day
    GROUP BY c.user_id, c.obs_day
    """,
    priority="P2",
)
def e18_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted rolling value (EWMA smoothing) — the
    time-series baseline under every monitoring chart: per user-day,
    Σ_k total(day−k) · 0.5^k over a 7-day horizon. Days whose whole
    trailing horizon is empty are absent (identical construction both
    engines); days past the user's horizon are clipped.

    Float rule: the decay 1/2 per day is chosen so every weight
    0.5^k is an EXACT ≤6-digit decimal; weight × 2-dp daily total is
    exact in DECIMAL, summed exactly, rounded once, cast once — the
    dsum discipline extended to weighted sums. (An arbitrary α would
    put inexact doubles inside the accumulation and break the hash.)

    Scale shape: e16's contribution explode, weighted — each daily
    row fans out to the ≤7 observation days it decays into (bounded
    by the HORIZON, not by data volume), then one (user, day) agg
    collapses it. No day-range self-join, no per-user sort; the
    daily rollup and the final agg share the user_id shuffle key."""
    k_lits = F.array(
        *[F.lit(w).cast("decimal(9,6)") for w in EWMA_WEIGHTS]
    )
    daily = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("v").cast("decimal(14,2)").alias("total"))
    )
    spans = daily.groupBy("user_id").agg(F.max("day").alias("max_day"))
    contrib = daily.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(EWMA_HORIZON_DAYS - 1))).alias("k"),
        "day",
        "total",
    ).select(
        "user_id",
        (F.col("day") + F.col("k")).alias("obs_day"),
        (F.col("total") * F.element_at(k_lits, F.col("k") + 1)).alias("wv"),
    )
    return (
        contrib.join(spans, "user_id")
        .filter(F.col("obs_day") <= F.col("max_day"))
        .groupBy("user_id", F.col("obs_day").alias("day"))
        .agg(F.round(F.sum("wv"), 4).cast("double").alias("ewma"))
    )


#: e19 — spike rule: a day is a spike when its event count exceeds
#: SPIKE_MULT × the trailing-window daily mean, computed ALL-INTEGER
#: (n · trailing_days > SPIKE_MULT · trailing_events).
SPIKE_TRAIL_DAYS = 14
SPIKE_MULT = 2


@register(
    "e19_anomaly_days",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {DAY_US} AS day,
             count(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT day, n_events,
           CAST(count(*) OVER w AS BIGINT) AS trailing_days,
           CAST(COALESCE(sum(n_events) OVER w, 0) AS BIGINT) AS trailing_events,
           CAST(n_events * count(*) OVER w >
                {SPIKE_MULT} * COALESCE(sum(n_events) OVER w, 0) AS INT)
             AS is_spike
    FROM daily
    WINDOW w AS (ORDER BY day
                 RANGE BETWEEN {SPIKE_TRAIL_DAYS} PRECEDING AND 1 PRECEDING)
    """,
    priority="P2",
)
def e19_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly flagging — the ops-dashboard spike detector: a
    day is a spike when its event count exceeds SPIKE_MULT× the mean
    of the trailing 14 days. The mean comparison is cross-multiplied
    into pure INTEGER arithmetic (n·days > mult·Σn), so the flag has
    no float to diverge on; empty trailing windows (day one) compare
    0 > 0 and are never spikes.

    The trailing frame is RANGE over the integer day (calendar gaps
    shrink the window honestly) and excludes the current day — a
    spike must not dilute its own baseline.

    Scale shape: the day grid is |days| rows — after the map-side
    count partial, window input is tiny at ANY corpus scale (a year
    is 365 rows); the single-partition day window is bounded by the
    GRID, not the data (the e16/d18 argument). Per-key variants
    partition the same window by entity."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )
    w = (
        Window.orderBy("day")
        .rangeBetween(-SPIKE_TRAIL_DAYS, -1)
    )
    trailing_days = F.count("*").over(w)
    trailing_events = F.coalesce(F.sum("n_events").over(w), F.lit(0))
    return daily.select(
        "day",
        "n_events",
        trailing_days.cast("bigint").alias("trailing_days"),
        trailing_events.cast("bigint").alias("trailing_events"),
        (
            F.col("n_events") * trailing_days
            > F.lit(SPIKE_MULT) * trailing_events
        )
        .cast("int")
        .alias("is_spike"),
    )


@register(
    "e20_scd2_history",
    oracle="""
    WITH log AS (
      SELECT user_id, event_type AS attr,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS v, event_id
      FROM events
    ), marked AS (
      SELECT *, lag(attr) OVER (PARTITION BY user_id
                                ORDER BY v, event_id) AS prev_attr
      FROM log
    ), changes AS (
      SELECT * FROM marked WHERE prev_attr IS NULL OR attr <> prev_attr
    )
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           attr,
           v AS valid_from_us,
           lead(v) OVER w - 1 AS valid_to_us,
           CAST(lead(v) OVER w IS NULL AS INT) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY v, event_id)
    """,
    priority="P1",
)
def e20_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build — the dimension-table
    twin of e14's CDC compaction: instead of keeping only the latest
    state, every attribute CHANGE opens a versioned validity row
    [valid_from, valid_to]; the open row has NULL valid_to and
    is_current=1. Attribute = the user's event_type stream;
    consecutive equal values collapse (gaps-and-islands change
    detection), so versions count distinct runs, not events.

    Determinism: change ordering is total (integer µs + event_id);
    valid_to = next change − 1 µs is integer arithmetic; no floats.

    Scale shape: ONE user_id shuffle serves all three window passes
    (lag change-mark, row_number version, lead valid_to) — Catalyst
    reuses the sort within the partition. At 100 TB this is the
    standard daily dimension rebuild: the changes table is a tiny
    fraction of the log (runs, not rows), and incremental builds
    process only keys touched since the last snapshot (the e14
    checkpoint argument)."""
    ev = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("v", "event_id")
    log = ev.select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.unix_micros("ts").alias("v"),
        "event_id",
    )
    changes = (
        log.withColumn("prev_attr", F.lag("attr").over(wo))
        .filter(F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr")))
        .drop("prev_attr")
    )
    return changes.select(
        "user_id",
        F.row_number().over(wo).cast("bigint").alias("version"),
        "attr",
        F.col("v").alias("valid_from_us"),
        (F.lead("v").over(wo) - 1).alias("valid_to_us"),
        F.lead("v").over(wo).isNull().cast("int").alias("is_current"),
    )


@register(
    "e21_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT),
                        event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             count(*) AS n
      FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), totals AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
      FROM pairs GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
           CAST(p.n * 10000 // t.row_total AS BIGINT) AS share_bp
    FROM pairs p JOIN totals t ON p.from_type = t.from_type
    """,
    priority="P2",
)
def e21_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams —
    the user-journey model behind "what do users do after X":
    per (from, to) event-type pair, the transition count and its
    row-share in basis points (integer division — the probability
    matrix without the float).

    Determinism: stream order is total (µs + event_id); outputs are
    counts and integer ratios.

    Scale shape: one user_id shuffle for the lag pass; the pair agg
    collapses to ≤ |types|² rows map-side — the transition matrix is
    domain-bounded regardless of event volume — and the row totals
    come from a WINDOW over that tiny matrix (not a second agg +
    join, which would re-execute the whole lag lineage). Higher-order
    chains swap the lag for k lags; the matrix stays
    |types|^(k+1)-bounded."""
    ev = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        ev.select(
            "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
        )
        .withColumn("prev_type", F.lag("event_type").over(wo))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.withColumn(
        "row_total", F.sum("n").over(wt).cast("bigint")
    ).select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("n * 10000 DIV row_total").cast("bigint").alias("share_bp"),
    )


#: e22 — padding added around every event before merging (µs): events
#: within 2·pad of each other fall into one merged activity interval.
MERGE_PAD_US = 30 * 60 * 1_000_000


@register(
    "e22_interval_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               - {MERGE_PAD_US} AS s,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               + {MERGE_PAD_US} AS e,
             event_id
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN s > max(e) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), islands AS (
      SELECT *, sum(new_island) OVER (
                  PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island
      FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS interval_id,
           min(s) AS start_us, max(e) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, island
    """,
    priority="P2",
)
def e22_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge (interval union) — the
    gaps-and-islands canon e11's gap rule cannot express: every
    event carries a ±30 min activity pad, and TRANSITIVELY
    overlapping pads collapse into one interval. Differs from
    sessionization: islands are defined by interval REACH (running
    max of ends), not adjacent-event gaps — an early long interval
    can bridge events whose neighbors are far apart.

    The classic algorithm: order by start; a row opens a new island
    iff its start exceeds the running max end of ALL prior rows
    (frame excludes current); the island id is the running sum of
    open flags; then one agg per island. First row per user: empty
    frame → NULL max → CASE gives 0, so islands are 0-based —
    mirrored exactly.

    Determinism: integer µs bounds, (s, event_id) total order,
    count/min/max outputs.

    Scale shape: ONE user_id shuffle serves both window passes and
    the island agg (same key prefix, sort reused). Calendar/merge
    work per key is linear in that key's rows — the same bound as
    e11 — and the output is strictly smaller than the input."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.lit(MERGE_PAD_US)).alias("s"),
        (F.unix_micros("ts") + F.lit(MERGE_PAD_US)).alias("e"),
        "event_id",
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = base.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(wprev), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("new_island").over(wrun))
    return islands.groupBy(
        "user_id", F.col("island").cast("bigint").alias("interval_id")
    ).agg(
        F.min("s").alias("start_us"),
        F.max("e").alias("end_us"),
        F.count("*").cast("bigint").alias("n_events"),
    )


@register(
    "e23_running_distinct",
    oracle="""
    WITH keyed AS (
      SELECT user_id, event_type, event_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY us, event_id) AS occ
      FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) OVER (
                  PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_distinct_types_so_far
    FROM keyed
    """,
    priority="P2",
)
def e23_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over an event stream — the "features
    adopted over time" metric no engine's window API supports
    directly (COUNT(DISTINCT) OVER a running frame is unsupported in
    both Spark and most warehouses). The standard decomposition:
    mark each (user, type)'s FIRST occurrence with one rank window,
    then a running sum of first-occurrence flags over the stream
    order IS the running distinct count.

    Determinism: total stream order (µs + event_id); integer counts.

    Scale shape: both windows partition by user_id — one exchange,
    the second window reuses the sort prefix. State per key is the
    running counter, not a distinct set: the decomposition replaces
    per-row set-membership state (unbounded) with a rank that Spark
    computes in the sort — which is why it scales where a naive
    distinct-set UDAF would not."""
    ev = table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w_occ = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        keyed.withColumn("occ", F.row_number().over(w_occ))
        .withColumn(
            "n_distinct_types_so_far",
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0)).over(w_run).cast("bigint"),
        )
        .select("event_id", "user_id", "n_distinct_types_so_far")
    )


@register(
    "e24_rolling_median",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id, user_id, cents,
           CAST(median(cents) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS med5_cents
    FROM c
    """,
)
def e24_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of the last 5 per-user event values — the
    robust smoother a spiky telemetry stream needs where e07's
    moving AVERAGE chases outliers. Spark has no frame-capable
    median window function, so the frame's values ride through
    ``collect_list`` over the ROWS frame (bounded: ≤5 elements per
    row, a constant — NOT a per-partition collect) and the median is
    taken on the sorted array. Values are integer cents, so the
    even-count midpoint is i+0.5 — exact in binary, hash-stable
    (the only division is by the exact literal 2.0).

    Scale shape: one shuffle on user_id (the window partition), then
    a per-row O(frame) expression inside codegen. Frame size is the
    knob — at 100 TB the cost is the same window shuffle e07 pays,
    plus 5 longs of state per row."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    vals = F.array_sort(F.collect_list(cents).over(w))
    n = F.size(vals)
    mid = (n / 2).cast("int")
    med = F.when(
        # collect_list drops NULLs: an all-NULL frame yields n=0 and
        # element_at(vals, 0) would ABORT the task (ANSI
        # INVALID_INDEX_OF_ZERO) where the oracle's frame median is
        # NULL — degrade to NULL like the oracle (the k08 lesson:
        # fixture regeneration is this repo's stated threat model)
        n == 0, F.lit(None).cast("double")
    ).when(
        n % 2 == 1, F.element_at(vals, mid + 1).cast("double")
    ).otherwise(
        (F.element_at(vals, mid) + F.element_at(vals, mid + 1)).cast("double")
        / F.lit(2.0)
    )
    return ev.select(
        "event_id",
        "user_id",
        cents.alias("cents"),
        med.alias("med5_cents"),
    )


@register(
    "e25_time_in_state",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us,
             lead(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
      FROM events
    )
    SELECT event_type,
           count(*) AS n_intervals,
           CAST(sum(next_us - t_us) AS BIGINT) AS total_us
    FROM seq WHERE next_us IS NOT NULL
    GROUP BY event_type
    """,
)
def e25_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total dwell time per state: each event opens an interval that
    its user's NEXT event closes (e21's Markov transitions measure
    how often states change; this measures how LONG they hold).
    Each user's last event has no close and is excluded. All-integer
    µs arithmetic — exact.

    Scale shape: one user_id window shuffle for the lead, then a
    tiny |event types|-cardinality agg with map-side partials."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    return (
        seq.filter(F.col("next_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(F.col("next_us") - F.col("t_us")).alias("total_us"),
        )
    )


@register(
    "e26_cusum_drift",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {86_400_000_000} AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), scaled AS (
      SELECT event_type, day,
             CAST(count(*) OVER (PARTITION BY event_type) * n
                  - sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS x
      FROM daily
    ), pre AS (
      SELECT event_type, day,
             CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS p
      FROM scaled
    )
    SELECT event_type, day,
           CAST(p - least(min(p) OVER (PARTITION BY event_type
                                       ORDER BY day), 0)
                AS BIGINT) AS cusum_up
    FROM pre
    """,
    priority="P2",
)
def e26_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward-CUSUM change-point statistic per event type over daily
    counts — the standard drift detector (a sustained rate increase
    accumulates; noise resets). The textbook recursion
    S_d = max(0, S_{d-1} + x_d) is NOT window-expressible, so the
    plan uses the exact drawdown identity
    S_d = P_d − min(0, min_{j≤d} P_j) — prefix sum minus running
    minimum, where the min INCLUDES the empty prefix (P_{-1} = 0;
    dropping that term understates S whenever the first deviations
    are positive — the property test's [2,1] counterexample). The
    deviation x_d = D·n_d − Σn is mean-centering SCALED BY the day
    count D, keeping every intermediate a bigint: no float enters
    the statistic at all (e19's z-scores flag single spikes; this
    flags sustained level shifts).

    Scale shape: one (type, day) partial-agg shuffle collapses the
    raw events, then all three windows share ONE partitioning by
    event_type — a single window shuffle over |types|×|days| rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias("day"),
    ).agg(F.count("*").alias("n"))
    w_all = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("day")
    scaled = daily.select(
        "event_type",
        "day",
        (F.count("*").over(w_all) * F.col("n") - F.sum("n").over(w_all))
        .cast("long")
        .alias("x"),
    )
    pre = scaled.select(
        "event_type", "day", F.sum("x").over(w_ord).cast("long").alias("p")
    )
    return pre.select(
        "event_type",
        "day",
        (F.col("p") - F.least(F.min("p").over(w_ord), F.lit(0)))
        .cast("long")
        .alias("cusum_up"),
    )


@register(
    "e27_day_streaks",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {86_400_000_000} AS day
      FROM events
    ), grp AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ), streaks AS (
      SELECT user_id, count(*) AS len FROM grp GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
    priority="P2",
)
def e27_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (plus streak
    count) — the engagement metric every product dashboard wants,
    and the day-grain gaps-and-islands idiom: on DISTINCT active
    days, ``day − row_number()`` is constant exactly within a
    consecutive run. All-integer.

    Scale shape: the distinct collapses raw events to user-days
    (one shuffle); the island window and both aggs all partition by
    user_id — AQE reuses one partitioning; no raw-event window."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id", "day", (F.col("day") - F.row_number().over(w)).alias("island")
    )
    streaks = grp.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count("*").cast("long").alias("n_streaks"),
    )


@register(
    "e28_seq_pattern",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             count(*) AS n_events,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY CAST(epoch_us(CAST(ts AS TIMESTAMP))
                                      AS BIGINT),
                                 event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(s, 'v+c')) AS BIGINT)
             AS browse_clicks,
           CAST(len(regexp_extract_all(s, 'sv*p')) AS BIGINT)
             AS quick_converts,
           CAST(s LIKE '%s%p%' AS INTEGER) AS signup_then_purchase
    FROM seq
    """,
    priority="P2",
)
def e28_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching per user — the
    MATCH_RECOGNIZE / windowFunnel analog: each user's event history
    collapses to an ordered symbol string (one char per event type —
    the five fixture types have distinct initials) and patterns
    become ordinary regexes over it. Counted here: non-overlapping
    'v+c' runs (≥1 view directly followed by a click) and 'sv*p'
    (signup → purchase with only views between); plus the loose
    s…p conversion flag. Both engines scan leftmost-greedy
    non-overlapping, so counts are well-defined; ordering inside the
    string is pinned by (event-time µs, event_id) — a total order.

    Scale shape: ONE user_id shuffle; collect_list+array_sort bounds
    work and memory to a single user's history per row (the e11
    sessionize caveat: a pathological user bounds the task, not the
    table). The regex evaluates JVM-side per user-row — |users|
    evaluations, not |events|."""
    ev = table(spark, sf_dir, "events")
    rec = F.struct(
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("i"),
        F.substring("event_type", 1, 1).alias("c"),
    )
    seq = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(rec)), lambda x: x["c"]), ""
        ).alias("s"),
    )
    return seq.select(
        "user_id",
        "n_events",
        F.regexp_count("s", F.lit("v+c")).cast("long").alias("browse_clicks"),
        F.regexp_count("s", F.lit("sv*p")).cast("long").alias("quick_converts"),
        F.col("s").like("%s%p%").cast("int").alias("signup_then_purchase"),
    )


def _ntile5(rn: str, n: str, div: str) -> str:
    """Explicit SQL ntile(5) from a 1-based total-order rank — the
    standard spec (first n%5 buckets get one extra row), written out
    so BOTH engines compute the same arithmetic instead of trusting
    two native ntile implementations to agree. Validated against
    DuckDB's native ntile for n ∈ {1..15, 1500}. ``div`` is the
    integer-division token ('DIV' Spark, '//' DuckDB); CASE
    short-circuits, so the n<5 ⇒ size=0 branch never divides."""
    size = f"({n} {div} 5)"
    extra = f"({n} % 5)"
    cut = f"({extra} * ({size} + 1))"
    return (
        f"CASE WHEN {rn} <= {cut} THEN ({rn} - 1) {div} ({size} + 1) + 1 "
        f"ELSE {extra} + ({rn} - 1 - {cut}) {div} {size} + 1 END"
    )


_E29_DAY_US = 86_400_000_000


@register(
    "e29_rfm_segments",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey,
             max(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
                 // {_E29_DAY_US}) AS r_day,
             count(*) AS n_orders,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), t AS (SELECT count(*) AS n FROM base),
    r AS (
      SELECT base.*,
             row_number() OVER (ORDER BY r_day, o_custkey) AS rn_r,
             row_number() OVER (ORDER BY n_orders, o_custkey) AS rn_f,
             row_number() OVER (ORDER BY monetary_cents, o_custkey) AS rn_m
      FROM base
    )
    SELECT o_custkey, r_day, n_orders, monetary_cents,
           {_ntile5('rn_r', 'n', '//')} AS rfm_r,
           {_ntile5('rn_f', 'n', '//')} AS rfm_f,
           {_ntile5('rn_m', 'n', '//')} AS rfm_m,
           100 * ({_ntile5('rn_r', 'n', '//')})
             + 10 * ({_ntile5('rn_f', 'n', '//')})
             + ({_ntile5('rn_m', 'n', '//')}) AS rfm_code
    FROM r CROSS JOIN t
    """,
    priority="P2",
)
def e29_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation —
    the classic customer-base stratification: each customer ranked
    into quintiles on last-order day, order count, and exact
    lifetime cents; segment code = 100·R + 10·F + M (555 = best).
    Quintiles come from an EXPLICIT ntile formula over a 1-based
    total-order rank (ties broken by custkey), written identically
    in both engines — native ntile is never trusted across engines.

    Scale shape: the per-customer rollup is one partial+final agg;
    each of the three global ranks uses operators/rank.py's
    range-partition two-phase numbering (the TeraSort shape) — a
    partition-less `row_number() OVER (ORDER BY …)` window would
    collapse a 10^8-customer dim to one task. The population count
    is a single-row broadcast (d29 pattern)."""
    from hadoop_release_spark.operators.rank import global_row_number

    o = table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max(
            F.expr(
                f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV {_E29_DAY_US}"
            )
        ).alias("r_day"),
        F.count("*").alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("monetary_cents"),
    )
    ranked = global_row_number(base, ["r_day", "o_custkey"], "rn_r")
    ranked = global_row_number(ranked, ["n_orders", "o_custkey"], "rn_f")
    ranked = global_row_number(ranked, ["monetary_cents", "o_custkey"], "rn_m")
    tot = base.agg(F.count("*").alias("n"))
    qr = F.expr(_ntile5("rn_r", "n", "DIV"))
    qf = F.expr(_ntile5("rn_f", "n", "DIV"))
    qm = F.expr(_ntile5("rn_m", "n", "DIV"))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "r_day",
        "n_orders",
        "monetary_cents",
        qr.alias("rfm_r"),
        qf.alias("rfm_f"),
        qm.alias("rfm_m"),
        (100 * qr + 10 * qf + qm).alias("rfm_code"),
    )


#: e30 funnel window: signup → click → purchase within 2 days.
_E30_WINDOW_US = 172_800_000_000


def _e30_merge(div: str) -> str:
    """The funnel-fold transition, shared verbatim by both engines
    (``div``: Spark 'DIV', DuckDB '//'). State acc = t1·4 + stage
    (stage 0–3, t1 = µs of the chain-opening signup); event
    x = t·8 + step (step 1=signup, 2=click, 3=purchase — sorting
    the encoded bigints IS time order, step asc on µs ties). A step
    advances the stage only within the window measured from the
    FIRST signup (earliest-start semantics, documented)."""
    t = f"(x {div} 8)"
    t1 = f"(acc {div} 4)"
    return (
        f"CASE WHEN acc % 4 = 0 AND x % 8 = 1 THEN {t} * 4 + 1 "
        f"WHEN acc % 4 = 1 AND x % 8 = 2 AND {t} - {t1} <= {_E30_WINDOW_US} "
        f"THEN {t1} * 4 + 2 "
        f"WHEN acc % 4 = 2 AND x % 8 = 3 AND {t} - {t1} <= {_E30_WINDOW_US} "
        f"THEN {t1} * 4 + 3 "
        f"ELSE acc END"
    )


@register(
    "e30_windowed_funnel",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) * 8
               + CASE event_type WHEN 'signup' THEN 1
                                 WHEN 'click' THEN 2 ELSE 3 END AS x
      FROM events WHERE event_type IN ('signup', 'click', 'purchase')
    ), folded AS (
      SELECT user_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT), list(x ORDER BY x)),
               (acc, x) -> {_e30_merge('//')}
             ) AS fin
      FROM ev GROUP BY user_id
    )
    SELECT user_id,
           CAST(fin % 4 AS BIGINT) AS stages_completed,
           CASE WHEN fin % 4 > 0 THEN fin // 4 END AS funnel_start_us
    FROM folded
    """,
    priority="P2",
)
def e30_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUNDED funnel (the ClickHouse windowFunnel analog):
    how far does each user get through signup → click → purchase
    with every step landing within 2 days of their FIRST signup
    (earliest-start semantics)? e12 counts ordered steps with no
    clock and e28 regex-matches order alone — a trial-conversion
    window needs the time bound, and a regex cannot express it.

    The per-user state machine runs as a HIGHER-ORDER FOLD
    (`aggregate` in Spark, `list_reduce` in DuckDB) over the
    time-sorted encoded event list; the transition CASE is ONE
    shared text (_e30_merge), all-integer (state = t1·4+stage,
    event = t·8+step), so the fold is bit-identical cross-engine and
    full-hash. Encoding trick: sorting the bigints IS (time, step)
    order, so one array_sort replaces a struct comparator.

    Scale shape: pre-filter to the three step types pushes to the
    scan; ONE user_id agg shuffle; the fold is JVM-side per user-row
    (|users| evaluations, each O(user events)); the e11 caveat —
    one pathological user's history bounds the task, not the
    table."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "click", "purchase")
    )
    enc = F.unix_micros("ts") * 8 + (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "click", 2)
        .otherwise(3)
    )
    per = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(enc.cast("long"))).alias("evs")
    )
    fin = F.expr(
        f"aggregate(evs, CAST(0 AS BIGINT), (acc, x) -> {_e30_merge('DIV')})"
    )
    return per.select(
        "user_id",
        (fin % 4).cast("long").alias("stages_completed"),
        # integer unpack: >>2 ≡ DIV 4 for the nonnegative state — a
        # float `/4` would round at ulp 0.25 once t1·4 nears 2^53
        F.when(fin % 4 > 0, F.shiftright(fin.cast("long"), 2))
        .cast("long")
        .alias("funnel_start_us"),
    )


@register(
    "e31_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vmic,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             lead(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS next_us
      FROM events
    ), weighted AS (
      SELECT user_id, vmic, next_us - t_us AS dur_us
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           round(CAST(sum(CAST(vmic AS HUGEINT) * dur_us) AS DOUBLE)
                 / (1e6 * CAST(sum(dur_us) AS DOUBLE)), 4) AS twap
    FROM weighted GROUP BY user_id
    """,
    priority="P2",
)
def e31_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the finance/
    telemetry mean where each observation holds until the next one
    replaces it): weight = microseconds until the user's next event;
    the final observation carries no interval and is excluded.

    Determinism: values fixed to integer micro-units via decimal
    cast, each product vmic·dur_us ACCUMULATED in decimal(38,0)
    (DuckDB: HUGEINT — a product alone reaches ~1e19, past bigint:
    the d32 lesson applied at design time, not discovered later);
    exactly ONE float division at the end (e04 rule), and the
    result rounds half-away at 4dp — the wide-integer→double
    conversions are not correctly rounded in every engine (measured
    1-ulp drift at ~1e22 numerators), which the 4dp grid absorbs by
    ~10 orders of magnitude (j06 FLOAT RULE). Ordering ties
    broken by event_id (probability-zero on random-microsecond
    fixtures, load-bearing on real data).

    Scale shape: one user-partitioned window (lead) rides the same
    shuffle as the final per-user agg — Spark plans ONE exchange on
    user_id for both; map-side partial aggregation applies. No
    driver-side state."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros("ts")
    seq = ev.select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("vmic"),
        t_us.alias("t_us"),
        F.lead(t_us).over(w).alias("next_us"),
    )
    weighted = seq.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        "vmic",
        (F.col("next_us") - F.col("t_us")).alias("dur_us"),
    )
    return weighted.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.round(
            F.sum(F.col("vmic").cast("decimal(38,0)") * F.col("dur_us"))
            .cast("double")
            / (F.lit(1e6) * F.sum("dur_us").cast("double")),
            4,
        ).alias("twap"),
    )


@register(
    "e32_new_vs_returning",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {DAY_US}
               AS day
      FROM events
    ), first_day AS (
      SELECT user_id, min(day) AS d0 FROM ud GROUP BY user_id
    )
    SELECT u.day,
           CAST(count(*) FILTER (WHERE u.day = f.d0) AS BIGINT) AS new_users,
           CAST(count(*) FILTER (WHERE u.day > f.d0) AS BIGINT)
             AS returning_users
    FROM ud u JOIN first_day f USING (user_id)
    GROUP BY u.day
    """,
    priority="P2",
)
def e32_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the growth-accounting
    counterpart of e16's DAU and e13's cohort retention: each active
    (user, day) classifies against the user's FIRST active day, so
    every day's actives decompose exactly into new + returning.
    All-integer epoch-day grain (e13 convention), hash-exact.

    Scale shape: ONE distinct (user, day) compression shuffle (the
    DAU table — tiny vs raw events), first-day = a min re-agg of
    that same table on its existing user partitioning, joined back
    on user_id; conditional counts fuse into one partial+final day
    agg. The raw fact table is scanned once and never re-shuffled."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day"),
    ).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        ud.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("d0"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("d0"), 1).otherwise(0))
            .cast("long")
            .alias("returning_users"),
        )
    )


#: e33 bar grain: 1-hour buckets in epoch-microseconds.
_E33_HOUR_US = 3600 * 1_000_000


@register(
    "e33_ohlc_bars",
    oracle=f"""
    WITH b AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {_E33_HOUR_US} AS bucket,
             event_type, value,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us,
             event_id
      FROM events
    ), w AS (
      SELECT *,
             row_number() OVER (PARTITION BY bucket, event_type
                                ORDER BY t_us, event_id) AS rn_a,
             row_number() OVER (PARTITION BY bucket, event_type
                                ORDER BY t_us DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT bucket, event_type,
           min(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           min(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM w GROUP BY bucket, event_type
    """,
    priority="P2",
)
def e33_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (open/high/low/close) per hour per event type — the
    finance/telemetry resampling standard: open = value of the
    bucket's FIRST event, close = its LAST, high/low = extremes.
    First/last are (ts, event_id)-tie-broken so the bars are
    deterministic even under simultaneous events; values are CARRIED
    (never computed), so doubles hash exactly with no float rule.

    Scale shape: ONE (bucket, type) partial+final agg — min_by/
    max_by on a packed (t_us, event_id) struct give open/close
    without any window or self-join (the oracle's two row_number
    windows are the SQL equivalent; Spark's aggregate form shuffles
    bar-count rows, not events). This is the map-side-combine bar
    builder that resamples 100 TB of ticks in one pass."""
    ev = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    b = ev.select(
        F.expr(f"unix_micros(ts) DIV {_E33_HOUR_US}").alias("bucket"),
        "event_type",
        "value",
        t_us.alias("t_us"),
        "event_id",
    )
    key = F.struct("t_us", "event_id")
    return b.groupBy("bucket", "event_type").agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count("*").cast("long").alias("n_events"),
    )


#: e34: epoch-microseconds per day, the sweep partition grain.
_E34_DAY_US = 86_400 * 1_000_000


@register(
    "e34_peak_concurrency",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
                      OR t_us - lag(t_us) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_sess
      FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ), sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY t_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx,
             t_us
      FROM flagged
    ), iv AS (
      SELECT min(t_us) AS s_us, max(t_us) + 1 AS e_excl_us
      FROM sess GROUP BY user_id, session_idx
    ), deltas AS (
      -- A -1 landing exactly ON a day boundary belongs to no day's
      -- sweep: the session is over before the new day starts, and
      -- its absence from carry_in already accounts for the end.
      SELECT s_us AS t, CAST(1 AS BIGINT) AS d FROM iv
      UNION ALL
      SELECT e_excl_us AS t, CAST(-1 AS BIGINT) AS d FROM iv
      WHERE e_excl_us % {_E34_DAY_US} != 0
    ), cum AS (
      SELECT t // {_E34_DAY_US} AS day_id, t, d,
             SUM(d) OVER (PARTITION BY t // {_E34_DAY_US}
                          ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS c
      FROM deltas
    ), day_agg AS (
      SELECT day_id, max(c) AS max_cum,
             CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_starts
      FROM cum GROUP BY day_id
    ), spans AS (
      SELECT unnest(generate_series(s_us // {_E34_DAY_US} + 1,
                                    (e_excl_us - 1) // {_E34_DAY_US}))
               AS day_id
      FROM iv
      WHERE (e_excl_us - 1) // {_E34_DAY_US} > s_us // {_E34_DAY_US}
    ), carry AS (
      SELECT day_id, CAST(count(*) AS BIGINT) AS carry_in
      FROM spans GROUP BY day_id
    )
    SELECT CAST(coalesce(a.day_id, c.day_id) AS BIGINT) AS day_id,
           CAST(coalesce(c.carry_in, 0) AS BIGINT) AS carry_in,
           CAST(coalesce(c.carry_in, 0)
                + greatest(0, coalesce(a.max_cum, 0)) AS BIGINT)
             AS peak_concurrency,
           CAST(coalesce(a.n_starts, 0) AS BIGINT) AS n_starts
    FROM day_agg a FULL OUTER JOIN carry c ON a.day_id = c.day_id
    """,
    priority="P2",
)
def e34_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning
    standard (licence seats, server load, peak DAU): sessionize
    (e11's exact gap rule), convert each session to a +1/-1
    boundary-event pair ([start, end] inclusive, so the -1 lands at
    end+1µs), sweep each day's boundary events in time order, and
    report carry_in + max(0, running sum) — the day's true peak
    including sessions still open from prior days. Tie rule: at the
    same microsecond -1 sorts before +1 (a session starting exactly
    when another's exclusive end fires does not overlap it).
    Boundary rule: a -1 whose exclusive end lands exactly ON a day
    boundary is dropped — it belongs to no day's sweep (the session
    is over before the new day starts, and its absence from carry_in
    already accounts for the end); without the drop it depressed the
    NEXT day's running sum (round-6 advisor find, pinned by
    test_peak_concurrency_day_boundary_end). All
    integers — no float rule.

    Scale shape: the sweep-line running sum is DAY-PARTITIONED, not
    a single global window — each day's boundary events sort
    independently, and cross-midnight state arrives as carry_in,
    computed by exploding each session into the days it spans past
    its start (sequence(day(s)+1, day(end))) and counting per day:
    span lengths are bounded by session length, so the explode is
    O(sessions · days-spanned), never O(days²). One user_id shuffle
    builds sessions (e11's plan), one day-keyed shuffle sweeps
    boundary pairs (2 rows per session, not per event), and the
    day-level join is tiny. At higher volume the same carry trick
    re-partitions by hour unchanged."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select("user_id", "event_id", F.unix_micros("ts").alias("t_us"))
    prev = F.lag("t_us").over(w)
    sess = seq.withColumn(
        "new_sess",
        F.when(prev.isNull() | (F.col("t_us") - prev > SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = sess.groupBy("user_id", "session_idx").agg(
        F.min("t_us").alias("s_us"),
        (F.max("t_us") + 1).alias("e_excl_us"),
    )
    # iv feeds the sweep AND the carry explode; persist so the
    # session shuffle runs once.
    iv = persist(iv)
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("s_us").alias("t"), F.lit(1).cast("long").alias("d")),
                F.struct(
                    F.col("e_excl_us").alias("t"), F.lit(-1).cast("long").alias("d")
                ),
            )
        ).alias("x")
    ).select(
        F.expr(f"x.t DIV {_E34_DAY_US}").alias("day_id"),
        F.col("x.t").alias("t"),
        F.col("x.d").alias("d"),
    ).filter(
        # A -1 whose exclusive end lands exactly ON a day boundary
        # would be swept into the NEXT day, where the session is
        # neither active nor in carry_in (d1 = (e_excl-1) DIV DAY is
        # the prior day) — it would depress that day's running sum.
        # The session's absence from carry_in already fully accounts
        # for its end, so drop the boundary -1 outright.
        (F.col("d") == 1) | (F.col("t") % _E34_DAY_US != 0)
    )
    w_day = (
        Window.partitionBy("day_id")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = deltas.withColumn("c", F.sum("d").over(w_day))
    day_agg = cum.groupBy("day_id").agg(
        F.max("c").alias("max_cum"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("long").alias("n_starts"),
    )
    carry = (
        iv.select(
            F.expr(f"s_us DIV {_E34_DAY_US}").alias("d0"),
            F.expr(f"(e_excl_us - 1) DIV {_E34_DAY_US}").alias("d1"),
        )
        # Spark's sequence(a, b) DESCENDS when a > b (DuckDB's
        # generate_series is empty) — filter the no-span case first.
        .filter(F.col("d1") > F.col("d0"))
        .select(F.explode(F.expr("sequence(d0 + 1, d1)")).alias("day_id"))
        .groupBy("day_id")
        .agg(F.count("*").cast("long").alias("carry_in"))
    )
    return (
        day_agg.join(carry, "day_id", "full_outer")
        .select(
            F.col("day_id").cast("long").alias("day_id"),
            F.coalesce("carry_in", F.lit(0)).cast("long").alias("carry_in"),
            (
                F.coalesce("carry_in", F.lit(0))
                + F.greatest(F.lit(0).cast("long"), F.coalesce("max_cum", F.lit(0)))
            )
            .cast("long")
            .alias("peak_concurrency"),
            F.coalesce("n_starts", F.lit(0)).cast("long").alias("n_starts"),
        )
    )


@register(
    "e35_max_drawdown",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ), cum1 AS (
      SELECT user_id, t_us, event_id,
             sum(cents) OVER (PARTITION BY user_id
                              ORDER BY t_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS bal
      FROM seq
    ), cum AS (
      SELECT user_id, bal,
             max(bal) OVER (PARTITION BY user_id
                            ORDER BY t_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM cum1
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents
    FROM cum GROUP BY user_id
    """,
    priority="P2",
)
def e35_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — the risk metric every equity /
    engagement curve gets: running balance (cumulative event value),
    running peak, and the deepest peak-to-trough drop
    max_t(peak_t − bal_t). Entirely integer cents (2-dp values cast
    through DECIMAL(12,2)·100 — the d22 rule), (t_us, event_id)
    tie-broken, so no float rule applies anywhere.

    Scale shape: ONE user_id shuffle serves the whole plan — the
    running sum, the running max OVER the running sum, and the final
    per-user aggregate all share the same partitioning+ordering
    (the e11 argument), so Catalyst plans a single Exchange. The
    running max of a running sum composes in one window pass; no
    self-join, no global window."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    cum = (
        seq.select(
            "user_id",
            "t_us",
            "event_id",
            F.sum("cents").over(w).alias("bal"),
        )
        .withColumn("peak", F.max("bal").over(w))
        .drop("t_us", "event_id")
    )
    return cum.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("peak").cast("long").alias("peak_cents"),
        F.max(F.col("peak") - F.col("bal")).cast("long").alias(
            "max_drawdown_cents"
        ),
    )


#: e36: rolling OLS frame length (last K events per user).
_E36_K = 8


@register(
    "e36_rolling_ols",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      FROM events
    ), rn AS (
      SELECT user_id, event_id, y,
             row_number() OVER w AS x
      FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ), sums AS (
      SELECT user_id, event_id, x,
             sum(y)     OVER f AS sy,
             sum(x * y) OVER f AS sxy,
             sum(x)     OVER f AS sx,
             sum(x * x) OVER f AS sxx
      FROM rn WINDOW f AS (PARTITION BY user_id ORDER BY x
                           ROWS BETWEEN {_E36_K - 1} PRECEDING
                           AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST({_E36_K} * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST({_E36_K} * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST({_E36_K} * sxy - sx * sy AS DOUBLE)
           / CAST({_E36_K} * sxx - sx * sx AS DOUBLE)
             AS slope_cents_per_step
    FROM sums WHERE x >= {_E36_K}
    """,
    priority="P2",
)
def e36_rolling_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend slope over each user's last K=8 events — the
    streaming-feature standard (momentum / decay signals for ranking
    and anomaly models): regress value on event index within a
    sliding frame. With x = the per-user row number, every windowed
    sum (Σy, Σxy, Σx, Σx²) is an EXACT bigint, so the slope
    numerator K·Σxy − Σx·Σy and denominator K·Σx² − (Σx)² are exact
    integers on both engines and the slope is ONE IEEE division (the
    d20/d22 sufficient-statistic rule — no rounding anywhere).
    Emitted only for full frames (x >= K); the denominator is the
    constant K²(K²−1)/12 > 0 for consecutive x.

    Scale shape: ONE user_id shuffle serves the row numbering and
    all four frame sums (same partition+order spec → one Sort+Window
    chain, the e11 argument). Bounded frame (ROWS K-1 PRECEDING)
    keeps state O(K) per user regardless of history length."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    f = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-(_E36_K - 1), 0)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("y"),
    )
    rn = seq.withColumn("x", F.row_number().over(w)).drop("t_us")
    sums = (
        rn.withColumn("sy", F.sum("y").over(f))
        .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(f))
        .withColumn("sx", F.sum("x").over(f))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(f))
        .filter(F.col("x") >= _E36_K)
    )
    num = _E36_K * F.col("sxy") - F.col("sx") * F.col("sy")
    den = _E36_K * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "user_id",
        "event_id",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        (num.cast("double") / den.cast("double")).alias(
            "slope_cents_per_step"
        ),
    )


@register(
    "e37_inter_event_gaps",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us
      FROM events
    ), gaps AS (
      SELECT event_type,
             (t_us - lag(t_us) OVER (PARTITION BY user_id
                                     ORDER BY t_us, event_id)) // 1000
               AS gap_ms
      FROM seq
    ), bucketed AS (
      SELECT event_type,
             CASE WHEN gap_ms = 0 THEN 0
                  ELSE length(bin(gap_ms)) END AS bucket,
             gap_ms
      FROM gaps WHERE gap_ms IS NOT NULL
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
           CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
    FROM bucketed GROUP BY event_type, bucket
    """,
    priority="P2",
)
def e37_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap histogram on power-of-two (log2) buckets per
    event type — the burstiness/arrival-process profile behind
    session-gap calibration (e11/j03's 12 h threshold comes from
    exactly this histogram's valley) and rate-anomaly baselines.
    Bucket = ⌊log2(gap_ms)⌋+1 computed as length(bin(gap_ms)) —
    pure integer bit arithmetic, identical in both engines; gap 0
    (simultaneous events) gets its own bucket 0. All counts and
    extrema exact integers — no float rule.

    Scale shape: ONE user_id shuffle for the lag (the e11 single
    Sort+Window), then a (type, bucket) partial+final agg — map-side
    combine collapses each task to ≤ types × 64 rows. The log2
    bucketing is what keeps the group domain bounded regardless of
    gap range (the d18 fixed-width histogram would need a priori
    bounds)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
    )
    gaps = seq.select(
        "event_type",
        F.expr(
            "(t_us - lag(t_us) OVER (PARTITION BY user_id"
            " ORDER BY t_us, event_id)) DIV 1000"
        ).alias("gap_ms"),
    )
    bucketed = gaps.filter(F.col("gap_ms").isNotNull()).select(
        "event_type",
        F.when(F.col("gap_ms") == 0, 0)
        .otherwise(F.length(F.bin("gap_ms")))
        .cast("long")
        .alias("bucket"),
        "gap_ms",
    )
    return bucketed.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.min("gap_ms").cast("long").alias("min_gap_ms"),
        F.max("gap_ms").cast("long").alias("max_gap_ms"),
    )


#: e38: top-k session paths emitted.
_E38_TOPK = 20


@register(
    "e38_top_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
                      OR t_us - lag(t_us) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_sess
      FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY t_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    ), paths AS (
      SELECT user_id, session_idx,
             string_agg(event_type, '>' ORDER BY t_us, event_id) AS path
      FROM sess GROUP BY user_id, session_idx
    ), counts AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      FROM paths GROUP BY path
    ), ranked AS (
      SELECT path, n_sessions,
             row_number() OVER (ORDER BY n_sessions DESC, path) AS rk
      FROM counts
    )
    SELECT CAST(rk AS BIGINT) AS rank, path, n_sessions
    FROM ranked WHERE rk <= {_E38_TOPK}
    """,
    priority="P2",
)
def e38_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k session paths — the product-analytics path report
    ("what do users actually do?"): sessionize with e11's exact gap
    rule, collapse each session to its ordered event-type string
    (view>click>purchase...), count identical paths corpus-wide,
    rank. The path string is built with a deterministic
    (t_us, event_id) order, so simultaneous events cannot reorder
    it; counts exact, ranking rule-5 tie-broken on the path text.

    Scale shape: ONE user_id shuffle serves sessionization AND the
    path assembly (the group-agg's sort rides the same partitioning
    — e11 argument); path counting is a map-side-combined agg over
    |sessions| rows keyed by the path string (Zipf-concentrated);
    the final top-k is TakeOrderedAndProject over |distinct paths|.
    Unbounded path lengths are the 100 TB hazard — production caps
    the assembled string (slice the collected array) exactly like
    e28's symbol strings."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    prev = F.lag("t_us").over(w)
    sess = seq.withColumn(
        "new_sess",
        F.when(prev.isNull() | (F.col("t_us") - prev > SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("t_us", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    # Cut to top-k FIRST (TakeOrderedAndProject — per-partition heaps,
    # no global sort), then number the k survivors: the rank window
    # runs over _E38_TOPK rows, never |distinct paths|.
    top = counts.orderBy(F.desc("n_sessions"), "path").limit(_E38_TOPK)
    w_rank = Window.orderBy(F.desc("n_sessions"), "path")
    return top.withColumn("rank", F.row_number().over(w_rank)).select(
        F.col("rank").cast("long").alias("rank"), "path", "n_sessions"
    )


#: e39: autocorrelation lags (days) reported.
_E39_LAGS = [1, 7]


@register(
    "e39_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {86_400 * 1_000_000} AS day,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY day
    ), lags AS (
      SELECT unnest(ARRAY{_E39_LAGS}) AS lag
    ), pairs AS (
      SELECT l.lag, a.cents AS x, b.cents AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + l.lag
    ), s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
           THEN
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS autocorr
    FROM s
    """,
    priority="P2",
)
def e39_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of daily revenue — the
    seasonality screen (lag-7 ≫ lag-1 means weekly cycle) every
    forecasting pipeline runs before model choice. Daily totals are
    exact integer cents; each lag's Pearson r comes from six exact-
    bigint sufficient statistics over the aligned (day, day+lag)
    pairs, and r is one shared IEEE tree over exact-double casts
    (the d30/d22 rule — no rounding); degenerate zero-variance
    series yield NULL. Integer-overflow note: Σx² of daily-total
    cents fits bigint through ~1e5 days × 1e9-cent days; the d32
    decimal(38,0) migration applies beyond.

    Scale shape: ONE (day) partial+final agg collapses the event log
    to the day grid map-side; the lag alignment is a grid-bounded
    self-join on day+lag (|days| rows, the e19 bounded-domain
    exception); each lag's stats are one 6-number row."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {86_400 * 1_000_000}").alias(
                "day"
            ),
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    lags = ev.sparkSession.createDataFrame(
        [(lag,) for lag in _E39_LAGS], "lag long"
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("cents").alias("x"))
    b = daily.select(F.col("day").alias("day_b"), F.col("cents").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.col("day_a") + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    r_expr = (
        "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN"
        " (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END"
    )
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        "n",
        F.expr(r_expr).alias("autocorr"),
    )


@register(
    "e40_hour_of_week_profile",
    oracle="""
    WITH b AS (
      SELECT ((CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // 86400000000 + 3) % 7) AS dow,
             ((CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // 3600000000) % 24) AS hour,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             user_id
      FROM events
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY dow, hour
    """,
    priority="P2",
)
def e40_hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week traffic heatmap (the 7×24 calendar profile every
    ops dashboard and capacity plan starts from): events, distinct
    users, and exact revenue cents per (weekday, hour) cell.
    Weekday comes from PURE EPOCH ARITHMETIC — (epoch_day + 3) % 7
    with 0 = Monday (1970-01-01 was a Thursday) — because the
    engines' dayofweek() functions disagree on numbering and locale;
    integer arithmetic cannot. All-UTC, all-integer — no float rule
    (cents via the d22 transport).

    Scale shape: one (dow, hour) partial+final agg — map-side
    combine collapses every task to ≤168 cells; the exact
    count-distinct adds the standard two-phase distinct expansion
    (swap in s01's HLL for the streaming variant). The profile is
    the d27-style grid-bounded output: 168 rows forever."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        F.expr("(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 + 3) % 7").alias(
            "dow"
        ),
        F.expr("(unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000) % 24").alias(
            "hour"
        ),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        "user_id",
    )
    return b.groupBy("dow", "hour").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("sum_cents"),
    ).select(
        F.col("dow").cast("long").alias("dow"),
        F.col("hour").cast("long").alias("hour"),
        "n_events",
        "n_users",
        "sum_cents",
    )


#: e41: trailing window length (observed days) and MAD multiplier.
_E41_TRAIL = 28
_E41_K = 3


def _o_rolling_mad(entity_cols: list[str]) -> str:
    """Shared e41/e42 DuckDB oracle: trailing-28-observed-day rolling
    lower-median/MAD anomaly flags over daily cents, optionally
    partitioned by entity columns (e42). ONE definition — the
    convention (lower medians, NULL-until-history, integer cents)
    cannot diverge between the global and per-entity variants
    (review finding: the two oracles were verbatim copies)."""
    sel = "".join(f"{c}, " for c in entity_cols)
    grp = ", ".join(str(i + 1) for i in range(len(entity_cols) + 1))
    part = (
        "PARTITION BY " + ", ".join(entity_cols) + " "
        if entity_cols
        else ""
    )
    return f"""
    WITH daily AS (
      SELECT {sel}CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {DAY_US} AS day_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY {grp}
    ), fr AS (
      SELECT {sel}day_id, cents,
             list_sort(list(cents) OVER ({part}ORDER BY day_id
                       ROWS BETWEEN {_E41_TRAIL} PRECEDING
                       AND 1 PRECEDING)) AS arr
      FROM daily
    )
    SELECT {sel}day_id, cents,
           -- an empty frame aggregates to NULL (not []) in DuckDB
           CAST(coalesce(len(arr), 0) AS BIGINT) AS n_trail,
           CASE WHEN len(arr) >= 1
                THEN arr[(len(arr) + 1) // 2] END AS med_trail,
           CASE WHEN len(arr) >= 1
                THEN list_sort(list_transform(arr,
                       v -> abs(v - arr[(len(arr) + 1) // 2])))
                     [(len(arr) + 1) // 2] END AS mad_trail,
           CASE WHEN len(arr) >= {_E41_TRAIL}
                THEN CAST(abs(cents - arr[(len(arr) + 1) // 2])
                          > {_E41_K} * list_sort(list_transform(arr,
                              v -> abs(v - arr[(len(arr) + 1) // 2])))
                            [(len(arr) + 1) // 2] AS INT)
           END AS is_anomaly
    FROM fr
    """


def _rolling_mad_flags(
    spark: SparkSession, sf_dir: str, entity_cols: list[str]
) -> DataFrame:
    """Shared e41/e42 Spark plan: one map-side-combined (entity×)day
    agg, then the rolling lower-median/MAD window — unpartitioned
    over the calendar-bounded day GRID for e41, partitioned by the
    entity key for e42. ONE expression pyramid serves both (review
    finding: e42 was a verbatim copy of e41)."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            *entity_cols,
            F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day_id"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy(*entity_cols, "day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    base_w = (
        Window.partitionBy(*entity_cols) if entity_cols else Window
    )
    w = base_w.orderBy("day_id").rowsBetween(-_E41_TRAIL, -1)
    arr = F.sort_array(F.collect_list("cents").over(w))
    base = daily.select(*entity_cols, "day_id", "cents", arr.alias("__arr"))
    n = F.size("__arr")
    mid = F.expr("CAST((size(__arr) + 1) DIV 2 AS INT)")
    med = F.element_at("__arr", mid)
    dev = F.sort_array(
        F.transform(F.col("__arr"), lambda v: F.abs(v - med))
    )
    mad = F.element_at(dev, mid)
    return base.select(
        *entity_cols,
        "day_id",
        "cents",
        n.cast("long").alias("n_trail"),
        F.when(n >= 1, med).alias("med_trail"),
        F.when(n >= 1, mad).alias("mad_trail"),
        F.when(
            n >= _E41_TRAIL,
            (F.abs(F.col("cents") - med) > _E41_K * mad).cast("int"),
        ).alias("is_anomaly"),
    )


@register("e41_robust_anomaly_days", oracle=_o_rolling_mad([]), priority="P2")
def e41_robust_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue anomaly flags — e19's spike detector with
    the MAD rule instead of a mean multiple: day d is anomalous when
    |cents_d − med| > K·mad over the trailing {TRAIL} OBSERVED days
    (rows frame, excluding d itself), med/mad both lower medians
    (d34's two-level convention). The robust pair survives what
    breaks the e19 mean rule: one prior spike inflates a trailing
    mean and masks the next anomaly, but moves a median of 28 almost
    nothing. Flags are NULL until a full {TRAIL}-day history exists
    (med/mad still reported from day 2 on). Entirely integer cents —
    the |x−med| > K·mad comparison never touches a float.

    Scale shape: the day-grid window is the e19 exception — the
    window input is the GRID (|days| rows after one map-side-combined
    agg), not the data, so the unpartitioned window is bounded by the
    calendar forever; the per-day sort of ≤ {TRAIL} values is
    constant work. Per-entity variants partition the same window by
    the entity key. The in-frame median/MAD evaluate on a ≤{TRAIL}-
    element array — loop-invariant re-evaluation inside the
    transform is capped by the frame length, not the data."""
    return _rolling_mad_flags(spark, sf_dir, [])


@register("e42_entity_robust_anomaly_days", oracle=_o_rolling_mad(["event_type"]), priority="P2")
def e42_entity_robust_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity robust anomaly flags — e41's rolling-MAD rule run
    independently per event_type (the per-entity variant e41's
    docstring promises): each entity gets its own trailing
    {TRAIL}-day median/MAD baseline, so a revenue-heavy entity's
    scale cannot mask a small entity's spike (the cross-entity
    masking that a single global baseline suffers). Identical
    integer-cents discipline and lower-median convention.

    Scale shape: one map-side-combined (entity, day) agg collapses
    events to the entity×day grid, then ONE window partitioned by
    the entity key — the grid is |entities|·|days| rows and the
    window parallelizes across entities (no unpartitioned window at
    all here, unlike e41's single-series grid). Adding entities adds
    parallelism, not skew: each partition is calendar-bounded."""
    return _rolling_mad_flags(spark, sf_dir, ["event_type"])


#: e43 — seasonal decomposition grain: centered trend half-width
#: (7-day window) and the 7-day weekly season keyed on epoch-day
#: mod 7 (a stable weekday class — epoch day 0 is a Thursday, but
#: the CLASS is all that matters, not its label).
_E43_HALF = 3


def _o_e43(keys: tuple[str, ...] = ()) -> str:
    """e43's decomposition SQL, parameterized by entity keys so the
    per-entity variant (e48) shares ONE definition with the global
    series (the e45/e47 discipline). Empty keys reproduce the
    original e43 oracle semantics exactly."""
    kc = "".join(f"{k}, " for k in keys)
    seas_part = kc + "day_id % 7"
    trend_part = ("PARTITION BY " + ", ".join(keys) + " ") if keys else ""
    group_by = ", ".join(str(i + 1) for i in range(len(keys) + 1))
    return f"""
    WITH daily AS (
      SELECT {kc}CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {DAY_US} AS day_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY {group_by}
    ), seas AS (
      SELECT {kc}day_id, cents, day_id % 7 AS dow,
             list_sort(list(cents) OVER (PARTITION BY {seas_part}))
               AS sarr
      FROM daily
    ), des AS (
      SELECT {kc}day_id, dow, cents,
             sarr[(len(sarr) + 1) // 2] AS seasonal,
             cents - sarr[(len(sarr) + 1) // 2] AS deseason
      FROM seas
    ), tr AS (
      SELECT {kc}day_id, dow, cents, seasonal, deseason,
             list_sort(list(deseason) OVER ({trend_part}ORDER BY day_id
                       ROWS BETWEEN {_E43_HALF} PRECEDING
                       AND {_E43_HALF} FOLLOWING)) AS tarr
      FROM des
    )
    SELECT {kc}day_id, CAST(dow AS BIGINT) AS dow, cents, seasonal, deseason,
           CASE WHEN len(tarr) = {2 * _E43_HALF + 1}
                THEN tarr[{_E43_HALF + 1}] END AS trend,
           CASE WHEN len(tarr) = {2 * _E43_HALF + 1}
                THEN deseason - tarr[{_E43_HALF + 1}] END AS residual
    FROM tr
    """


@register("e43_seasonal_adjust", oracle=_o_e43(), priority="P2")
def e43_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust seasonal decomposition of daily revenue (STL-lite):
    split each day's cents into a weekly SEASONAL component (the
    lower median of that weekday-class's cents over the whole span
    — medians, not means, so one Black-Friday spike doesn't poison
    its weekday's baseline), a TREND (centered 7-day rolling lower
    median of the deseasonalized series — exactly one observation
    of each weekday class per frame, so the weekly cycle cannot
    alias into the trend), and the RESIDUAL (deseason − trend, the
    series e41-style anomaly rules should actually run on). Trend
    and residual are NULL at the {_E43_HALF}-day edges where the
    centered frame is incomplete. Entirely integer cents — both
    medians are selected elements, never averaged, so no float
    enters the decomposition.

    Scale shape: the e19/e41 day-GRID exception twice over — one
    map-side-combined day agg collapses events to |days| rows, then
    BOTH windows (weekday-partitioned season, ordered rolling trend)
    run over that calendar-bounded grid, never over raw events; the
    per-row sorts are |days|/7- and 7-element arrays. Per-entity
    variants partition both windows by the entity key (e42's move).
    """
    return _seasonal_decompose(spark, sf_dir, [])


def _seasonal_decompose(
    spark: SparkSession, sf_dir: str, keys: list[str]
) -> DataFrame:
    """e43's decomposition plan, parameterized by entity keys (the
    oracle twin of :func:`_o_e43`): empty keys = the global daily
    series; non-empty keys partition BOTH windows and the day agg by
    the entity — the e42 posture, where entities add parallelism and
    every window partition stays calendar-bounded."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            *keys,
            F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day_id"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy(*keys, "day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
        .withColumn("dow", (F.col("day_id") % 7).cast("long"))
    )
    sw = Window.partitionBy(*keys, "dow")
    sarr = F.sort_array(F.collect_list("cents").over(sw))
    seasonal = F.element_at(
        "__sarr", F.expr("CAST((size(__sarr) + 1) DIV 2 AS INT)")
    )
    des = daily.select(
        *keys, "day_id", "dow", "cents", sarr.alias("__sarr")
    ).select(
        *keys,
        "day_id",
        "dow",
        "cents",
        seasonal.alias("seasonal"),
        (F.col("cents") - seasonal).alias("deseason"),
    )
    tw = (
        Window.partitionBy(*keys)
        .orderBy("day_id")
        .rowsBetween(-_E43_HALF, _E43_HALF)
    )
    tarr = F.sort_array(F.collect_list("deseason").over(tw))
    full = 2 * _E43_HALF + 1
    base = des.select(
        *keys,
        "day_id",
        "dow",
        "cents",
        "seasonal",
        "deseason",
        tarr.alias("__tarr"),
    )
    trend = F.when(
        F.size("__tarr") == full, F.element_at("__tarr", _E43_HALF + 1)
    )
    return base.select(
        *keys,
        "day_id",
        "dow",
        "cents",
        "seasonal",
        "deseason",
        trend.alias("trend"),
        (F.col("deseason") - trend).alias("residual"),
    )


def holt_smooth(cents) -> tuple[list, list]:
    """Sequential Holt double-exponential smoothing over ONE entity's
    day-ordered cents (alpha = beta = 1/2): level_t = 0.5*x_t +
    0.5*(level + trend); trend_t = 0.5*(level_t - level) +
    0.5*trend. Initialized level_1 = x_1, trend_1 = 0. With both
    smoothing constants exactly 1/2, every MULTIPLY is an exact
    binary halving — the only rounding happens in the additions,
    which both engines execute in the identical order, so the
    sequence is IEEE bit-identical between this loop and the
    oracle's recursive CTE (the k12 cross-engine replay argument,
    extended from integers to doubles). Returns (levels, trends).
    """
    lv = tr = None
    levels, trends = [], []
    for c in cents:
        x = float(c)  # exact: |cents| << 2^53
        if lv is None:
            lv, tr = x, 0.0
        else:
            new_l = 0.5 * x + 0.5 * (lv + tr)
            tr = 0.5 * (new_l - lv) + 0.5 * tr
            lv = new_l
        levels.append(lv)
        trends.append(tr)
    return levels, trends


def _o_e44() -> str:
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {DAY_US} AS day_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), rk AS (
      SELECT event_type, day_id, cents,
             CAST(cents AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day_id) AS rn
      FROM daily
    ), hw AS (
      SELECT event_type, day_id, cents, x, rn,
             x AS level, CAST(0.0 AS DOUBLE) AS trend
      FROM rk WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.day_id, r.cents, r.x, r.rn,
             0.5 * r.x + 0.5 * (h.level + h.trend) AS level,
             0.5 * ((0.5 * r.x + 0.5 * (h.level + h.trend)) - h.level)
               + 0.5 * h.trend AS trend
      FROM rk r JOIN hw h
        ON r.event_type = h.event_type AND r.rn = h.rn + 1
    )
    SELECT event_type, day_id, cents, level, trend,
           level + trend AS forecast_next
    FROM hw
    """


@register("e44_holt_trend", oracle=_o_e44(), priority="P2")
def e44_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of daily revenue per event
    type — the trend-aware successor to e18's simple EWMA (a simple
    EWMA lags a trending series by a constant offset forever; Holt's
    explicit trend state closes that gap) and the one-step-ahead
    forecast (level + trend) every capacity/alerting baseline wants.
    alpha = beta = 1/2.

    Float rule (the k12 replay argument, extended to doubles): with
    both smoothing constants exactly 1/2 every multiply is an exact
    binary halving, so rounding happens only in the additions, which
    the applyInPandas loop (:func:`holt_smooth`) and the oracle's
    recursive CTE execute in the identical order — the state
    sequence is IEEE bit-identical between engines, no rounding
    needed at output. Cents-as-double is exact (<< 2^53).

    The recurrence is a linear system in (level, trend) whose matrix
    powers have no rational closed form — like k12 (and unlike e18's
    fixed-horizon EWMA or e26's running-max CUSUM) there is no
    window/prefix closed form, so this is the legitimate
    applyInPandas case: per-entity sequential state over the
    calendar-bounded day GRID.

    Scale shape: one map-side-combined (entity, day) agg collapses
    events to the entity×day grid (the e42 move), then ONE
    event_type hash exchange feeds each Python worker one entity's
    ≤|calendar| rows as an Arrow batch — O(days) loop per entity,
    parallel across entities, state never crosses keys. The DuckDB
    oracle replays the identical recurrence one day-rank per step
    (viable at fixture grid sizes; Spark is the scale path)."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day_id"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("event_type", "day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_id", kind="mergesort")
        levels, trends = holt_smooth(pdf["cents"].tolist())
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "day_id": pdf["day_id"],
                "cents": pdf["cents"],
                "level": levels,
                "trend": trends,
                "forecast_next": [lv + tr for lv, tr in zip(levels, trends)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        smooth,
        schema=(
            "event_type string, day_id long, cents long, "
            "level double, trend double, forecast_next double"
        ),
    )


#: e45 — CUSUM change-point scale: the deviation products N·S_k and
#: k·S_N are formed in decimal(38,0)/HUGEINT (bigint overflows once
#: |days| × total-cents passes ~9·10^18 — already plausible at
#: cluster scale), compared exactly, and never emitted.
_O_E45 = f"""
    WITH daily AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {DAY_US} AS day_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ), cum AS (
      SELECT day_id,
             CAST(row_number() OVER (ORDER BY day_id) AS BIGINT) AS k,
             CAST(sum(cents) OVER (ORDER BY day_id) AS BIGINT) AS s_k,
             CAST(count(*) OVER () AS BIGINT) AS n_days,
             CAST(sum(cents) OVER () AS BIGINT) AS s_n
      FROM daily
    ), cand AS (
      SELECT day_id, k, s_k, n_days, s_n,
             abs(CAST(n_days AS HUGEINT) * s_k
                 - CAST(k AS HUGEINT) * s_n) AS dev
      FROM cum WHERE k < n_days
    ), best AS (
      SELECT *, row_number() OVER (ORDER BY dev DESC, day_id) AS rn
      FROM cand
    )
    SELECT day_id AS split_day_id, n_days,
           k AS n_before, n_days - k AS n_after,
           CAST(round(CAST(s_k AS DOUBLE) / CAST(k AS DOUBLE), 6)
                AS DOUBLE) AS mean_before_cents,
           CAST(round(CAST(s_n - s_k AS DOUBLE)
                      / CAST(n_days - k AS DOUBLE), 6)
                AS DOUBLE) AS mean_after_cents,
           CAST(round(CAST(s_n - s_k AS DOUBLE)
                      / CAST(n_days - k AS DOUBLE)
                      - CAST(s_k AS DOUBLE) / CAST(k AS DOUBLE), 6) + 0.0
                AS DOUBLE) AS shift_cents
    FROM best WHERE rn = 1
    """


@register("e45_changepoint", oracle=_O_E45, priority="P2")
def e45_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point in daily total revenue — the CUSUM
    estimator (Page's statistic / Pettitt's location form): the
    split day k maximizing |Σ_{i≤k}(x_i − x̄)|, i.e. where the
    cumulative deviation from the global mean peaks — the first cut
    of binary segmentation and the "when did the level shift?"
    primitive behind deploy/incident forensics (e26's CUSUM drifts
    chart the statistic; this op COMMITS to the argmax split and
    reports both regimes). Emits one row: the split day (last day
    of the left regime), segment sizes, and both regime means.

    Determinism: the deviation is kept UNNORMALIZED and integer —
    N·S_k − k·S_N in exact decimal(38,0)/HUGEINT (multiplying by N
    clears the x̄ = S_N/N fraction, so the argmax never touches a
    float), ties broken on the earlier day; only the three reported
    means/shift are single IEEE divisions of exact bigints, r6
    (shift with the +0.0 signed-zero guard).

    Scale shape: one map-side-combined day agg collapses events to
    the calendar-bounded GRID; the running-sum and total windows and
    the argmax rank all run over that grid (the e19 exception —
    window input is |days| rows forever); per-entity variants
    partition every window by the entity key. No second fact scan,
    no join at all."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day_id"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w_ord = Window.orderBy("day_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    DEC = "decimal(38,0)"
    cum = daily.select(
        "day_id",
        F.row_number().over(w_ord).cast("long").alias("k"),
        F.sum("cents").over(w_cum).cast("long").alias("s_k"),
        F.count("*").over(w_all).cast("long").alias("n_days"),
        F.sum("cents").over(w_all).cast("long").alias("s_n"),
    )
    dev = F.abs(
        F.col("n_days").cast(DEC) * F.col("s_k")
        - F.col("k").cast(DEC) * F.col("s_n")
    )
    cand = cum.filter(F.col("k") < F.col("n_days")).withColumn("dev", dev)
    best = cand.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("dev"), "day_id"))
    ).filter(F.col("rn") == 1)
    kd = F.col("k").cast("double")
    rd = (F.col("n_days") - F.col("k")).cast("double")
    mean_b = F.col("s_k").cast("double") / kd
    mean_a = (F.col("s_n") - F.col("s_k")).cast("double") / rd
    return best.select(
        F.col("day_id").alias("split_day_id"),
        "n_days",
        F.col("k").alias("n_before"),
        (F.col("n_days") - F.col("k")).alias("n_after"),
        F.round(mean_b, 6).cast("double").alias("mean_before_cents"),
        F.round(mean_a, 6).cast("double").alias("mean_after_cents"),
        (F.round(mean_a - mean_b, 6) + F.lit(0.0))
        .cast("double")
        .alias("shift_cents"),
    )


def _o_e46() -> str:
    """e46 oracle: ONE definition of the decomposition (the e43
    oracle embedded verbatim as a subquery) + the variance-numerator
    strength arithmetic on top — the components cannot diverge
    between e43 and e46."""
    num = "CAST(n_core AS HUGEINT) * {s2} - CAST({s1} AS HUGEINT) * {s1}"
    num_r = num.format(s2="r2", s1="r1")
    num_sr = num.format(s2="sr2", s1="sr1")
    num_dt = num.format(s2="dt2", s1="dt1")
    return f"""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(count(trend) AS BIGINT) AS n_core,
             sum(CAST(residual AS HUGEINT)) AS r1,
             sum(CAST(residual AS HUGEINT) * residual) AS r2,
             sum(CAST(cents - trend AS HUGEINT)) AS sr1,
             sum(CAST(cents - trend AS HUGEINT) * (cents - trend)) AS sr2,
             sum(CAST(deseason AS HUGEINT))
               FILTER (WHERE trend IS NOT NULL) AS dt1,
             sum(CAST(deseason AS HUGEINT) * deseason)
               FILTER (WHERE trend IS NOT NULL) AS dt2
      FROM ({_o_e43()}) comp
    )
    SELECT n_days, n_core,
           CASE WHEN {num_sr} > 0 THEN
             CAST(round(greatest(0.0,
               1.0 - CAST({num_r} AS DOUBLE)
                     / CAST({num_sr} AS DOUBLE)), 6) AS DOUBLE)
           END AS seasonal_strength,
           CASE WHEN {num_dt} > 0 THEN
             CAST(round(greatest(0.0,
               1.0 - CAST({num_r} AS DOUBLE)
                     / CAST({num_dt} AS DOUBLE)), 6) AS DOUBLE)
           END AS trend_strength
    FROM agg
    """


@register("e46_seasonal_strength", oracle=_o_e46(), priority="P2")
def e46_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength of seasonality and trend (Hyndman's tsfeatures
    measures, the triage number behind "should this series be
    seasonally adjusted at all?"): F_s = max(0, 1 − Var(R)/Var(S+R))
    and F_t = max(0, 1 − Var(R)/Var(T+R)) over e43's decomposition
    — built by CALLING e43 (one component definition, the d47/d38
    shared-builder discipline), restricted to the core days where
    the centered trend exists.

    Determinism: every variance NUMERATOR n·Σv² − (Σv)² is exact
    decimal(38,0)/HUGEINT over integer-cents components (the n(n−1)
    denominators cancel in the ratio — same n, same rows); the
    strength is ONE shared IEEE tree (two casts, one division, one
    subtraction, one max-with-0.0) under r6; the d27 ±1-ulp
    cast-noise argument covers numerators past 2^53. NULL (never a
    divide-by-zero) when the denominator variance is zero — a
    constant series has no strength to report.

    Scale shape: e43's grid windows (calendar-bounded) + ONE final
    single-row aggregate over the |days| grid — the whole op adds
    an O(|days|) reduction to e43; nothing new shuffles. Per-entity
    variants partition e43's windows and group this agg by the
    entity key."""
    comp = e43_seasonal_adjust(spark, sf_dir)
    DEC = "decimal(38,0)"
    t_ok = F.col("trend").isNotNull()
    r = F.col("residual").cast(DEC)
    sr = (F.col("cents") - F.col("trend")).cast(DEC)
    dt = F.when(t_ok, F.col("deseason").cast(DEC))
    agg = comp.agg(
        F.count("*").cast("long").alias("n_days"),
        F.count("trend").cast("long").alias("n_core"),
        F.sum(r).alias("r1"),
        F.sum(r * F.col("residual")).alias("r2"),
        F.sum(sr).alias("sr1"),
        F.sum(sr * (F.col("cents") - F.col("trend"))).alias("sr2"),
        F.sum(dt).alias("dt1"),
        F.sum(dt * F.col("deseason")).alias("dt2"),
    )
    n_core = F.col("n_core").cast(DEC)
    num_r = n_core * F.col("r2") - F.col("r1") * F.col("r1")
    num_sr = n_core * F.col("sr2") - F.col("sr1") * F.col("sr1")
    num_dt = n_core * F.col("dt2") - F.col("dt1") * F.col("dt1")

    def strength(num_den):
        return F.when(
            num_den > 0,
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - num_r.cast("double") / num_den.cast("double"),
                ),
                6,
            ).cast("double"),
        )

    return agg.select(
        "n_days",
        "n_core",
        strength(num_sr).alias("seasonal_strength"),
        strength(num_dt).alias("trend_strength"),
    )


_O_E47 = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {DAY_US} AS day_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, day_id,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY day_id) AS BIGINT) AS k,
             CAST(sum(cents) OVER (PARTITION BY event_type
                                   ORDER BY day_id) AS BIGINT) AS s_k,
             CAST(count(*) OVER (PARTITION BY event_type)
                  AS BIGINT) AS n_days,
             CAST(sum(cents) OVER (PARTITION BY event_type)
                  AS BIGINT) AS s_n
      FROM daily
    ), cand AS (
      SELECT event_type, day_id, k, s_k, n_days, s_n,
             abs(CAST(n_days AS HUGEINT) * s_k
                 - CAST(k AS HUGEINT) * s_n) AS dev
      FROM cum WHERE k < n_days
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY dev DESC, day_id) AS rn
      FROM cand
    )
    SELECT event_type, day_id AS split_day_id, n_days,
           k AS n_before, n_days - k AS n_after,
           CAST(round(CAST(s_k AS DOUBLE) / CAST(k AS DOUBLE), 6)
                AS DOUBLE) AS mean_before_cents,
           CAST(round(CAST(s_n - s_k AS DOUBLE)
                      / CAST(n_days - k AS DOUBLE), 6)
                AS DOUBLE) AS mean_after_cents,
           CAST(round(CAST(s_n - s_k AS DOUBLE)
                      / CAST(n_days - k AS DOUBLE)
                      - CAST(s_k AS DOUBLE) / CAST(k AS DOUBLE), 6) + 0.0
                AS DOUBLE) AS shift_cents
    FROM best WHERE rn = 1
    """


@register("e47_entity_changepoint", oracle=_O_E47, priority="P2")
def e47_entity_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity change-point — e45's CUSUM argmax run independently
    per event_type (the per-entity variant e45's docstring
    promises, the e42 pattern): each entity's daily-cents series
    gets its own |Σ_{{i≤k}}(x_i − x̄)| peak, so one entity's level
    shift (a price change on purchases) is dated on ITS series
    instead of being diluted by the aggregate. One row per entity:
    split day, regime sizes, both regime means, shift.

    Determinism: identical to e45 per partition — the deviation is
    the exact integer N·S_k − k·S_N in decimal(38,0)/HUGEINT, ties
    break on the earlier day, the three reported floats are single
    IEEE divisions of exact bigints r6 (shift with the OUTER +0.0
    signed-zero guard); an entity observed on a single day emits no
    row (k < n_days has no candidates), rather than a degenerate
    0-width regime.

    Scale shape: ONE map-side-combined (entity, day) agg collapses
    events to the entity×day grid; every window — running sum,
    totals, argmax rank — partitions by the entity key over that
    calendar-bounded grid (the e42 posture: adding entities adds
    parallelism, not rows per partition). No unpartitioned window
    anywhere, no join; skew is bounded because each partition is at
    most |calendar| rows regardless of how hot the entity is."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day_id"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("event_type", "day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w_ord = Window.partitionBy("event_type").orderBy("day_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    DEC = "decimal(38,0)"
    cum = daily.select(
        "event_type",
        "day_id",
        F.row_number().over(w_ord).cast("long").alias("k"),
        F.sum("cents").over(w_cum).cast("long").alias("s_k"),
        F.count("*").over(w_all).cast("long").alias("n_days"),
        F.sum("cents").over(w_all).cast("long").alias("s_n"),
    )
    dev = F.abs(
        F.col("n_days").cast(DEC) * F.col("s_k")
        - F.col("k").cast(DEC) * F.col("s_n")
    )
    cand = cum.filter(F.col("k") < F.col("n_days")).withColumn("dev", dev)
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("dev"), "day_id"
            )
        ),
    ).filter(F.col("rn") == 1)
    kd = F.col("k").cast("double")
    rd = (F.col("n_days") - F.col("k")).cast("double")
    mean_b = F.col("s_k").cast("double") / kd
    mean_a = (F.col("s_n") - F.col("s_k")).cast("double") / rd
    return best.select(
        "event_type",
        F.col("day_id").alias("split_day_id"),
        "n_days",
        F.col("k").alias("n_before"),
        (F.col("n_days") - F.col("k")).alias("n_after"),
        F.round(mean_b, 6).cast("double").alias("mean_before_cents"),
        F.round(mean_a, 6).cast("double").alias("mean_after_cents"),
        (F.round(mean_a - mean_b, 6) + F.lit(0.0))
        .cast("double")
        .alias("shift_cents"),
    )


@register(
    "e48_entity_seasonal_adjust",
    oracle=_o_e43(("event_type",)),
    priority="P2",
)
def e48_entity_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity seasonal decomposition — e43's STL-lite run
    independently per event_type (the per-entity variant e43's
    docstring promises, the e42/e47 pattern): each entity's daily
    series gets its OWN weekday-median seasonal profile and centered
    rolling trend, so a purchase-heavy weekend cycle cannot leak
    into the error-event baseline. One row per (entity, day) with
    the full component set (cents = seasonal + deseason; deseason =
    trend + residual on core days).

    Determinism: identical to e43 per partition — both medians are
    SELECTED integer-cents elements (lower-median convention), no
    float anywhere; trend/residual NULL at the edges where the
    centered frame is incomplete. The implementation IS e43's: one
    shared builder (_seasonal_decompose / _o_e43(keys)) serves both
    registrations, so the decompositions cannot diverge.

    Scale shape: ONE map-side-combined (entity, day) agg → the
    entity×day grid; both windows partition by (entity[, dow]) over
    calendar-bounded partitions (the e42 posture — entities add
    parallelism, partition depth stays ≤ |calendar|). Per-entity
    strength scoring composes on top exactly as e46 does on e43."""
    return _seasonal_decompose(spark, sf_dir, ["event_type"])
