"""§2.D — aggregations.

Reference analog: the MapReduce Combiner/Reducer model. Spark's
HashAggregateExec plans partial (map-side, the combiner) + final
(post-shuffle, the reducer) automatically — i05 asserts this on the
physical plan. At 100 TB the partial agg collapses each group to one
row per task before the shuffle, which is exactly the combiner win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.contracts import davg, dsum, net_price, oavg, osum, r4, r6
from hadoop_release_spark.functions.materialize import persist, temp_view
from hadoop_release_spark.plans.registry import register


@register(
    "d01_agg_global",
    oracle=f"""
    SELECT count(*) AS n_rows,
           {osum("l_quantity")} AS sum_qty,
           {oavg("l_quantity")} AS avg_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           {osum("l_extendedprice")} AS sum_price,
           {oavg("l_extendedprice")} AS avg_price,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
    priority="P0",
)
def d01_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregation over lineitem."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
        davg("l_quantity").alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        davg("l_extendedprice").alias("avg_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "d02_agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {osum("l_quantity")} AS sum_qty,
           {osum("l_extendedprice")} AS sum_base_price,
           {osum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {osum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           {oavg("l_quantity")} AS avg_qty,
           {oavg("l_extendedprice")} AS avg_price,
           {oavg("l_discount")} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    priority="P0",
)
def d02_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: hash aggregation, 2 keys × 8 measures.

    Partial+final HashAggregate means the shuffle carries ≤ (#groups ×
    #tasks) rows regardless of input scale — the combiner idiom.
    """
    li = table(spark, sf_dir, "lineitem")
    charge = net_price() * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(net_price()).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "d03_agg_group_multi",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           {osum("o_totalprice")} AS sum_price
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def d03_agg_group_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key grouping."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price")
    )


@register(
    "d04_agg_count_distinct",
    oracle="""
    SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def d04_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expands to a two-phase agg; at
    scale prefer approx_count_distinct when 2% error is tolerable)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(F.countDistinct("o_custkey").alias("n_customers"))


@register(
    "d05_agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    priority="P2",
)
def d05_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two distinct aggregates in one grouping (planned via expand)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "d06_agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) >= 15
    """,
)
def d06_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "d07_agg_conditional",
    oracle=f"""
    SELECT l_returnflag,
           {osum("CASE WHEN l_discount > 0.05 THEN l_extendedprice * (1 - l_discount) END")} AS high_disc_revenue,
           count(CASE WHEN l_quantity > 25 THEN 1 END) AS n_bulk
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d07_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: sum(CASE WHEN …) — filtered measures
    without a second scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dsum(F.when(F.col("l_discount") > 0.05, net_price())).alias("high_disc_revenue"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
    )


@register(
    "d08_pivot",
    oracle="""
    SELECT user_id,
           count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM events GROUP BY user_id
    """,
    priority="P2",
)
def d08_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide: one column per event type. Values are listed
    explicitly — at scale an unlisted pivot needs an extra pass to
    discover the domain."""
    ev = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = ev.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    return out.na.fill(0, types)


@register(
    "d09_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n_orders,
           {osum("o_totalprice")} AS sum_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    priority="P2",
)
def d09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals with grouping() indicators to
    disambiguate rollup nulls from data nulls."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


@register(
    "d10_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n_orders
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    priority="P2",
)
def d10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-combination subtotals (CUBE)."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n_orders"),
    )


@register(
    "d11_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    priority="P2",
)
def d11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (the general form of
    rollup/cube)."""
    temp_view(spark, "orders_gs", table(spark, sf_dir, "orders"))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "d12_agg_stats",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS sum_x,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                         * CAST(o_totalprice AS DECIMAL(12,2))
                         AS DECIMAL(30,4))) AS VARCHAR) AS sum_x2,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * o_custkey
                         AS DECIMAL(30,2))) AS VARCHAR) AS sum_xy,
           CAST(sum(o_custkey) AS BIGINT) AS sum_y
    FROM orders GROUP BY o_orderstatus
    """,
    priority="P2",
)
def d12_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments from exact sums.

    Spark has stddev_samp/var_samp/corr/covar_samp builtins, but
    their streaming (Welford) accumulation is engine-specific in the
    low bits, so the CONTRACT emits the exact raw moments (n, Σx,
    Σx², Σxy, Σy) from which every one of those statistics derives
    deterministically. The builtins remain available for
    non-contract use.

    Why ALL-DECIMAL arithmetic and STRING transport (round-3 sf0.1
    finding): squaring the raw double first and casting the product
    to decimal diverges between engines — the double product is
    inexact and Spark's string-based vs DuckDB's binary double→
    decimal cast disagree by ±1 ulp per row, which drifts with row
    count (green at sf0.01, off by ~3e-3 at sf0.1). Instead the 2dp
    price is recovered EXACTLY into DECIMAL(12,2) first (README float
    rule 1), every product/sum stays in decimal (exact at any SF),
    and the wide moments are emitted as fixed-scale decimal STRINGS —
    a >15-significant-digit decimal does not cast to double
    identically across engines (float rule 2), and Σx² crosses that
    at sf≥0.1."""
    o = table(spark, sf_dir, "orders")
    xd = F.col("o_totalprice").cast("decimal(12,2)")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("string").alias("sum_x"),
        F.sum((xd * xd).cast("decimal(30,4)")).cast("string").alias("sum_x2"),
        F.sum((xd * F.col("o_custkey")).cast("decimal(30,2)"))
        .cast("string")
        .alias("sum_xy"),
        F.sum("o_custkey").alias("sum_y"),
    )


@register(
    "d13_agg_minmax_by",
    oracle="""
    WITH ranked AS (
      SELECT o_orderstatus, o_orderkey,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rtop,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rbot
      FROM orders)
    SELECT o_orderstatus,
           max(CASE WHEN rtop = 1 THEN o_orderkey END) AS top_orderkey,
           max(CASE WHEN rbot = 1 THEN o_orderkey END) AS bottom_orderkey
    FROM ranked GROUP BY o_orderstatus
    """,
    priority="P2",
)
def d13_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin with a composite ordering value so ties on price
    break deterministically by key."""
    o = table(spark, sf_dir, "orders")
    ordering = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", ordering).alias("top_orderkey"),
        F.min_by("o_orderkey", ordering).alias("bottom_orderkey"),
    )


@register(
    "d14_agg_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(median(o_totalprice), 4) AS med_price,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75
    FROM orders GROUP BY o_orderstatus
    """,
    priority="P2",
)
def d14_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles with linear interpolation. Interpolated values
    of 2dp data have ≤4 true decimals, so round(·,4) is boundary-free
    (contracts.py FLOAT RULE). At 100 TB use percentile_approx."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        r4(F.median("o_totalprice")).alias("med_price"),
        r4(F.percentile("o_totalprice", F.lit(0.25))).alias("p25"),
        r4(F.percentile("o_totalprice", F.lit(0.75))).alias("p75"),
    )


@register(
    "d15_agg_collect_sorted",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           array_to_string(list_sort(list(c_custkey)), ',') AS custkeys
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
    priority="P2",
)
def d15_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect, sort, and join to a
    string (strings hash portably across engines; raw arrays may
    not)."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.array_join(F.sort_array(F.collect_list("c_custkey")), ",").alias("custkeys")
    )


@register(
    "d16_agg_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY n_orders
    """,
    priority="P2",
)
def d16_agg_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — orders per customer,
    then the distribution of customers over order counts (left join
    keeps zero-order customers in the 0 bucket)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "d17_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value
    FROM (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1993-01-01')
    UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount))
    """,
    priority="P2",
)
def d17_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measures to long (measure, value) rows —
    the inverse of d08's pivot. Input bounded to one ship-year (the
    filter reaches the parquet scan ahead of the unpivot; the 3×
    row expansion is the operator under test, not the payload)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < "1993-01-01"
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )


#: d18 equi-width histogram: 25-unit buckets over events.value
#: (fixture range [0.01, 490.02] → buckets 0..19).
HIST_WIDTH = 25


@register(
    "d18_histogram",
    oracle=f"""
    SELECT CAST(floor(value / {HIST_WIDTH}.0) AS BIGINT) AS bucket,
           CAST(floor(value / {HIST_WIDTH}.0) AS BIGINT) * {HIST_WIDTH}.0 AS lo,
           (CAST(floor(value / {HIST_WIDTH}.0) AS BIGINT) + 1) * {HIST_WIDTH}.0 AS hi,
           count(*) AS n_events,
           {osum("value")} AS sum_value
    FROM events GROUP BY 1
    """,
    priority="P2",
)
def d18_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a measure column — the data-profiling
    primitive behind optimizer statistics, monitoring dashboards, and
    drift detection (the batch twin of a streaming quantile sketch;
    s02 is the rank-based alternative).

    Determinism design: the bucket id is floor(value / width) — one
    IEEE division of the identical parquet double then floor, so both
    engines bin every row identically even at bucket boundaries (2dp
    fixture values land exactly on the grid); the in-bucket sum uses
    the exact-decimal rule (dsum). Bucket edges are derived FROM the
    bucket id (bigint × width), not re-accumulated.

    Scale shape: a pure groupBy on a derived key — map-side partial
    aggregation compresses each task's rows to ≤ #buckets partials,
    so the shuffle carries #tasks × #buckets rows regardless of input
    size; the scan reads only the one measure column. At 100 TB this
    is the cheapest full-table profile there is."""
    ev = table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(float(HIST_WIDTH))).cast("bigint")
    return (
        ev.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "bucket",
            (F.col("bucket") * float(HIST_WIDTH)).alias("lo"),
            ((F.col("bucket") + 1) * float(HIST_WIDTH)).alias("hi"),
            "n_events",
            "sum_value",
        )
    )


#: d19 profiled columns: (name, epoch-day?) — numeric measures plus
#: the ship date as an epoch-day number, so every min/max is a pure
#: SELECTION of an identical value (no float-format hazard).
PROFILE_COLS = [("l_quantity", False), ("l_extendedprice", False),
                ("l_tax", False), ("l_shipdate", True)]


def _o_d19() -> str:
    parts = []
    for name, is_date in PROFILE_COLS:
        v = (f"epoch_us(CAST({name} AS TIMESTAMP)) // 86400000000"
             if is_date else name)
        parts.append(f"""
    SELECT '{name}' AS column_name,
           count(*) AS n_rows,
           count(*) - count({name}) AS n_nulls,
           count(DISTINCT {name}) AS n_distinct,
           CAST(min({v}) AS DOUBLE) AS min_val,
           CAST(max({v}) AS DOUBLE) AS max_val
    FROM lineitem""")
    return "\n    UNION ALL".join(parts)


@register("d19_profile_columns", oracle=_o_d19(), priority="P2")
def d19_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the ANALYZE TABLE primitive behind CBO
    statistics, data-quality dashboards, and schema drift alerts:
    per column, row/null/distinct counts and min/max. Dates profile
    as epoch-day numbers and every statistic is a count or a
    SELECTION, so the whole profile is hash-exact cross-engine (no
    float-to-string formatting anywhere — the usual profiler parity
    trap).

    Scale shape: ONE scan per profiled column batch — Spark computes
    all four columns' count/min/max partials in a single pass per
    column here (the per-column aggs then union 4 one-row tables;
    a production profiler fuses them into one agg row and unpivots,
    same cost). count(DISTINCT) is the expensive one — it shuffles
    each column's values; at 100 TB swap in approx_count_distinct
    (s01) per column, which turns the whole profile into one
    map-side pass. The optimizer note: these are exactly the stats
    Catalyst's CBO consumes from ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS."""
    li = table(spark, sf_dir, "lineitem")
    outs = []
    for name, is_date in PROFILE_COLS:
        col = F.col(name)
        v = (
            (F.unix_micros(col.cast("timestamp")) / F.lit(86400000000)).cast("bigint")
            if is_date
            else col
        )
        outs.append(
            li.agg(
                F.lit(name).alias("column_name"),
                F.count("*").alias("n_rows"),
                (F.count("*") - F.count(col)).alias("n_nulls"),
                F.count_distinct(col).alias("n_distinct"),
                F.min(v).cast("double").alias("min_val"),
                F.max(v).cast("double").alias("max_val"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionAll(df)
    return out


#: d20: epoch-µs per day, for the integer day-index regressor.
_OLS_DAY_US = 24 * 3600 * 1_000_000


@register(
    "d20_trend_ols",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {_OLS_DAY_US}
               - (SELECT min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                             // {_OLS_DAY_US}) FROM events) AS x,
             CAST(value AS DECIMAL(25,2)) AS y
      FROM events
    ), agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM ev GROUP BY user_id
    )
    SELECT user_id, n,
           (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (sy - ((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx)
             / n AS intercept
    FROM agg
    WHERE n * sxx - sx * sx <> 0
    """,
    priority="P1",
)
def d20_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key OLS trend — closed-form least-squares slope/intercept
    of value over day index per user, the in-SQL regression every
    metrics pipeline uses for trend detection and anomaly baselines
    (slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)).

    FLOAT RULE compliance without rounding: x is a SMALL integer (day
    re-based to the global first day — slope is shift-invariant, and
    re-basing keeps every sum ≤12 significant digits), y is the 2dp
    measure so Σy and Σ(x·y) accumulate EXACTLY in DECIMAL(25,2) and
    cast to identical doubles; the remaining arithmetic is the same
    elementwise IEEE expression tree on identical operands in both
    engines — bit-identical without any rounding (e04's argument).
    Keys with zero x-variance (all events in one day) are excluded —
    the integer denominator test, not a float epsilon.

    Scale shape: ONE user_id shuffle with map-side partials computes
    all five sufficient statistics; the closed form is a projection.
    This is the textbook 'aggregate-then-solve' pattern that makes
    regression embarrassingly parallel at 100 TB — no iteration, no
    driver-side data. (The global min-day scalar is one pushed-down
    min over the partition-pruned scan.)"""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {_OLS_DAY_US}").alias("day"),
        F.col("value").cast("decimal(25,2)").alias("y"),
    )
    day0 = ev.agg(F.min("day")).first()[0]  # one scalar; pruned-scan min
    ev = ev.withColumn("x", F.col("day") - F.lit(int(day0)))
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num / den.cast("double")
    return (
        agg.filter(den != 0)
        .select(
            "user_id",
            "n",
            slope.alias("slope"),
            ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        )
    )


#: d21 — heavy-hitter rule, all-integer: a user is heavy when
#: cnt · n_users · HH_DEN > HH_NUM · total, i.e. cnt > (HH_NUM/HH_DEN)
#: × the mean. 12/10 = 1.2× — calibrated non-vacuous on the fixture's
#: near-uniform per-user counts (9 hitters at sf0.01, 83 at sf0.1); a
#: skewed production log uses a higher ratio, same integer test.
HH_NUM = 12
HH_DEN = 10


@register(
    "d21_heavy_hitters",
    oracle=f"""
    WITH per AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_users
      FROM per
    )
    SELECT user_id, cnt,
           CAST(cnt * 10000 // total AS BIGINT) AS share_bp
    FROM per CROSS JOIN tot
    WHERE cnt * n_users * {HH_DEN} > {HH_NUM} * total
    """,
    priority="P2",
)
def d21_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection — keys responsible for an outsized
    share of traffic (the skew-diagnosis query every pipeline runs
    before choosing a salt factor): users above HH_NUM/HH_DEN× (1.2×)
    the mean event count, with their share in basis points.

    The threshold test is cross-multiplied to pure integers
    (cnt·n_users·den > num·total), and share_bp is integer division —
    zero float anywhere.

    Scale shape: one map-side-combined groupBy(user) + a 1-ROW total
    broadcast back over the per-key table; nothing else shuffles. At
    100 TB the exact per-key agg is replaced by a Misra-Gries /
    Count-Min pass when the key domain itself is too large to
    materialize — the contract (top share-holders above a frequency
    floor) is what those sketches approximate; this plan is the
    exact reference they are graded against."""
    per = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    tot = per.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_users"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .filter(
            F.col("cnt") * F.col("n_users") * F.lit(HH_DEN)
            > F.lit(HH_NUM) * F.col("total")
        )
        .select(
            "user_id",
            "cnt",
            F.expr("cnt * 10000 DIV total").cast("bigint").alias("share_bp"),
        )
    )


@register(
    "d22_ab_ttest",
    oracle="""
    WITH s AS (
      SELECT
        CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_a,
        CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
             FILTER (event_type = 'purchase') AS BIGINT) AS sx_a,
        CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
             FILTER (event_type = 'purchase') AS BIGINT) AS sxx_a,
        CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_b,
        CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
             FILTER (event_type = 'view') AS BIGINT) AS sx_b,
        CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
             FILTER (event_type = 'view') AS BIGINT) AS sxx_b
      FROM events WHERE event_type IN ('purchase', 'view')
    )
    SELECT n_a, n_b,
           (CAST(sx_a AS DOUBLE) / 100.0) / n_a AS mean_a,
           (CAST(sx_b AS DOUBLE) / 100.0) / n_b AS mean_b,
           ((CAST(sx_a AS DOUBLE) / 100.0) / n_a - (CAST(sx_b AS DOUBLE) / 100.0) / n_b)
           / sqrt(
               ((CAST(sxx_a AS DOUBLE) / 10000.0 - (CAST(sx_a AS DOUBLE) / 100.0) * (CAST(sx_a AS DOUBLE) / 100.0) / n_a)
                / (n_a - 1)) / n_a
             + ((CAST(sxx_b AS DOUBLE) / 10000.0 - (CAST(sx_b AS DOUBLE) / 100.0) * (CAST(sx_b AS DOUBLE) / 100.0) / n_b)
                / (n_b - 1)) / n_b
           ) AS t_stat
    FROM s
    """,
    priority="P2",
)
def d22_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test — the A/B-experiment readout, comparing mean
    `value` between the purchase and view arms in ONE pass.

    Float rule (the d20 argument, taken further): the sufficient
    statistics n, Σx, Σx² are transported as exact INTEGERS — values
    are 2-dp, so x·100 is an exact bigint via a DECIMAL(12,2) cast
    (never a double multiply), and Σ(x100)² stays far inside 2^53 at
    any graded scale — then mean, variance, and the t statistic are
    ONE shared IEEE expression tree over identical integers, so both
    engines produce bit-identical unrounded doubles. No rounding
    anywhere.

    Scale shape: a single global aggregate with conditional partials
    (FILTER / when) — map-side combine reduces the shuffle to one
    6-number row per task regardless of input size. The same shape
    GROUPs BY experiment_id for thousands of concurrent tests."""
    x100 = F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
    is_a = F.col("event_type") == "purchase"
    is_b = F.col("event_type") == "view"
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .agg(
            F.count(F.when(is_a, 1)).cast("bigint").alias("n_a"),
            F.sum(F.when(is_a, x100)).cast("bigint").alias("sx_a"),
            F.sum(F.when(is_a, x100 * x100)).cast("bigint").alias("sxx_a"),
            F.count(F.when(is_b, 1)).cast("bigint").alias("n_b"),
            F.sum(F.when(is_b, x100)).cast("bigint").alias("sx_b"),
            F.sum(F.when(is_b, x100 * x100)).cast("bigint").alias("sxx_b"),
        )
    )
    # ONE shared IEEE tree, mirrored token-for-token in the oracle.
    t_expr = (
        "((CAST(sx_a AS DOUBLE) / 100.0) / n_a - (CAST(sx_b AS DOUBLE) / 100.0) / n_b) / sqrt("
        "((CAST(sxx_a AS DOUBLE) / 10000.0 - (CAST(sx_a AS DOUBLE) / 100.0) * (CAST(sx_a AS DOUBLE) / 100.0) / n_a) / (n_a - 1)) / n_a"
        " + ((CAST(sxx_b AS DOUBLE) / 10000.0 - (CAST(sx_b AS DOUBLE) / 100.0) * (CAST(sx_b AS DOUBLE) / 100.0) / n_b) / (n_b - 1)) / n_b"
        ")"
    )
    return s.select(
        "n_a",
        "n_b",
        F.expr("(CAST(sx_a AS DOUBLE) / 100.0) / n_a").alias("mean_a"),
        F.expr("(CAST(sx_b AS DOUBLE) / 100.0) / n_b").alias("mean_b"),
        F.expr(t_expr).alias("t_stat"),
    )


#: d23 — equi-depth bucket count.
EQD_BUCKETS = 10


@register(
    "d23_hist_equidepth",
    oracle=f"""
    WITH ranked AS (
      SELECT value,
             row_number() OVER (ORDER BY value, event_id) AS rn,
             count(*) OVER () AS n
      FROM events
    )
    SELECT CAST((rn - 1) * {EQD_BUCKETS} // n + 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(value) AS lo, max(value) AS hi
    FROM ranked GROUP BY 1
    """,
    priority="P2",
)
def d23_hist_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram — the CBO's selectivity
    input and d18's complement: buckets hold equal ROW counts, so
    bucket edges ARE the distribution's quantiles. Bucket id is the
    floor rule (rn−1)·B DIV n + 1 over the total order
    (value, event_id) — deterministic, and exactly what both engines
    compute.

    Outputs are counts and min/max SELECTIONS of fixture doubles —
    no accumulation, no float hazard.

    Scale shape: the global rank routes through operators/rank.py's
    two-phase TeraSort ranker (range-partition → per-partition
    window + broadcast offsets) — NEVER a single-partition window
    over the fact table (the oracle's OVER () is DuckDB-local
    convenience, not the plan). n arrives as a 1-row broadcast. At
    100 TB this is how ANALYZE builds its histograms: one ranked
    pass, map-side bucket partials."""
    from hadoop_release_spark.operators.rank import global_row_number

    ev = table(spark, sf_dir, "events").select("value", "event_id")
    n = ev.agg(F.count("*").alias("n"))
    ranked = global_row_number(ev, ["value", "event_id"], "rn")
    return (
        ranked.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr(f"(rn - 1) * {EQD_BUCKETS} DIV n + 1")
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


#: d24 — cohort week length in µs (7 epoch-days).
_WEEK_US = 7 * 24 * 3600 * 1_000_000


@register(
    "d24_cohort_ltv",
    oracle=f"""
    WITH ev AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // {_WEEK_US}
               AS week,
             CAST(value AS DECIMAL(12,2)) AS v
      FROM events
    ), cohort AS (
      SELECT user_id, min(week) AS cw FROM ev GROUP BY user_id
    ), sizes AS (
      SELECT cw, CAST(count(*) AS BIGINT) AS cohort_users
      FROM cohort GROUP BY cw
    ), cells AS (
      SELECT c.cw, e.week - c.cw AS week_offset,
             CAST(sum(e.v) AS DECIMAL(25,8)) AS rev
      FROM ev e JOIN cohort c ON e.user_id = c.user_id
      GROUP BY 1, 2
    )
    SELECT cells.cw AS cohort_week, week_offset, sizes.cohort_users,
           CAST(round(sum(rev) OVER (
                  PARTITION BY cells.cw ORDER BY week_offset
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                AS DOUBLE) AS cum_revenue
    FROM cells JOIN sizes ON cells.cw = sizes.cw
    """,
    priority="P2",
)
def d24_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value — e13's retention triangle with revenue:
    users cohorted by first-event week, per-(cohort, week-offset)
    revenue accumulated into the running LTV curve, with cohort size
    alongside (consumers divide at render time; emitting the float
    quotient would violate the float rule for no information gain).

    Float rule: revenue sums accumulate in exact DECIMAL and the
    cumulative window sums DECIMALS (order-independent), rounded
    once at the edge — the e06 running-total discipline.

    Scale shape: the cohort week attaches to every event via a
    per-user window MIN — the SAME user_id exchange the event rows
    already need, with no fact-vs-rollup self-join and no lineage
    recomputation; the cell agg, cohort sizes, and the cumulative
    window then all run over rollup-sized inputs (|user-week| rows
    at most). The cumulative window partitions by cohort_week over
    ≤ |weeks| rows per cohort — grid-bounded, not data-bounded.
    Sizes join back is broadcast-scale (one row per cohort week)."""
    wu = Window.partitionBy("user_id")
    ev = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) DIV {_WEEK_US}").alias("week"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
        .withColumn("cw", F.min("week").over(wu))
    )
    sizes = (
        ev.select("user_id", "cw")
        .distinct()
        .groupBy("cw")
        .agg(F.count("*").cast("bigint").alias("cohort_users"))
    )
    cells = ev.groupBy(
        "cw", (F.col("week") - F.col("cw")).alias("week_offset")
    ).agg(F.sum("v").cast("decimal(25,8)").alias("rev"))
    wc = (
        Window.partitionBy("cw")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn(
            "cum_revenue", F.round(F.sum("rev").over(wc), 4).cast("double")
        )
        .join(F.broadcast(sizes), "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "week_offset",
            "cohort_users",
            "cum_revenue",
        )
    )


@register(
    "d25_mode_per_group",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY n DESC, event_type) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS mode_type, CAST(n AS BIGINT) AS n
    FROM ranked WHERE rn = 1
    """,
    priority="P2",
)
def d25_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key mode — the most frequent value per group (d13's
    min/max_by for FREQUENCY instead of an ordering column), with
    the deterministic tiebreak every mode needs (smallest value
    wins on equal counts; engines' native mode() leaves ties
    unspecified, so the contract builds it from count + rank).

    Scale shape: the (key, value) count agg is map-side-combined to
    ≤ |keys|×|domain| rows; the rank window then partitions by key
    over ≤ |domain| rows each — both stages share the user_id-prefix
    shuffle. At 100 TB with unbounded value domains the count table
    is the sketch boundary (swap in count-min top-k); the rank stage
    is domain-bounded either way."""
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("n").cast("bigint").alias("n"))
    )


@register(
    "d26_weighted_median",
    oracle="""
    WITH px AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ), pp AS (
      SELECT l_returnflag, cents, CAST(sum(qty) AS BIGINT) AS w
      FROM px GROUP BY l_returnflag, cents
    ), cum AS (
      SELECT l_returnflag, cents,
             CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents)
                  AS BIGINT) AS cumw,
             CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
      FROM pp
    )
    SELECT l_returnflag,
           CAST(min(cents) AS BIGINT) AS wmedian_cents,
           CAST(max(total) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cumw >= total
    GROUP BY l_returnflag
    """,
    priority="P2",
)
def d26_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower weighted median: the smallest
    value whose cumulative weight reaches half the total) — the
    robust centre a quantity-weighted price distribution needs,
    where d14's unweighted percentiles mislead. Entirely integer
    (price → cents bigint, quantity → bigint), so the answer is
    hash-exact with no float rule involved.

    Scale shape: one (flag, cents)-keyed partial-agg shuffle
    collapses duplicate prices BEFORE the window (the cum-weight
    window then runs over |distinct prices| rows per flag, not
    |lineitem|); the per-flag running sum parallelizes per flag
    group. No driver-side state, no sort of the raw fact table."""
    li = table(spark, sf_dir, "lineitem")
    px = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    pp = px.groupBy("l_returnflag", "cents").agg(F.sum("qty").alias("w"))
    w_cum = Window.partitionBy("l_returnflag").orderBy("cents")
    w_all = Window.partitionBy("l_returnflag")
    cum = pp.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("total"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("wmedian_cents"),
            F.max("total").alias("total_weight"),
        )
    )


#: d27 day grain (µs per day) — matches the e-family epoch-day grid.
_D27_DAY_US = 86_400_000_000


@register(
    "d27_entropy",
    oracle=f"""
    WITH per AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {_D27_DAY_US} AS day,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT day,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_types,
           round(ln(CAST(sum(n) AS DOUBLE))
                 - sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
                   / CAST(sum(n) AS DOUBLE), 6) + 0.0 AS entropy_nats
    FROM per GROUP BY day
    """,
    priority="P2",
)
def d27_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the daily event-type mix — the standard
    drift/diversity monitor for an event stream (a collapsed-entropy
    day = one event type dominating). Computed from integer
    sufficient statistics via the algebraic form
    H = ln(N) − Σ n·ln(n) / N, so both engines evaluate the same
    expression over identical bigints; the transcendental output is
    rounded to 6dp (libm-vs-Math noise ≈1e-15 ≪ the 5e-7 half-grid —
    the h11 rule; the Σ spans ≤|event types| terms, so accumulation
    order adds nothing).

    Scale shape: one (day, type) partial-agg shuffle (map-side
    combine collapses to ≤ days×types rows), then a days-sized
    re-agg. No window, no raw-row shuffle."""
    ev = table(spark, sf_dir, "events")
    from hadoop_release_spark.functions.contracts import r6

    per = ev.groupBy(
        # integer DIV, not float `/`+cast: a µs value 1 below a day
        # boundary divides to within 6e-22 of the next integer, which
        # double rounding would flip across the boundary
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {_D27_DAY_US}").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    nd = F.col("n").cast("double")
    return per.groupBy("day").agg(
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sum(nd * F.log(nd)).alias("_s"),
    ).select(
        "day",
        "n_events",
        "n_types",
        r6(
            F.log(F.col("n_events").cast("double"))
            - F.col("_s") / F.col("n_events").cast("double")
        ).alias("entropy_nats"),
    )


@register(
    "d28_gini",
    oracle="""
    WITH cents AS (
      SELECT c.c_mktsegment AS segment,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS x,
             o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), ranked AS (
      SELECT segment, x,
             row_number() OVER (PARTITION BY segment
                                ORDER BY x, o_orderkey) AS i,
             count(*)  OVER (PARTITION BY segment) AS n,
             sum(x)    OVER (PARTITION BY segment) AS s
      FROM cents
    ), sums AS (
      SELECT segment,
             CAST(max(n) AS BIGINT) AS n,
             CAST(max(s) AS BIGINT) AS s,
             CAST(sum(i * x) AS BIGINT) AS ws
      FROM ranked GROUP BY segment
    )
    SELECT segment, n AS n_orders,
           (CAST(2 * ws - (n + 1) * s AS DOUBLE)
            / CAST(n * s AS DOUBLE)) AS gini
    FROM sums
    """,
    priority="P2",
)
def d28_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration per market segment —
    the inequality/concentration profile (0 = uniform spend, →1 =
    one whale). Uses the rank formula
    G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over ascending-sorted
    integer cents: every sufficient statistic is an exact bigint
    (Σ i·x bounded ≈ n²·x̄ ≪ 2^63 at fixture scale; at 100 TB the
    same stats ride as DECIMAL(38,0)), and the final value is ONE
    bigint-ratio IEEE division — bit-identical, no rounding (the e04
    rule). Ties are position-summed, so row_number's tie order
    cannot change Σ i·x (equal x across the tied positions).

    Scale shape: one join shuffle (orders⋈customer), one window
    partitioning by segment shared by rank/count/sum, then a
    segment-sized agg."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cents = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("x"),
        "o_orderkey",
    )
    w_all = Window.partitionBy("segment")
    w_ord = Window.partitionBy("segment").orderBy("x", "o_orderkey")
    ranked = cents.select(
        "segment",
        "x",
        F.row_number().over(w_ord).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.sum("x").over(w_all).alias("s"),
    )
    sums = ranked.groupBy("segment").agg(
        F.max("n").cast("long").alias("n"),
        F.max("s").cast("long").alias("s"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("ws"),
    )
    return sums.select(
        "segment",
        F.col("n").alias("n_orders"),
        (
            (2 * F.col("ws") - (F.col("n") + 1) * F.col("s")).cast("double")
            / (F.col("n") * F.col("s")).cast("double")
        ).alias("gini"),
    )


@register(
    "d29_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey,
             CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                                 AS DECIMAL(18,4)) * 10000 AS BIGINT))
                  AS BIGINT) AS rev_e4
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey
    ), tot AS (
      SELECT CAST(sum(rev_e4) AS BIGINT) AS total_e4 FROM rev
    )
    SELECT r.s_nationkey, r.rev_e4,
           (CAST(r.rev_e4 AS DOUBLE) / CAST(t.total_e4 AS DOUBLE))
             AS rev_share
    FROM rev r CROSS JOIN tot t
    """,
    priority="P2",
)
def d29_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution per supplier nation (the classic
    RATIO_TO_REPORT / ratio-to-report OLAP function): net revenue as
    a share of the grand total. Revenue rides as exact 4dp-scaled
    bigints (price 2dp × (1−discount) 2dp = 4 true dp — the d22
    decimal-transport rule), and the share is ONE bigint-ratio IEEE
    division — bit-identical, no rounding (the e04 rule).

    Scale shape: the grand total is a 1-row aggregate of the
    25-row per-nation rollup, CROSS-JOINED back broadcast-style —
    NEVER a partition-less window over the fact table (which would
    collapse to a single task; the a14 stats-broadcast pattern).
    One (nation) agg shuffle with map-side partials; supplier
    broadcasts into the fact scan."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    rev4 = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(18,4)")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.sum((rev4 * 10000).cast("long")).cast("long").alias("rev_e4"))
    )
    tot = rev.agg(F.sum("rev_e4").cast("long").alias("total_e4"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "s_nationkey",
        "rev_e4",
        (F.col("rev_e4").cast("double") / F.col("total_e4").cast("double")).alias(
            "rev_share"
        ),
    )


@register(
    "d30_corr_matrix",
    oracle="""
    WITH m AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
             CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d
      FROM lineitem
    ), s AS (
      SELECT count(*) AS n,
             sum(CAST(q AS HUGEINT)) AS sq, sum(CAST(p AS HUGEINT)) AS sp,
             sum(CAST(d AS HUGEINT)) AS sd,
             sum(CAST(q*q AS HUGEINT)) AS sqq, sum(CAST(p*p AS HUGEINT)) AS spp,
             sum(CAST(d*d AS HUGEINT)) AS sdd,
             sum(CAST(q*p AS HUGEINT)) AS sqp, sum(CAST(q*d AS HUGEINT)) AS sqd,
             sum(CAST(d*p AS HUGEINT)) AS sdp
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
      round(CAST(n*sqp - sq*sp AS DOUBLE)
            / sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
            / sqrt(CAST(n*spp - sp*sp AS DOUBLE)), 6) + 0.0 AS corr_qty_price,
      round(CAST(n*sqd - sq*sd AS DOUBLE)
            / sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
            / sqrt(CAST(n*sdd - sd*sd AS DOUBLE)), 6) + 0.0 AS corr_qty_disc,
      round(CAST(n*sdp - sd*sp AS DOUBLE)
            / sqrt(CAST(n*sdd - sd*sd AS DOUBLE))
            / sqrt(CAST(n*spp - sp*sp AS DOUBLE)), 6) + 0.0 AS corr_disc_price
    FROM s
    """,
    priority="P2",
)
def d30_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the lineitem measures
    (quantity, extendedprice, discount) — the one-pass statistical
    profiling primitive (d12 gives per-column moments; this gives the
    cross-column structure a feature-drift monitor needs).

    Exactness: every measure is a 2dp fixture double recovered to an
    exact integer (cents / e2 units — the d28 rule), and ALL nine
    sufficient statistics (Sx, Sxx, Sxy) accumulate as exact
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — integer addition is
    order-free, so the shuffle's reduction order cannot perturb a
    bit. The corr formula n·Sxy−Sx·Sy over exact integers is formed
    in decimal, cast ONCE to double, and finished with IEEE
    division/sqrt — identical expression tree in both engines;
    output r6-rounded (the h11 transcendental rule covers the final
    float ops' ±1 ulp).

    Scale shape: ONE global partial+final aggregate — map-side
    combine collapses every task to a single 10-number row, so the
    shuffle carries #tasks rows regardless of table size. No window,
    no join, no second pass (vs the naive corr-per-pair which would
    rescan the fact table three times)."""
    li = table(spark, sf_dir, "lineitem")
    m = li.select(
        (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("long").alias("q"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").alias("p"),
        (F.col("l_discount").cast("decimal(4,2)") * 100).cast("long").alias("d"),
    )
    DEC = "decimal(38,0)"

    def s(expr, name):  # exact integer accumulation, order-free
        return F.sum(expr.cast(DEC)).alias(name)

    q, p, d = F.col("q"), F.col("p"), F.col("d")
    stats = m.agg(
        F.count("*").cast(DEC).alias("n"),
        s(q, "sq"), s(p, "sp"), s(d, "sd"),
        s(q * q, "sqq"), s(p * p, "spp"), s(d * d, "sdd"),
        s(q * p, "sqp"), s(q * d, "sqd"), s(d * p, "sdp"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        num = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        dx = F.sqrt((n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double"))
        dy = F.sqrt((n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double"))
        return F.round(num / dx / dy, 6)

    return stats.select(
        F.col("n").cast("long").alias("n_rows"),
        corr("sqp", "sq", "sp", "sqq", "spp").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_disc"),
        corr("sdp", "sd", "sp", "sdd", "spp").alias("corr_disc_price"),
    )


@register(
    "d31_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                      * 100 AS BIGINT) AS VARCHAR),
                            1, 1) AS INTEGER) AS digit
      FROM orders
    ), counts AS (
      SELECT digit, count(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
    SELECT digit, CAST(n AS BIGINT) AS n_orders,
      round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS observed_share,
      round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
        AS benford_share,
      round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
            - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6) + 0.0
        AS deviation
    FROM counts CROSS JOIN tot
    """,
    priority="P2",
)
def d31_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit profile of o_totalprice — the
    classic data-quality / synthetic-data / fraud screen (a natural
    multiplicative amount follows P(d)=log10(1+1/d); a generator
    artifact shows up as a digit bump — visibly present in this
    fixture's digit-4 spike).

    Exactness: the leading significant digit is taken from the exact
    integer cents via substring of its decimal rendering — NO
    float log10 near a power-of-ten boundary (where a 1-ulp error
    flips the digit); ×100 shifts but never changes the leading
    significant digit. Shares are bigint-ratio IEEE divisions (e04
    rule) and the Benford reference ln-form is r6-rounded (h11).

    Scale shape: digit extraction is a per-row projection fused into
    the scan; ONE partial+final agg to 9 rows; the grand total is a
    single-row aggregate of those 9 CROSS-JOINED back
    broadcast-style (the d29 pattern — never a partition-less
    window)."""
    o = table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    counts = (
        o.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("long").alias("t"))
    obs = F.col("n").cast("double") / F.col("t").cast("double")
    ben = F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(F.lit(10.0))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n_orders"),
        F.round(obs, 6).alias("observed_share"),
        F.round(ben, 6).alias("benford_share"),
        F.round(obs - ben, 6).alias("deviation"),
    )


@register(
    "d32_ks_test",
    oracle="""
    WITH s AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is1
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents, CAST(sum(is1) AS BIGINT) AS a,
             CAST(sum(1 - is1) AS BIGINT) AS b
      FROM s GROUP BY cents
    ), cum AS (
      SELECT cents,
             sum(a) OVER (ORDER BY cents) AS c1,
             sum(b) OVER (ORDER BY cents) AS c2
      FROM per
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2
      FROM per
    ), disc AS (
      -- HUGEINT accumulation: the cross products overflow BIGINT once
      -- N1*N2 nears 2^63; the final CAST back to BIGINT is DuckDB's
      -- loud out-of-range error, never a silent wrap (mirrors the
      -- Spark side's decimal(38,0) + raise_error guard).
      SELECT cents,
             CAST(abs(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                  AS BIGINT) AS dnum
      FROM cum CROSS JOIN tot
    ), mx AS (
      SELECT CAST(max(dnum) AS BIGINT) AS d_num FROM disc
    )
    SELECT t.n1, t.n2, m.d_num,
           CAST(m.d_num AS DOUBLE)
             / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)) AS d_stat,
           (SELECT min(cents) FROM disc WHERE dnum = m.d_num) AS d_at_cents
    FROM tot t CROSS JOIN mx m
    """,
    priority="P2",
)
def d32_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic (finalized 'F' vs open
    'O' order totals) — the DISTRIBUTION-level A/B comparison (d22's
    Welch t-test sees only means; KS sees any ECDF divergence). The
    statistic is exact rational arithmetic end-to-end:
    D = max_v |c1(v)·N2 − c2(v)·N1| / (N1·N2) over pooled distinct
    cents, so both engines take the max of IDENTICAL bigints and the
    only float is the final single IEEE division (e04 rule);
    d_at_cents (smallest value attaining the max) pins the argmax
    deterministically.

    Scale shape: one shuffle collapses the pool to distinct values
    with per-sample counts; BOTH cumulative counts ride ONE
    range-partitioned two-phase prefix sum each (operators/rank.py —
    never a partition-less running window); the three 1-row
    reductions (totals, max, argmin) cross-join back broadcast-style
    (d29 pattern, O(1) rows). The cross products ACCUMULATE in
    decimal(38,0) (DuckDB: HUGEINT) — c1·N2 overflows bigint once
    N1·N2 nears 2^63, i.e. ~3B rows per sample, well inside 100 TB —
    and only the final result narrows back to bigint behind a
    raise_error guard, so overflow fails loudly instead of wrapping
    (advisor find). The N1·N2 denominator of d_stat is computed as
    double×double on both engines (IEEE-identical; it is a float
    statistic either way)."""
    from hadoop_release_spark.operators.rank import global_prefix_sums

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    is1 = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    per = (
        o.select(cents.alias("cents"), is1.alias("is1"))
        .groupBy("cents")
        .agg(
            F.sum("is1").cast("long").alias("a"),
            F.sum(1 - F.col("is1")).cast("long").alias("b"),
        )
    )
    # per feeds four downstream consumers (two prefix-sum passes, the
    # totals row, and through them disc twice more); persist once so
    # the pooled-distinct aggregation runs a single time.
    per = persist(per)
    # ONE range-partitioned pass carries BOTH cumulative counts
    # (global_prefix_sums amortizes the sampling/sort across series).
    cum = global_prefix_sums(per, ["cents"], ["a", "b"], ["c1x", "c2x"])
    cum = cum.select(
        "cents",
        "a",
        "b",
        (F.col("c1x") + F.col("a")).alias("c1"),  # exclusive → inclusive
        (F.col("c2x") + F.col("b")).alias("c2"),
    )
    tot = per.agg(
        F.sum("a").cast("long").alias("n1"), F.sum("b").cast("long").alias("n2")
    )
    # decimal(19,0)×decimal(19,0) → decimal(38,0) products; the
    # difference stays decimal(38,0) (|c1·N2 − c2·N1| ≤ N1·N2 < 1e38).
    # Narrow back to the contract's bigint behind a loud guard — a
    # bare cast would wrap/null silently under non-ANSI mode.
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    dnum_dec = F.abs(dec("c1") * dec("n2") - dec("c2") * dec("n1"))
    disc = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "n1",
        "n2",
        F.when(
            dnum_dec > F.lit("9223372036854775807").cast("decimal(38,0)"),
            F.raise_error(
                F.lit("d32_ks_test: |c1*n2 - c2*n1| exceeds bigint; "
                      "widen the output column to decimal(38,0)")
            ).cast("long"),
        )
        .otherwise(dnum_dec.cast("long"))
        .alias("dnum"),
    )
    # disc feeds the max row, the argmin row, and nothing else —
    # persist so the prefix-sum lineage is not replayed per reduction.
    disc = persist(disc)
    mx = disc.agg(F.max("dnum").cast("long").alias("d_num"))
    at = (
        disc.join(F.broadcast(mx), disc.dnum == mx.d_num)
        .agg(F.min("cents").alias("d_at_cents"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            "n1",
            "n2",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("d_stat"),
            "d_at_cents",
        )
    )


@register(
    "d33_chi_square",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS obs
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY seg, pri
    ), rt AS (
      SELECT seg, CAST(sum(obs) AS BIGINT) AS rtot FROM cells GROUP BY seg
    ), ct AS (
      SELECT pri, CAST(sum(obs) AS BIGINT) AS ctot FROM cells GROUP BY pri
    ), tot AS (
      SELECT CAST(sum(obs) AS BIGINT) AS n,
             count(DISTINCT seg) AS nr, count(DISTINCT pri) AS nc
      FROM cells
    ), dense AS (
      -- the FULL nr x nc grid: unobserved cells are REAL zero cells
      SELECT rt.seg, ct.pri, rt.rtot, ct.ctot,
             COALESCE(c2.obs, 0) AS obs
      FROM rt CROSS JOIN ct
      LEFT JOIN cells c2 ON c2.seg = rt.seg AND c2.pri = ct.pri
    ), terms AS (
      SELECT CAST((CAST(obs AS HUGEINT) * n - CAST(rtot AS HUGEINT) * ctot)
                  * (CAST(obs AS HUGEINT) * n - CAST(rtot AS HUGEINT) * ctot)
                  AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * rtot * ctot AS DOUBLE) AS term,
             n, nr, nc
      FROM dense CROSS JOIN tot
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
           round(sum(term), 6) AS chi2,
           CASE WHEN least(max(nr) - 1, max(nc) - 1) > 0
                THEN round(sqrt(sum(term)
                           / (CAST(max(n) AS DOUBLE)
                              * least(max(nr) - 1, max(nc) - 1))), 6)
           END AS cramers_v
    FROM terms
    """,
    priority="P2",
)
def d33_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the market-segment ×
    order-priority contingency table (+ Cramér's V effect size) —
    the CATEGORICAL member of the stats suite (d22 Welch-t compares
    means, d32 KS compares continuous distributions, this tests
    association between two categorical fields — the feature-
    independence screen). Each cell term is
    (obs·N − rt·ct)² / (N·rt·ct) with numerator and denominator
    formed EXACTLY in decimal(38,0)/HUGEINT (the obs·N products
    overflow bigint at cluster row counts), ONE cast to double per
    cell, and a 25-term float sum — r6-rounded (the d27 rule: the
    Σ spans ≤|cells| terms).

    Scale shape: one fact join + ONE (seg, pri) partial+final agg
    collapses everything to |cells| rows; row/col totals are
    cells-sized re-aggs joined back (planner-chosen broadcast at 5
    rows); the grand-total row is a single-row broadcast (d29
    pattern). The fact table is touched exactly once."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").cast("long").alias("obs"))
    )
    rt = cells.groupBy("seg").agg(F.sum("obs").cast("long").alias("rtot"))
    ct = cells.groupBy("pri").agg(F.sum("obs").cast("long").alias("ctot"))
    tot = cells.agg(
        F.sum("obs").cast("long").alias("n"),
        F.countDistinct("seg").alias("nr"),
        F.countDistinct("pri").alias("nc"),
    )
    DEC = "decimal(38,0)"
    # the FULL grid: an unobserved (seg, pri) combination is a REAL
    # zero cell and contributes (rt*ct)^2/(N*rt*ct) — dropping it
    # understates chi2 (caught by the hypothesis property test).
    dense = (
        rt.crossJoin(F.broadcast(ct))
        .join(cells, ["seg", "pri"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
    )
    num = (
        F.col("obs").cast(DEC) * F.col("n") - F.col("rtot").cast(DEC) * F.col("ctot")
    )
    den = F.col("n").cast(DEC) * F.col("rtot") * F.col("ctot")
    terms = dense.crossJoin(F.broadcast(tot)).select(
        ((num * num).cast("double") / den.cast("double")).alias("term"),
        "n",
        "nr",
        "nc",
    )
    chi2 = F.sum("term")
    mn = F.least(F.max("nr") - 1, F.max("nc") - 1)
    return terms.agg(
        F.max("n").cast("long").alias("n"),
        ((F.max("nr") - 1) * (F.max("nc") - 1)).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        # a 1×k table has no association dimension: NULL, never a
        # divide-by-zero (ANSI mode aborts the task otherwise)
        F.when(
            mn > 0, F.round(F.sqrt(chi2 / (F.max("n").cast("double") * mn)), 6)
        ).alias("cramers_v"),
    )


@register(
    "d34_mad",
    oracle="""
    WITH px AS (
      SELECT o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ), pp AS (
      SELECT o_orderstatus, cents, CAST(count(*) AS BIGINT) AS w
      FROM px GROUP BY o_orderstatus, cents
    ), cum AS (
      SELECT o_orderstatus, cents,
             sum(w) OVER (PARTITION BY o_orderstatus ORDER BY cents) AS cumw,
             sum(w) OVER (PARTITION BY o_orderstatus) AS total
      FROM pp
    ), med AS (
      SELECT o_orderstatus, CAST(min(cents) AS BIGINT) AS median_cents,
             CAST(max(total) AS BIGINT) AS n
      FROM cum WHERE 2 * cumw >= total GROUP BY o_orderstatus
    ), dev AS (
      SELECT p.o_orderstatus, abs(p.cents - m.median_cents) AS adev,
             CAST(sum(p.w) AS BIGINT) AS w
      FROM pp p JOIN med m USING (o_orderstatus)
      GROUP BY p.o_orderstatus, abs(p.cents - m.median_cents)
    ), dcum AS (
      SELECT o_orderstatus, adev,
             sum(w) OVER (PARTITION BY o_orderstatus ORDER BY adev) AS cumw,
             sum(w) OVER (PARTITION BY o_orderstatus) AS total
      FROM dev
    ), mad AS (
      SELECT o_orderstatus, CAST(min(adev) AS BIGINT) AS mad_cents
      FROM dcum WHERE 2 * cumw >= total GROUP BY o_orderstatus
    )
    SELECT m.o_orderstatus, m.median_cents, d.mad_cents, m.n
    FROM med m JOIN mad d USING (o_orderstatus)
    """,
    priority="P2",
)
def d34_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per order status — the robust
    dispersion partner of d26's robust centre (stddev (d12) explodes
    on one bad point; MAD's breakdown point is 50%). Lower-median
    convention on BOTH levels (value median, then deviation median),
    entirely integer cents — hash-exact, no float rule.

    Scale shape: the same distinct-value compression as d26 at both
    levels — the cum-weight windows run over |distinct cents| (then
    |distinct deviations|) per group, never raw orders; the
    statuses-sized median table broadcasts back for the deviation
    re-key. Two narrow window stages + one broadcast join; the raw
    fact table is scanned once."""
    o = table(spark, sf_dir, "orders")
    px = o.select(
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    pp = px.groupBy("o_orderstatus", "cents").agg(
        F.count("*").cast("long").alias("w")
    )
    # pp feeds the median pass AND the deviation re-key; persist so
    # the (status, cents) compression shuffle runs once.
    pp = persist(pp)

    def lower_median(df, val_col, out_name):
        w_cum = Window.partitionBy("o_orderstatus").orderBy(val_col)
        w_all = Window.partitionBy("o_orderstatus")
        cum = df.select(
            "o_orderstatus",
            val_col,
            F.sum("w").over(w_cum).alias("cumw"),
            F.sum("w").over(w_all).alias("total"),
        )
        return (
            cum.filter(2 * F.col("cumw") >= F.col("total"))
            .groupBy("o_orderstatus")
            .agg(
                F.min(val_col).alias(out_name),
                F.max("total").cast("long").alias("__total"),
            )
        )

    med = lower_median(pp, "cents", "median_cents").withColumnRenamed(
        "__total", "n"
    )
    dev = (
        pp.join(F.broadcast(med.select("o_orderstatus", "median_cents")), "o_orderstatus")
        .select(
            "o_orderstatus",
            F.abs(F.col("cents") - F.col("median_cents")).alias("adev"),
            "w",
        )
        .groupBy("o_orderstatus", "adev")
        .agg(F.sum("w").alias("w"))
    )
    mad = lower_median(dev, "adev", "mad_cents").drop("__total")
    return med.join(mad, "o_orderstatus").select(
        "o_orderstatus", "median_cents", "mad_cents", "n"
    )


#: d36 winsorization bounds: clamp at the exact lower 5th / 95th
#: percentile (smallest value whose cumulative count reaches the
#: rank — the d26 lower-median rule generalized to any quantile).
_D36_LO_TWENTIETHS = 1   # p05 = 1/20
_D36_HI_TWENTIETHS = 19  # p95 = 19/20


@register(
    "d36_winsorized_mean",
    oracle=f"""
    WITH px AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM lineitem
    ), pp AS (
      SELECT l_returnflag, cents, CAST(count(*) AS BIGINT) AS w
      FROM px GROUP BY l_returnflag, cents
    ), cum AS (
      SELECT l_returnflag, cents,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cumw,
             sum(w) OVER (PARTITION BY l_returnflag) AS total
      FROM pp
    ), bounds AS (
      SELECT l_returnflag,
             min(CASE WHEN cumw * 20 >= total * {_D36_LO_TWENTIETHS}
                      THEN cents END) AS lo,
             min(CASE WHEN cumw * 20 >= total * {_D36_HI_TWENTIETHS}
                      THEN cents END) AS hi
      FROM cum GROUP BY l_returnflag
    )
    SELECT p.l_returnflag, b.lo AS lo_cents, b.hi AS hi_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(least(greatest(p.cents, b.lo), b.hi)) AS BIGINT)
             AS wins_sum_cents,
           CAST(sum(least(greatest(p.cents, b.lo), b.hi)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS wins_mean_cents
    FROM px p JOIN bounds b USING (l_returnflag)
    GROUP BY p.l_returnflag, b.lo, b.hi
    """,
    priority="P2",
)
def d36_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag — the robust-mean standard:
    clamp every price into the exact [p05, p95] band, then average
    (unlike trimming, every row still counts, so totals reconcile).
    Percentile bounds use the d26 lower-quantile rule (smallest
    value whose cumulative count reaches the rank) in pure integer
    arithmetic — cumw·20 ≥ total·k avoids any division; the clamped
    sum is an exact bigint, the mean one IEEE division.

    Scale shape: bounds ride the d26 distinct-value compression
    (window over |distinct cents| per flag, not |lineitem|); the
    flag-count bounds table broadcasts back onto the ORIGINAL scan
    for the clamp+sum partial+final agg. Two fact scans total —
    trading a scan for never shuffling raw rows; at 100 TB the
    second scan re-reads pruned columns only (flag, cents)."""
    li = table(spark, sf_dir, "lineitem")
    px = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    pp = px.groupBy("l_returnflag", "cents").agg(
        F.count("*").cast("long").alias("w")
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy("cents")
    w_all = Window.partitionBy("l_returnflag")
    cum = pp.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("total"),
    )
    bounds = cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(
                F.col("cumw") * 20 >= F.col("total") * _D36_LO_TWENTIETHS,
                F.col("cents"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cumw") * 20 >= F.col("total") * _D36_HI_TWENTIETHS,
                F.col("cents"),
            )
        ).alias("hi"),
    )
    clamped = px.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "lo",
        "hi",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")).alias(
            "c"
        ),
    )
    return (
        clamped.groupBy("l_returnflag", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("c").cast("long").alias("wins_sum_cents"),
        )
        .select(
            "l_returnflag",
            F.col("lo").alias("lo_cents"),
            F.col("hi").alias("hi_cents"),
            "n",
            "wins_sum_cents",
            (
                F.col("wins_sum_cents").cast("double")
                / F.col("n").cast("double")
            ).alias("wins_mean_cents"),
        )
    )


@register(
    "d35_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is1
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), per AS (
      SELECT cents, CAST(sum(is1) AS BIGINT) AS a,
             CAST(sum(1 - is1) AS BIGINT) AS b
      FROM s GROUP BY cents
    ), cum AS (
      SELECT cents, a, b,
             coalesce(sum(a + b) OVER (ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cumx
      FROM per
    ), agg AS (
      -- HUGEINT accumulation (the d32 rule): rank products overflow
      -- BIGINT once n1*2n nears 2^63; narrow back loudly at the end.
      SELECT CAST(sum(a) AS BIGINT) AS n1,
             CAST(sum(b) AS BIGINT) AS n2,
             sum(CAST(a AS HUGEINT) * (2 * cumx + a + b + 1)) AS r1_x2,
             sum(CAST(a + b AS HUGEINT) * (a + b) * (a + b)
                 - (a + b)) AS tie_t
      FROM cum
    ), named AS (
      SELECT n1, n2,
             CAST(r1_x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
             CAST(tie_t AS BIGINT) AS tie_t,
             (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
             * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                - CAST(CAST(tie_t AS BIGINT) AS DOUBLE)
                  / (CAST(n1 + n2 AS DOUBLE)
                     * (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS var_d
      FROM agg
    )
    SELECT n1, n2, u1_x2, tie_t,
           CASE WHEN var_d > 0 THEN
             (CAST(u1_x2 AS DOUBLE)
              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             / (2.0 * sqrt(var_d))
           END AS z_stat
    FROM named
    """,
    priority="P2",
)
def d35_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test (finalized 'F' vs open 'O' order totals) —
    the NONPARAMETRIC A/B readout completing the testing suite: d22
    compares means (assumes moments), d32 compares whole ECDFs, d35
    ranks — robust to outliers and any monotone transform. Midranks
    handle ties via the ×2 trick: 2·midrank(v) = 2·cum_before + w + 1
    stays integral, so 2R1, 2U1 = 2R1 − n1(n1+1), and the tie term
    T = Σ(w³−w) are EXACT integers on both engines; z (normal
    approximation with tie-corrected variance) is one shared IEEE
    expression tree over those integers (the d22 rule — no rounding
    anywhere).

    Scale shape: distinct-value compression first (one shuffle to
    |distinct cents| rows), then ONE range-partitioned two-phase
    prefix sum (operators/rank.py, never a partition-less window)
    and a single global agg with map-side combine. Rank products
    accumulate in decimal(38,0) (DuckDB HUGEINT) and narrow back to
    bigint behind a loud raise_error guard (the d32 overflow rule:
    n1·2n nears 2^63 at ~2e9 rows per arm)."""
    from hadoop_release_spark.operators.rank import global_prefix_sums

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    is1 = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    per = (
        o.select(cents.alias("cents"), is1.alias("is1"))
        .groupBy("cents")
        .agg(
            F.sum("is1").cast("long").alias("a"),
            F.sum(1 - F.col("is1")).cast("long").alias("b"),
        )
    )
    cum = global_prefix_sums(per, ["cents"], ["a", "b"], ["c1x", "c2x"])
    w = F.col("a") + F.col("b")
    dec19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    agg = cum.select(
        "a",
        "b",
        (2 * (F.col("c1x") + F.col("c2x")) + w + 1).alias("rank_x2"),
    ).agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
        F.sum(dec19(F.col("a")) * F.col("rank_x2")).alias("r1_x2"),
        F.sum(dec19(F.col("a") + F.col("b")) * (F.col("a") + F.col("b"))
              * (F.col("a") + F.col("b")) - (F.col("a") + F.col("b"))
              ).alias("tie_t_dec"),
    )
    big = F.lit("9223372036854775807").cast("decimal(38,0)")
    guard = lambda c, what: F.when(  # noqa: E731
        F.abs(c) > big,
        F.raise_error(
            F.lit(f"d35_mann_whitney: {what} exceeds bigint; widen to decimal(38,0)")
        ).cast("long"),
    ).otherwise(c.cast("long"))
    stats = agg.select(
        "n1",
        "n2",
        guard(
            F.col("r1_x2")
            - dec19(F.col("n1")) * (F.col("n1") + 1),
            "2*U1",
        ).alias("u1_x2"),
        guard(F.col("tie_t_dec"), "tie term").alias("tie_t"),
    )
    # ONE shared IEEE tree, mirrored token-for-token in the oracle.
    # z is NULL for the degenerate all-tied pool (variance 0): a 0/0
    # there is a loud ANSI error on Spark and NaN on DuckDB — neither
    # is the statistic.
    var_expr = (
        "(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0D)"
        " * ((CAST(n1 + n2 AS DOUBLE) + 1.0D)"
        " - CAST(tie_t AS DOUBLE)"
        " / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0D)))"
    )
    named = stats.withColumn("var_d", F.expr(var_expr))
    z_expr = (
        "CASE WHEN var_d > 0 THEN"
        " (CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
        " / (2.0D * sqrt(var_d)) END"
    )
    return named.select(
        "n1", "n2", "u1_x2", "tie_t", F.expr(z_expr).alias("z_stat")
    )


#: d37 Poisson bootstrap: B replicas; per (row, replica) the weight
#: is Poisson(1)-distributed, derived from a 32-bit md5 integer via
#: the inverse CDF with FIXED integer thresholds (truncated at 8 —
#: P(w>8) < 1e-6 is part of the defined semantics). _D37_THRESH[k] =
#: floor(2^32 · P(W ≤ k)); w = #{k : u ≥ T_k}.
_D37_B = 100
import math as _math  # noqa: E402

_D37_THRESH = []
_acc = 0.0
_pk = _math.exp(-1.0)
for _k in range(9):
    _acc += _pk
    _D37_THRESH.append(int(_acc * 2**32))
    _pk /= _k + 1
del _acc, _pk, _k


def _o_d37() -> str:
    w_sql = " + ".join(
        f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in _D37_THRESH
    )
    return f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ), point AS (
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS s
      FROM base GROUP BY o_orderstatus
    ), drawn AS (
      -- One md5 yields FOUR independent 32-bit draws (hex slices
      -- 1-8, 9-16, 17-24, 25-32): replica b reads slice b%4 of
      -- md5(key : b//4), quartering the per-row hash work.
      SELECT o_orderstatus, cents, b.b AS b,
             ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                    || CAST(b.b // 4 AS VARCHAR)),
                                1 + 8 * (b.b % 4), 8))::BIGINT
               AS u
      FROM base, unnest(range(0, {_D37_B})) AS b(b)
    ), weighted AS (
      SELECT o_orderstatus, b, cents, {w_sql} AS w FROM drawn
    ), rep AS (
      SELECT o_orderstatus, b,
             CAST(sum(cents * w) AS BIGINT) AS sb,
             CAST(sum(w) AS BIGINT) AS nb
      FROM weighted GROUP BY o_orderstatus, b
    ), means AS (
      SELECT o_orderstatus,
             CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS m,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY CAST(sb AS DOUBLE)
                                         / CAST(nb AS DOUBLE), b) AS rn
      FROM rep WHERE nb > 0
    ), ci AS (
      SELECT o_orderstatus,
             min(CASE WHEN rn = 3 THEN m END) AS ci_lo,
             min(CASE WHEN rn = {_D37_B - 2} THEN m END) AS ci_hi
      FROM means GROUP BY o_orderstatus
    )
    SELECT p.o_orderstatus, p.n_rows,
           CAST(p.s AS DOUBLE) / CAST(p.n_rows AS DOUBLE) AS point_mean,
           c.ci_lo, c.ci_hi
    FROM point p JOIN ci c ON p.o_orderstatus = c.o_orderstatus
    """


def _d37_grp_expr(base: DataFrame) -> DataFrame:
    """d37's (status, g) → 8 partial-sum columns via pure JVM
    expressions — the REFERENCE form (r8's hex-space binary-search
    CASE tree; see the kernel's docstring for the shared weight
    rule). One md5 yields FOUR independent 32-bit draws (hex
    slices), and ALL FOUR weights evaluate in ONE projection per
    (row, group) — no second explode: the agg input is N·25 rows
    (one per md5), not N·100, and the four replicas of a group ride
    as 8 partial aggregate columns (sb_j, nb_j). u ≥ T_k is
    evaluated in HEX-STRING space: md5 hex is fixed-width lowercase,
    and '0'-'9' < 'a'-'f' in ASCII, so lexicographic order on an
    8-char slice IS numeric order on the 32-bit value; the count
    #{k: u ≥ T_k} is a binary-search CASE tree over the ascending
    thresholds. The registered query runs :func:`_d37_grp_kernel`
    (bit-identical, measured 4× faster); this form is kept as the
    parity reference
    (tests/test_analytics_ops.py::test_d37_kernel_grp_equals_expression)."""

    def _slice_w(j: int):
        s = F.expr(f"substring(hex, {1 + 8 * j}, 8)")

        def rec(lo: int, hi: int):
            if lo >= hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(
                s >= format(_D37_THRESH[mid], "08x"), rec(mid + 1, hi)
            ).otherwise(rec(lo, mid))

        return rec(0, len(_D37_THRESH))

    drawn = (
        base.select(
            "o_orderkey",
            "o_orderstatus",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_D37_B // 4 - 1))).alias("g"),
        )
        .withColumn("hex", F.md5(F.concat_ws(":", "o_orderkey", "g")))
        .select(
            "o_orderstatus",
            "cents",
            "g",
            *[_slice_w(j).alias(f"w{j}") for j in range(4)],
        )
    )
    return drawn.groupBy("o_orderstatus", "g").agg(
        *[
            agg
            for j in range(4)
            for agg in (
                F.sum(F.col("cents") * F.col(f"w{j}")).cast("long").alias(f"sb{j}"),
                F.sum(f"w{j}").cast("long").alias(f"nb{j}"),
            )
        ]
    )


def _d37_grp_kernel(base: DataFrame) -> DataFrame:
    """d37's (status, g) → 8 partial-sum columns via an Arrow
    mapInPandas kernel — the hot path (r15). The md5 draws and the
    threshold counts were ~4.5 s of the ~5.5 s sf0.1 wall in the
    expression form (3.75M interpreted md5 + CASE evaluations);
    the kernel computes the identical integers per batch —
    u_j = big-endian uint32 of digest bytes [4j, 4j+4) (== the hex
    slice the expression form compares, numerically), w_j =
    np.searchsorted(T, u_j, side='right') (== #{k: u ≥ T_k} over the
    ascending thresholds — same ≥, same tie handling as the CASE
    tree) — and pre-aggregates each batch to (status, g) partial
    sums, so at most batches·statuses·25 slim rows cross the Arrow
    boundary and the downstream groupBy is exact integer addition in
    any order. Measured 5.58 → 1.41 s min at sf0.1, output
    bit-identical at sf0.01 AND sf0.1 (the parity pin re-checks the
    grp table element-for-element). The round-robin repartition
    fires ONLY when the scan has fewer partitions than cores (the
    local single-file case — the kernel is CPU-bound and a 1-task
    Python stage serializes it); at cluster scale the scan already
    carries ≥ cores partitions and no extra shuffle is paid.
    Weight-rule precondition shared with the oracle: o_orderkey and
    o_orderstatus are non-null (TPC-H contract — concat_ws and '%d:'
    agree on every non-null bigint)."""
    import numpy as np
    import pandas as pd

    thresh = [int(t) for t in _D37_THRESH]
    n_groups = _D37_B // 4

    def draw_weights(batches):
        import hashlib

        md5 = hashlib.md5
        t_arr = np.array(thresh, dtype=np.uint64)
        for pdf in batches:
            keys = pdf["o_orderkey"].to_numpy()
            status = pdf["o_orderstatus"].to_numpy()
            cents = pdf["cents"].to_numpy(np.int64)
            n = len(keys)
            if n == 0:
                continue
            buf = bytearray(n * n_groups * 16)
            mv = memoryview(buf)
            pos = 0
            for i in range(n):
                prefix = ("%d:" % keys[i]).encode()
                for g in range(n_groups):
                    mv[pos : pos + 16] = md5(
                        prefix + str(g).encode()
                    ).digest()
                    pos += 16
            arr = (
                np.frombuffer(bytes(buf), dtype=">u4")
                .astype(np.uint64)
                .reshape(n, n_groups, 4)
            )
            w = (
                np.searchsorted(t_arr, arr.ravel(), side="right")
                .reshape(n, n_groups, 4)
                .astype(np.int64)
            )
            out = []
            for st in pd.unique(status):
                m = status == st
                wst = w[m]
                sb = (cents[m, None, None] * wst).sum(axis=0)
                nb = wst.sum(axis=0)
                for g in range(n_groups):
                    out.append((st, g, *sb[g].tolist(), *nb[g].tolist()))
            yield pd.DataFrame(
                out,
                columns=[
                    "o_orderstatus",
                    "g",
                    "psb0",
                    "psb1",
                    "psb2",
                    "psb3",
                    "pnb0",
                    "pnb1",
                    "pnb2",
                    "pnb3",
                ],
            )

    spark = base.sparkSession
    src = base
    try:
        cores = spark.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < cores:
            src = base.repartition(cores)
    except Exception:
        pass
    part = src.mapInPandas(
        draw_weights,
        schema=(
            "o_orderstatus string, g int,"
            " psb0 long, psb1 long, psb2 long, psb3 long,"
            " pnb0 long, pnb1 long, pnb2 long, pnb3 long"
        ),
    )
    return part.groupBy("o_orderstatus", "g").agg(
        *[
            agg
            for j in range(4)
            for agg in (
                F.sum(f"psb{j}").cast("long").alias(f"sb{j}"),
                F.sum(f"pnb{j}").cast("long").alias(f"nb{j}"),
            )
        ]
    )


@register("d37_poisson_bootstrap", oracle=_o_d37(), priority="P2")
def d37_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean order
    value per status — THE resampling method that scales (Chamandy
    et al., Google 2012): classic bootstrap needs n draws per
    replica (a shuffle per replica); the Poisson approximation gives
    every (row, replica) an INDEPENDENT Poisson(1) weight, so all B
    replicas ride one map-side pass. Weights are deterministic rule-6
    integers: u = md5(orderkey:replica) 32-bit prefix, w = #{k: u ≥
    T_k} against fixed inverse-CDF thresholds — no RNG, both engines
    regenerate identical resamples. Replica means are exact-bigint
    sums with one IEEE division; the CI picks ranked replica means
    at positions 3 / B−2 (2.5%/97.5% lower-quantile rule, B=100),
    id-tie-broken.

    Scale shape: the ×B draw work multiplies CPU, NOT shuffle — the
    draws + threshold counts run in the _d37_grp_kernel Arrow batch
    kernel (r15; the r8 expression form stays as the parity
    reference in _d37_grp_expr), which pre-aggregates every batch to
    ≤ statuses·B/4 slim partial-sum rows before anything crosses the
    Python→JVM boundary or the ONE exchange; the replica grain is
    restored by a posexplode over the already-complete aggregate.
    The ranking window runs over B rows per status. The point mean
    re-reads the 2-column projection once (cheap vs. shipping it
    through the draws). This plan is identical at 100 TB: bootstrap
    cost = one extra CPU-bound scan, zero extra shuffle volume."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    point = base.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("s"),
    )
    grp = _d37_grp_kernel(base)
    rep = (
        grp.select(
            "o_orderstatus",
            "g",
            F.posexplode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"sb{j}").alias("sb"), F.col(f"nb{j}").alias("nb")
                        )
                        for j in range(4)
                    ]
                )
            ).alias("j", "x"),
        )
        .select(
            "o_orderstatus",
            (F.col("g") * 4 + F.col("j")).alias("b"),
            F.col("x.sb").alias("sb"),
            F.col("x.nb").alias("nb"),
        )
        .filter(F.col("nb") > 0)
    )
    m = F.col("sb").cast("double") / F.col("nb").cast("double")
    win = Window.partitionBy("o_orderstatus").orderBy(m, "b")
    means = rep.select(
        "o_orderstatus", m.alias("m"), F.row_number().over(win).alias("rn")
    )
    ci = means.groupBy("o_orderstatus").agg(
        F.min(F.when(F.col("rn") == 3, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == _D37_B - 2, F.col("m"))).alias("ci_hi"),
    )
    return point.join(ci, "o_orderstatus").select(
        "o_orderstatus",
        "n_rows",
        (F.col("s").cast("double") / F.col("n_rows").cast("double")).alias(
            "point_mean"
        ),
        "ci_lo",
        "ci_hi",
    )


#: d38: one day in epoch-microseconds (duration grid).
_D38_DAY_US = 86_400 * 1_000_000

#: Shared d38 (Kaplan–Meier) / d47 (Nelson–Aalen) oracle prefix:
#: per-user first-view → first-purchase durations with right
#: censoring at the horizon, grouped to the duration-day grid with
#: at-risk counts. One definition — the two survival estimators
#: cannot diverge on what "at risk" means.
_O_SURVIVAL_RISK = f"""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_us
      FROM events
    ), horizon AS (
      SELECT max(t_us) AS h_us FROM ev
    ), w AS (
      SELECT user_id, event_type, t_us,
             min(CASE WHEN event_type = 'view' THEN t_us END)
               OVER (PARTITION BY user_id) AS t0
      FROM ev
    ), users AS (
      SELECT user_id, min(t0) AS t0,
             min(CASE WHEN event_type = 'purchase' AND t_us >= t0
                      THEN t_us END) AS te
      FROM w WHERE t0 IS NOT NULL GROUP BY user_id
    ), durs AS (
      SELECT user_id,
             CASE WHEN u.te IS NOT NULL
                  THEN (u.te - u.t0) // {_D38_DAY_US}
                  ELSE (h.h_us - u.t0) // {_D38_DAY_US} END AS dur_days,
             CASE WHEN u.te IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM users u CROSS JOIN horizon h
    ), g AS (
      SELECT dur_days, CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(1 - ev) AS BIGINT) AS c
      FROM durs GROUP BY dur_days
    ), tot AS (
      SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM g
    ), risk AS (
      SELECT dur_days, d, c,
             t.n_total
             - coalesce(sum(d + c) OVER (ORDER BY dur_days
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS n
      FROM g CROSS JOIN tot t
    )"""


def _survival_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of :data:`_O_SURVIVAL_RISK` — the survival table
    shared by d38 (Kaplan–Meier) and d47 (Nelson–Aalen): one row per
    distinct first-view→first-purchase duration day with events
    ``d``, censored ``c``, and at-risk ``n``. ONE user_id shuffle
    (the t0 window and the per-user agg share partitioning), the
    duration grid is day-bounded, horizon/total are 1-row
    broadcasts."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    horizon = ev.agg(F.max("t_us").alias("h_us"))
    w_u = Window.partitionBy("user_id")
    t0 = F.min(F.when(F.col("event_type") == "view", F.col("t_us"))).over(w_u)
    users = (
        ev.withColumn("t0", t0)
        .filter(F.col("t0").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("t0").alias("t0"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("t_us") >= F.col("t0")),
                    F.col("t_us"),
                )
            ).alias("te"),
        )
    )
    durs = users.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("te").isNotNull(),
            F.expr(f"(te - t0) DIV {_D38_DAY_US}"),
        )
        .otherwise(F.expr(f"(h_us - t0) DIV {_D38_DAY_US}"))
        .alias("dur_days"),
        F.when(F.col("te").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    g = durs.groupBy("dur_days").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    tot = g.agg(F.sum(F.col("d") + F.col("c")).cast("long").alias("n_total"))
    w_cum = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return g.crossJoin(F.broadcast(tot)).withColumn(
        "n",
        F.col("n_total")
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_cum), F.lit(0)),
    )


@register(
    "d38_kaplan_meier",
    oracle=f"""{_O_SURVIVAL_RISK}, terms AS (
      SELECT dur_days, d, c, n,
             CASE WHEN n > d
                  THEN ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE))
                  END AS term
      FROM risk
    )
    SELECT dur_days, CAST(n AS BIGINT) AS n_at_risk,
           d AS d_events, c AS c_censored,
           CASE WHEN term IS NOT NULL THEN
             CAST(round(sum(term) OVER (ORDER BY dur_days
                        ROWS UNBOUNDED PRECEDING), 6) + 0.0 AS DOUBLE)
           END AS ln_survival
    FROM terms
    """,
    priority="P2",
)
def d38_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate for TIME-TO-CONVERSION — the
    product-analytics question "how long from first view to first
    purchase", with users who never convert correctly treated as
    RIGHT-CENSORED at the data horizon (naive conversion-time
    averages silently drop them — the bias KM exists to fix). Per
    distinct duration day: at-risk count n, events d, censored c,
    and ln S(t) = Σ_{{t'≤t}} ln((n−d)/n). The log-space form avoids
    a running product; the sum spans ≤|distinct durations| terms so
    accumulation order adds ~1e-13 ≪ the 5e-7 half-grid, and the
    final value is r6-rounded with the signed-zero guard (the d27
    discipline). n = d can only happen at the LAST duration (at-risk
    minus events = censored-here + everyone later), where
    ln_survival is NULL (S = 0).

    Scale shape: ONE user_id shuffle builds conversion durations
    (the t0 window and the per-user agg share partitioning — e11
    argument); durations compress to |distinct days| rows; the
    running windows over that duration GRID are day-bounded exactly
    like e19's day-grid windows (documented bounded-domain
    exception), with the horizon and total as 1-row broadcasts."""
    w_run = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = _survival_risk(spark, sf_dir).withColumn(
        "term",
        F.when(
            F.col("n") > F.col("d"),
            F.log(
                (F.col("n") - F.col("d")).cast("double")
                / F.col("n").cast("double")
            ),
        ),
    )
    return risk.select(
        "dur_days",
        F.col("n").cast("long").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.when(
            F.col("term").isNotNull(),
            (F.round(F.sum("term").over(w_run), 6) + F.lit(0.0)).cast(
                "double"
            ),
        ).alias("ln_survival"),
    )


#: d39 PSI: decile grid of the reference source's length
#: distribution; +1 Laplace smoothing keeps empty buckets finite.
_D39_BUCKETS = 10


def _o_d39() -> str:
    bucket = " + ".join(
        f"CASE WHEN n_chars > b{k} THEN 1 ELSE 0 END" for k in range(1, 10)
    )
    return f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source
    ), ref AS (
      SELECT source AS ref_source FROM counts
      ORDER BY n DESC, source LIMIT 1
    ), pp AS (
      SELECT d.n_chars AS v, CAST(count(*) AS BIGINT) AS w
      FROM documents d CROSS JOIN ref r
      WHERE d.source = r.ref_source GROUP BY d.n_chars
    ), cum AS (
      SELECT v, sum(w) OVER (ORDER BY v) AS cumw,
             sum(w) OVER () AS total
      FROM pp
    ), bounds AS (
      SELECT
        {", ".join(
            f"min(CASE WHEN cumw * {_D39_BUCKETS} >= total * {k} "
            f"THEN v END) AS b{k}" for k in range(1, 10)
        )}
      FROM cum
    ), bucketed AS (
      SELECT d.source, {bucket} AS bucket
      FROM documents d CROSS JOIN bounds
    ), grid AS (
      SELECT c.source, g.g AS bucket
      FROM counts c, unnest(range(0, {_D39_BUCKETS})) AS g(g)
    ), per AS (
      SELECT g.source, g.bucket,
             CAST(count(b.bucket) AS BIGINT) AS nb
      FROM grid g LEFT JOIN bucketed b
        ON g.source = b.source AND g.bucket = b.bucket
      GROUP BY g.source, g.bucket
    ), probs AS (
      SELECT p.source, p.bucket,
             CAST(p.nb + 1 AS DOUBLE)
             / CAST(c.n + {_D39_BUCKETS} AS DOUBLE) AS pr
      FROM per p JOIN counts c ON p.source = c.source
    ), refp AS (
      SELECT p.bucket, p.pr AS pref
      FROM probs p CROSS JOIN ref r WHERE p.source = r.ref_source
    )
    SELECT p.source,
           CAST(c.n AS BIGINT) AS n_docs,
           CAST(round(sum((r.pref - p.pr) * ln(r.pref / p.pr)), 6) + 0.0
                AS DOUBLE) AS psi
    FROM probs p
    JOIN refp r ON p.bucket = r.bucket
    JOIN counts c ON p.source = c.source
    CROSS JOIN ref rf
    WHERE p.source <> rf.ref_source
    GROUP BY p.source, c.n
    """


@register("d39_psi_drift", oracle=_o_d39(), priority="P2")
def d39_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of document length per source
    against the reference source — the drift monitor scoring teams
    put on every feature and corpus shard (PSI < 0.1 stable, > 0.25
    shifted): bucket by the REFERENCE source's exact length deciles
    (the d23/d26 lower-quantile rule, pure integers), Laplace-+1
    smooth so empty buckets stay finite (deterministic, documented —
    the usual ad-hoc epsilon is not portable), then
    PSI = Σ_b (p_ref−p_s)·ln(p_ref/p_s). The ln-sum spans exactly
    {10} buckets, so the d27 discipline applies: raw double terms,
    one r6 round with the signed-zero guard at the end.

    Scale shape: reference selection and the 9 decile bounds are
    1-row broadcasts; bucket assignment is a per-row CASE chain
    fused onto the scan (never a range join); per-(source, bucket)
    counts map-side combine; the bucket grid (sources × 10) is
    domain-bounded. The decile window runs over |distinct lengths|
    of the reference — value-grid bounded (the e19 exception). One
    fact scan per phase, zero raw-row shuffles."""
    d = table(spark, sf_dir, "documents").select("source", "n_chars")
    counts = d.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    ref = counts.orderBy(F.desc("n"), "source").limit(1).select(
        F.col("source").alias("ref_source")
    )
    refdocs = d.join(
        F.broadcast(ref), d.source == F.col("ref_source")
    ).select("n_chars")
    pp = refdocs.groupBy("n_chars").agg(F.count("*").cast("long").alias("w"))
    w_cum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = pp.select(
        F.col("n_chars").alias("v"),
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("total"),
    )
    bounds = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cumw") * _D39_BUCKETS >= F.col("total") * k,
                    F.col("v"),
                )
            ).alias(f"b{k}")
            for k in range(1, 10)
        ]
    )
    bucket_expr = None
    for k in range(1, 10):
        term = F.when(F.col("n_chars") > F.col(f"b{k}"), 1).otherwise(0)
        bucket_expr = term if bucket_expr is None else bucket_expr + term
    bucketed = d.crossJoin(F.broadcast(bounds)).select(
        "source", bucket_expr.alias("bucket")
    )
    grid = counts.select(
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(_D39_BUCKETS - 1))).alias(
            "bucket"
        ),
    )
    per = (
        grid.join(
            bucketed.groupBy("source", "bucket").agg(
                F.count("*").cast("long").alias("nb0")
            ),
            ["source", "bucket"],
            "left",
        )
        .select(
            "source",
            "bucket",
            F.coalesce("nb0", F.lit(0)).cast("long").alias("nb"),
        )
    )
    probs = per.join(counts, "source").select(
        "source",
        "bucket",
        (
            (F.col("nb") + 1).cast("double")
            / (F.col("n") + _D39_BUCKETS).cast("double")
        ).alias("pr"),
    )
    refp = probs.join(
        F.broadcast(ref), probs.source == F.col("ref_source")
    ).select(F.col("bucket"), F.col("pr").alias("pref"))
    return (
        probs.join(refp, "bucket")
        .join(F.broadcast(ref), probs.source == F.col("ref_source"), "left_anti")
        .join(counts, "source")
        .groupBy("source", "n")
        .agg(
            (
                F.round(
                    F.sum(
                        (F.col("pref") - F.col("pr"))
                        * F.log(F.col("pref") / F.col("pr"))
                    ),
                    6,
                )
                + F.lit(0.0)
            )
            .cast("double")
            .alias("psi")
        )
        .select("source", F.col("n").cast("long").alias("n_docs"), "psi")
    )


@register(
    "d40_tukey_outliers",
    oracle="""
    WITH px AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM lineitem
    ), pp AS (
      SELECT l_returnflag, cents, CAST(count(*) AS BIGINT) AS w
      FROM px GROUP BY l_returnflag, cents
    ), cum AS (
      SELECT l_returnflag, cents,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cumw,
             sum(w) OVER (PARTITION BY l_returnflag) AS total
      FROM pp
    ), q AS (
      SELECT l_returnflag,
             min(CASE WHEN cumw * 4 >= total * 1 THEN cents END) AS q1,
             min(CASE WHEN cumw * 4 >= total * 3 THEN cents END) AS q3
      FROM cum GROUP BY l_returnflag
    ), fences AS (
      SELECT l_returnflag, q1, q3, q3 - q1 AS iqr,
             2 * q1 - 3 * (q3 - q1) AS lo2,
             2 * q3 + 3 * (q3 - q1) AS hi2
      FROM q
    )
    SELECT p.l_returnflag, f.q1 AS q1_cents, f.q3 AS q3_cents,
           f.iqr AS iqr_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN 2 * p.cents < f.lo2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN 2 * p.cents > f.hi2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high_outliers
    FROM px p JOIN fences f USING (l_returnflag)
    GROUP BY p.l_returnflag, f.q1, f.q3, f.iqr
    """,
    priority="P2",
)
def d40_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screen per return flag — the box-plot rule
    (value outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR]) that pairs with the
    robust suite (d26 centre, d34 spread, d36 mean, d35 test): emits
    exact quartiles, IQR, and low/high outlier counts. The 1.5×
    factor stays INTEGER by comparing doubled values: outlier_low ⇔
    2·x < 2·Q1 − 3·IQR — no halves, no floats anywhere; quartiles
    use the d26/d36 lower-quantile rule (cumw·4 ≥ total·k, pure
    integer).

    Scale shape: quartiles ride the d26 distinct-value compression
    (windows over |distinct cents| per flag); the flag-count fence
    table broadcasts back onto the ORIGINAL 2-column scan for the
    counting agg (the d36 two-scan trade: raw rows never shuffle)."""
    li = table(spark, sf_dir, "lineitem")
    px = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    pp = px.groupBy("l_returnflag", "cents").agg(
        F.count("*").cast("long").alias("w")
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy("cents")
    w_all = Window.partitionBy("l_returnflag")
    cum = pp.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("total"),
    )
    q = cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("cumw") * 4 >= F.col("total") * 1, F.col("cents"))
        ).alias("q1"),
        F.min(
            F.when(F.col("cumw") * 4 >= F.col("total") * 3, F.col("cents"))
        ).alias("q3"),
    )
    fences = q.select(
        "l_returnflag",
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
        (2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))).alias("lo2"),
        (2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))).alias("hi2"),
    )
    return (
        px.join(F.broadcast(fences), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3", "iqr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(2 * F.col("cents") < F.col("lo2"), 1).otherwise(0))
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(F.when(2 * F.col("cents") > F.col("hi2"), 1).otherwise(0))
            .cast("long")
            .alias("n_high_outliers"),
        )
        .select(
            "l_returnflag",
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            F.col("iqr").alias("iqr_cents"),
            "n",
            "n_low_outliers",
            "n_high_outliers",
        )
    )


@register(
    "d41_weighted_quantiles",
    oracle="""
    WITH px AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qw
      FROM lineitem
    ), pp AS (
      SELECT l_returnflag, cents, CAST(sum(qw) AS BIGINT) AS w
      FROM px GROUP BY l_returnflag, cents
    ), cum AS (
      SELECT l_returnflag, cents,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cumw,
             sum(w) OVER (PARTITION BY l_returnflag) AS total
      FROM pp
    )
    SELECT l_returnflag,
           CAST(max(total) AS BIGINT) AS total_qty_x100,
           min(CASE WHEN cumw * 10 >= total * 1 THEN cents END) AS p10_cents,
           min(CASE WHEN cumw * 10 >= total * 5 THEN cents END) AS p50_cents,
           min(CASE WHEN cumw * 10 >= total * 9 THEN cents END) AS p90_cents
    FROM cum GROUP BY l_returnflag
    """,
    priority="P2",
)
def d41_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted p10/p50/p90 of price, weighted by QUANTITY, per
    return flag — the generalization that finishes the exact-
    quantile family: d26 is the weighted median alone, d14/d23 are
    unweighted; real freight/revenue questions weight each price by
    units moved. All three quantiles ride ONE cumulative-weight
    pass: the lower-quantile rule (smallest value whose cumulative
    weight reaches total·k/10 — cumw·10 ≥ total·k, pure integers) is
    evaluated as three conditional mins over the same cum table.
    Weights are exact (quantity transported ×100 through
    DECIMAL(12,2) — the d22 rule), so no float exists anywhere.

    Scale shape: the d26 distinct-value compression — the window
    runs over |distinct cents| per flag (weights pre-summed
    map-side), never raw lineitem; adding more quantiles costs one
    more conditional min, not another pass."""
    li = table(spark, sf_dir, "lineitem")
    px = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("qw"),
    )
    pp = px.groupBy("l_returnflag", "cents").agg(
        F.sum("qw").cast("long").alias("w")
    )
    w_cum = Window.partitionBy("l_returnflag").orderBy("cents")
    w_all = Window.partitionBy("l_returnflag")
    cum = pp.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("total"),
    )

    def q(k: int, name: str):
        return F.min(
            F.when(F.col("cumw") * 10 >= F.col("total") * k, F.col("cents"))
        ).alias(name)

    return cum.groupBy("l_returnflag").agg(
        F.max("total").cast("long").alias("total_qty_x100"),
        q(1, "p10_cents"),
        q(5, "p50_cents"),
        q(9, "p90_cents"),
    )


@register(
    "d42_two_proportion_ztest",
    oracle="""
    WITH s AS (
      SELECT
        CAST(count(*) FILTER (event_type IN ('view', 'purchase'))
             AS BIGINT) AS n1,
        CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS x1,
        CAST(count(*) FILTER (event_type IN ('click', 'signup'))
             AS BIGINT) AS n2,
        CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS x2
      FROM events
    )
    SELECT n1, x1, n2, x2,
           CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
           (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
             AS z_stat
    FROM s
    """,
    priority="P2",
)
def d42_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the CONVERSION-RATE A/B readout
    completing the testing suite's coverage of metric types (d22
    means, d35 ranks, d32 ECDFs, d33 independence, d42 rates):
    arm 1 = view→purchase conversion, arm 2 = click→signup
    conversion, pooled-variance z. The four sufficient statistics
    are exact bigints from ONE conditional-partial global aggregate;
    p1, p2, and z are one shared IEEE expression tree over those
    integers (the d22 rule — no rounding anywhere).

    Scale shape: a single global agg with FILTER partials — map-side
    combine reduces the shuffle to one 4-number row per task
    regardless of input size; the same shape GROUPs BY experiment_id
    for thousands of concurrent tests (the d22 note)."""
    ev = table(spark, sf_dir, "events")
    s = ev.agg(
        F.count(F.when(F.col("event_type").isin("view", "purchase"), 1))
        .cast("long")
        .alias("n1"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("x1"),
        F.count(F.when(F.col("event_type").isin("click", "signup"), 1))
        .cast("long")
        .alias("n2"),
        F.count(F.when(F.col("event_type") == "signup", 1))
        .cast("long")
        .alias("x2"),
    )
    z_expr = (
        "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
        " * (1.0D - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
        " * (1.0D / CAST(n1 AS DOUBLE) + 1.0D / CAST(n2 AS DOUBLE)))"
    )
    return s.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.expr("CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)").alias("p1"),
        F.expr("CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)").alias("p2"),
        F.expr(z_expr).alias("z_stat"),
    )


#: d43: one day in epoch-microseconds (daily revenue grid).
_D43_DAY_US = 86_400 * 1_000_000


def _o_d43() -> str:
    return f"""
    WITH daily AS (
      SELECT CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP))
                  // {_D43_DAY_US} AS BIGINT) AS day_id,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
    ), slopes AS (
      SELECT CAST(b.cents - a.cents AS DOUBLE)
             / CAST(b.day_id - a.day_id AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON a.day_id < b.day_id
    ), scomp AS (
      SELECT slope, CAST(count(*) AS BIGINT) AS w
      FROM slopes GROUP BY slope
    ), scum AS (
      SELECT slope,
             sum(w) OVER (ORDER BY slope ROWS UNBOUNDED PRECEDING)
               AS cum,
             sum(w) OVER () AS total
      FROM scomp
    ), smed AS (
      SELECT min(slope) AS slope_med FROM scum WHERE 2 * cum >= total
    ), resid AS (
      SELECT CAST(d.cents AS DOUBLE) - s.slope_med * CAST(d.day_id AS DOUBLE)
               AS r
      FROM daily d CROSS JOIN smed s
    ), rcomp AS (
      SELECT r, CAST(count(*) AS BIGINT) AS w FROM resid GROUP BY r
    ), rcum AS (
      SELECT r,
             sum(w) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cum,
             sum(w) OVER () AS total
      FROM rcomp
    ), rmed AS (
      SELECT min(r) AS intercept_med FROM rcum WHERE 2 * cum >= total
    )
    SELECT n.n_days,
           CAST(n.n_days * (n.n_days - 1) / 2 AS BIGINT) AS n_pairs,
           CAST(round(s.slope_med, 6) + 0.0 AS DOUBLE)
             AS slope_cents_per_day,
           CAST(round(m.intercept_med, 6) + 0.0 AS DOUBLE)
             AS intercept_cents
    FROM nd n CROSS JOIN smed s CROSS JOIN rmed m
    """


@register("d43_theil_sen", oracle=_o_d43(), priority="P2")
def d43_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily order revenue — the median of
    all pairwise day-to-day slopes (breakdown point 29%, vs OLS's
    zero: one bad day cannot bend the line — the robust partner of
    d20's OLS exactly as d34's MAD partners d12's stddev). Slopes
    are exact-bigint cent differences under one IEEE division; both
    medians use the house LOWER-median convention (first value whose
    inclusive cumulative count reaches half — d26/d34 rule), so every
    reported number is a selected element, never an average.
    Intercept = lower median of (cents − slope·day) residuals.

    Scale shape: the pairwise-slope table is |days|² over the DAILY
    aggregate, never over raw orders — the day grid is
    calendar-bounded (~2 400 rows for the fixture's seven years;
    36 k for a century), so the theta self-join is the e39/d33
    bounded-domain exception, NOT an O(N²) corpus join; the daily
    rollup itself is one map-side-combined agg. Both medians go
    through the two-phase SELECTION primitive (rank.global_kth):
    range-partition by value, per-partition COUNTS collect
    (O(partitions)), sort only the one partition holding the median
    rank — never a single-partition window, never a full global
    numbering. 100× more orders changes only the first agg's input;
    the slope stage is constant-size."""
    from hadoop_release_spark.operators.rank import global_kth

    o = table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.expr(
                f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV {_D43_DAY_US}"
            ).alias("day_id"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    # daily feeds the pair join (twice), the residual pass, and the
    # day count; persist so the orders scan+agg runs once.
    daily = persist(daily)
    nd = daily.agg(F.count("*").cast("long").alias("n_days"))
    a = daily.select(F.col("day_id").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("day_id").alias("db"), F.col("cents").alias("cb"))
    slopes = (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .select(
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / (F.col("db") - F.col("da")).cast("double")
            ).alias("slope")
        )
    )
    # The pair table stays unmaterialized: global_kth's range
    # partitioner executes it twice (sampling pass, then the shuffle
    # map), and the n≥6 interleaved 32-core A/B in OPTIMIZATION_r16.md
    # measured that re-execution cheaper than a persist or a
    # localCheckpoint.
    # .agg(min) over the selected single row is identity in the
    # normal case and turns the degenerate one-day corpus (no pairs,
    # empty selection) into a 1-row NULL — matching the oracle's
    # min() over an empty CTE instead of annihilating the output
    # through an empty crossJoin.
    smed = global_kth(slopes, ["slope"], lambda t: (t + 1) // 2).agg(
        F.min("slope").alias("slope_med")
    )
    resid = (
        daily.crossJoin(F.broadcast(smed))
        .select(
            (
                F.col("cents").cast("double")
                - F.col("slope_med") * F.col("day_id").cast("double")
            ).alias("r")
        )
    )
    rmed = global_kth(resid, ["r"], lambda t: (t + 1) // 2).agg(
        F.min("r").alias("intercept_med")
    )
    return (
        nd.crossJoin(F.broadcast(smed))
        .crossJoin(F.broadcast(rmed))
        .select(
            "n_days",
            F.expr("CAST(n_days * (n_days - 1) DIV 2 AS BIGINT)").alias(
                "n_pairs"
            ),
            (F.round(F.col("slope_med"), 6) + F.lit(0.0)).alias(
                "slope_cents_per_day"
            ),
            (F.round(F.col("intercept_med"), 6) + F.lit(0.0)).alias(
                "intercept_cents"
            ),
        )
    )


_D44_HOUR_US = 3600 * 1_000_000
#: Pair window: slopes only between hours at most 7 days apart.
_D44_W = 168


def _o_d44() -> str:
    return f"""
    WITH hourly AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP))
                  // {_D44_HOUR_US} AS BIGINT) AS hour_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ), nh AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hours FROM hourly
    ), slopes AS (
      SELECT CAST(b.cents - a.cents AS DOUBLE)
             / CAST(b.hour_id - a.hour_id AS DOUBLE) AS slope
      FROM hourly a JOIN hourly b
        ON b.hour_id > a.hour_id AND b.hour_id - a.hour_id <= {_D44_W}
    ), np AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM slopes
    ), scomp AS (
      SELECT slope, CAST(count(*) AS BIGINT) AS w
      FROM slopes GROUP BY slope
    ), scum AS (
      SELECT slope,
             sum(w) OVER (ORDER BY slope ROWS UNBOUNDED PRECEDING)
               AS cum,
             sum(w) OVER () AS total
      FROM scomp
    ), smed AS (
      SELECT min(slope) AS slope_med FROM scum WHERE 2 * cum >= total
    )
    SELECT n.n_hours, p.n_pairs,
           CAST(round(s.slope_med, 6) + 0.0 AS DOUBLE)
             AS slope_cents_per_hour
    FROM nh n CROSS JOIN np p CROSS JOIN smed s
    """


@register("d44_theil_sen_hourly", oracle=_o_d44(), priority="P2")
def d44_theil_sen_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed Theil–Sen at HOURLY grain — d43's documented exit
    condition exercised: once the grain drops below a day the grid is
    no longer "calendar-bounded small" (a century of hours is 876k
    rows — |grid|² pairs would be 7.7e11), so the theta self-join
    must become the c11/c20 bin-bucketed EQUI-join. Slopes are taken
    only between hours at most {_D44_W} h apart (the standard
    windowed/repeated-median variant): bucket hour_id into
    {_D44_W}-wide bins, replicate the LEFT side into its own and the
    next bin (≤2 rows — c20's exactly-once rule), equi-join on the
    bin, filter 0 < Δh ≤ {_D44_W}. Pair count is grid_rows × ≤{_D44_W}
    — LINEAR in the calendar, never quadratic. Slope = exact-bigint
    cent difference under one IEEE division (d43 discipline); median
    slope via the two-phase selection primitive rank.global_kth
    (lower-median convention).

    Scale shape: one map-side-combined (hour) agg collapses events to
    the grid; the pair join is an equi hash join whose build side is
    the grid (broadcast here; co-partitioned by bin at larger grids);
    100× more events changes only the first agg's input. Single-row
    medians/counts assemble via 1-row broadcasts (d43 pattern)."""
    from hadoop_release_spark.operators.rank import global_kth

    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.expr(f"unix_micros(ts) DIV {_D44_HOUR_US}").alias("hour_id"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("hour_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    # hourly feeds the pair join twice + the hour count; persist so
    # the events scan+agg runs once.
    hourly = persist(hourly)
    nh = hourly.agg(F.count("*").cast("long").alias("n_hours"))
    # Left side replicated into its own bin and the NEXT bin — every
    # in-window pair (0 < Δh ≤ W) has its b-row in one of the two.
    a = hourly.select(
        F.col("hour_id").alias("ha"),
        F.col("cents").alias("ca"),
        F.explode(
            F.array(
                F.expr(f"hour_id DIV {_D44_W}"),
                F.expr(f"hour_id DIV {_D44_W} + 1"),
            )
        ).alias("__bin"),
    )
    b = hourly.select(
        F.col("hour_id").alias("hb"),
        F.col("cents").alias("cb"),
        F.expr(f"hour_id DIV {_D44_W}").alias("__bin"),
    )
    slopes = (
        a.join(F.broadcast(b), "__bin")
        .filter(
            (F.col("hb") > F.col("ha"))
            & (F.col("hb") - F.col("ha") <= _D44_W)
        )
        .select(
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / (F.col("hb") - F.col("ha")).cast("double")
            ).alias("slope")
        )
    )
    # n_pairs is a REAL count over the persisted slopes, kept
    # separate from the median selection on purpose: if global_kth's
    # stale-cache guard ever fires, the selection comes back empty
    # and this query then reports n_pairs > 0 with a NULL median —
    # an obvious hash mismatch — instead of a plausible degenerate
    # answer (review finding: a coalesce here masked the fail-loud
    # signal). The genuinely pair-free grid reports 0 + NULL, which
    # the oracle matches.
    slopes = persist(slopes)
    np_ = slopes.agg(F.count("*").cast("long").alias("n_pairs"))
    smed = global_kth(slopes, ["slope"], lambda t: (t + 1) // 2).agg(
        F.min("slope").alias("slope_med")
    )
    return (
        nh.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(smed))
        .select(
            "n_hours",
            "n_pairs",
            (F.round(F.col("slope_med"), 6) + F.lit(0.0)).alias(
                "slope_cents_per_hour"
            ),
        )
    )


@register(
    "d45_anova",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sx,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sxx
      FROM events GROUP BY event_type
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(sx) AS BIGINT) AS sx_all,
             CAST(sum(sxx) AS BIGINT) AS sxx_all,
             sum(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS t
      FROM g
    )
    SELECT k, n_total,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n_total - k AS BIGINT) AS df_within,
           round(((t - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE)
                       / CAST(n_total AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                 / ((CAST(sxx_all AS DOUBLE) - t)
                    / CAST(n_total - k AS DOUBLE)), 6) + 0.0 AS f_stat,
           round((t - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE)
                      / CAST(n_total AS DOUBLE))
                 / (CAST(sxx_all AS DOUBLE)
                    - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE)
                      / CAST(n_total AS DOUBLE)), 6) + 0.0 AS eta_sq
    FROM s
    """,
    priority="P2",
)
def d45_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across ALL event types — d22's two-arm t-test
    generalized to k groups: does mean `value` differ anywhere in the
    type mix? Reports the F statistic (between-group vs within-group
    mean square) and eta-squared (SSB / SST, the variance-explained
    effect size), plus the exact integer dims (k, N, both df).

    Float rule (d22 extended across k groups): per-group sufficient
    statistics n, Sx, Sxx are exact bigint cents, re-aggregated to
    exact bigint grand totals; the ONLY order-sensitive float is
    T = sum_g Sx_g^2 / n_g — a k-term double sum whose accumulation
    noise is ~1e-16 relative (the d27 argument: k = |event types|
    terms), driven to irrelevance by rounding the two O(1)-to-O(1e4)
    outputs (f_stat, eta_sq) to 6dp; SSB = T - S^2/N and SSW = Q - T
    come out of the same shared IEEE tree token-for-token in both
    engines. k/N/df are exact integers, never rounded.

    Scale shape: ONE (event_type) partial agg (map-side combine
    ships a 3-number row per task per group), then a k-row re-agg —
    the d22 shape with a GROUP BY; the same plan GROUPs BY
    experiment_id for thousands of concurrent ANOVAs. No window, no
    raw-row shuffle, no second scan."""
    from hadoop_release_spark.functions.contracts import r6

    x100 = F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
    g = (
        table(spark, sf_dir, "events")
        .select(F.col("event_type"), x100.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        )
    )
    s = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("sx").cast("bigint").alias("sx_all"),
        F.sum("sxx").cast("bigint").alias("sxx_all"),
        F.sum(
            F.col("sx").cast("double")
            * F.col("sx").cast("double")
            / F.col("n").cast("double")
        ).alias("t"),
    )
    ssb = F.expr(
        "t - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE)"
        " / CAST(n_total AS DOUBLE)"
    )
    ssw = F.expr("CAST(sxx_all AS DOUBLE) - t")
    sst = F.expr(
        "CAST(sxx_all AS DOUBLE) - CAST(sx_all AS DOUBLE)"
        " * CAST(sx_all AS DOUBLE) / CAST(n_total AS DOUBLE)"
    )
    return s.select(
        "k",
        "n_total",
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n_total") - F.col("k")).cast("bigint").alias("df_within"),
        r6(
            (ssb / F.expr("CAST(k - 1 AS DOUBLE)"))
            / (ssw / F.expr("CAST(n_total - k AS DOUBLE)"))
        ).alias("f_stat"),
        r6(ssb / sst).alias("eta_sq"),
    )


@register(
    "d46_spearman",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             CAST(2 * rank() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_quantity)
                  + count(*) OVER (PARTITION BY l_returnflag, l_quantity)
                  - 1 AS BIGINT) AS rx,
             CAST(2 * rank() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice)
                  + count(*) OVER (PARTITION BY l_returnflag,
                                   l_extendedprice)
                  - 1 AS BIGINT) AS ry
      FROM lineitem
    ), s AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(rx AS HUGEINT)) AS sx,
             sum(CAST(ry AS HUGEINT)) AS sy,
             sum(CAST(rx AS HUGEINT) * rx) AS sxx,
             sum(CAST(ry AS HUGEINT) * ry) AS syy,
             sum(CAST(rx AS HUGEINT) * ry) AS sxy
      FROM r GROUP BY grp
    )
    SELECT grp, n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE)
                                     * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE)
                                     * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE))), 6) + 0.0
           END AS rho
    FROM s
    """,
    priority="P2",
)
def d46_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag — the RANK member of the correlation suite (d30
    is Pearson on raw cents; Spearman is Pearson on average ranks,
    robust to monotone transforms and outliers). Ties get average
    ranks (the fractional-ranking convention), carried as the exact
    INTEGER 2·rank quantity (avg rank = cum − (cnt−1)/2, so twice it
    is 2·cum − cnt + 1): every sufficient statistic (Σr, Σr², Σrxry)
    is an exact integer in decimal(38,0)/HUGEINT, and the scale
    factor 2 cancels in the correlation. The only floats are the six
    final casts and the rho arithmetic — mirrored op-for-op in both
    engines (≤1-ulp cast divergence on >15-digit integers, the d27
    noise argument), then r6 + signed-zero guard. Degenerate groups
    (zero rank variance on either side) report NULL rho identically
    via the den > 0 guard.

    Scale shape: NO full-row sort — per-variable rank MAPS are built
    on the (grp, value) DISTINCT sets (map-side-combined groupBy,
    then a running-sum window over the distinct values, slim), and
    rows join the two maps back by value (two slim shuffle-hash
    joins, hinted — the maps carry no size stats and must never
    broadcast at corpus scale). Sufficient stats then collapse in
    ONE partial+final agg. Integer headroom: 2r ≤ 2N, so Σ(2r)² ≤
    4N³ — exact in decimal(38,0) to N ≈ 10^11 rows per group; past
    that switch the sums to scaled doubles (documented swap, same
    shape)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )

    def rank_map(col: str, out: str) -> DataFrame:
        cnts = li.groupBy("grp", col).agg(F.count("*").alias("cnt"))
        w = (
            Window.partitionBy("grp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return cnts.select(
            "grp",
            col,
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1)
            .cast("long")
            .alias(out),
        )

    rows = (
        li.join(rank_map("x", "rx").hint("shuffle_hash"), ["grp", "x"])
        .join(rank_map("y", "ry").hint("shuffle_hash"), ["grp", "y"])
        .select(
            "grp",
            F.col("rx").cast("decimal(19,0)").alias("dx"),
            F.col("ry").cast("decimal(19,0)").alias("dy"),
        )
    )
    s = rows.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    num = nd * F.col("sxy").cast("double") - sxd * syd
    return s.select(
        "grp",
        "n",
        F.when(
            (denx > 0) & (deny > 0), r6(num / F.sqrt(denx * deny))
        ).alias("rho"),
    )


@register(
    "d47_nelson_aalen",
    oracle=f"""{_O_SURVIVAL_RISK}, terms AS (
      SELECT dur_days, d, c, n,
             CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS h,
             CAST(d AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS v
      FROM risk
    )
    SELECT dur_days, CAST(n AS BIGINT) AS n_at_risk,
           d AS d_events, c AS c_censored,
           CAST(round(sum(h) OVER (ORDER BY dur_days
                      ROWS UNBOUNDED PRECEDING), 6) AS DOUBLE)
             AS cum_hazard,
           CAST(round(sum(v) OVER (ORDER BY dur_days
                      ROWS UNBOUNDED PRECEDING), 6) AS DOUBLE)
             AS var_hazard
    FROM terms
    """,
    priority="P2",
)
def d47_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimate over the SAME
    time-to-conversion survival table as d38 (shared construction —
    :func:`_survival_risk` / :data:`_O_SURVIVAL_RISK` — so the two
    estimators cannot disagree on censoring or at-risk counts):
    H(t) = Σ_{{t'≤t}} d/n and its variance estimate Σ d/n². KM
    (d38) estimates survival by product; NA estimates hazard by sum
    — preferred for small risk sets and the standard input to
    hazard-ratio eyeballing. Unlike ln S, H is defined at n = d too
    (the last-day edge), so the output has no NULL tail.

    Float rule: both running sums accumulate in duration-day order
    in BOTH engines (identical IEEE add sequence → bit-identical
    pre-round doubles, the d38 argument); terms are single
    divisions of exact bigints; r6 on ≥0 sums needs no signed-zero
    guard. Scale shape: identical to d38 — one user_id shuffle,
    then day-grid windows over the bounded duration domain."""
    w_run = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    nd = F.col("n").cast("double")
    risk = (
        _survival_risk(spark, sf_dir)
        .withColumn("h", F.col("d").cast("double") / nd)
        .withColumn("v", F.col("d").cast("double") / (nd * nd))
    )
    return risk.select(
        "dur_days",
        F.col("n").cast("long").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.round(F.sum("h").over(w_run), 6).cast("double").alias("cum_hazard"),
        F.round(F.sum("v").over(w_run), 6).cast("double").alias("var_hazard"),
    )


@register(
    "d48_concentration",
    oracle="""
    WITH rev AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_suppkey,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)
                      * CAST(100 - CAST(l_discount AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_u
      FROM lineitem GROUP BY yr, l_suppkey
    ), ranked AS (
      SELECT yr, l_suppkey, rev_u,
             CAST(sum(rev_u) OVER (PARTITION BY yr) AS BIGINT) AS total_u,
             row_number() OVER (PARTITION BY yr
                                ORDER BY rev_u DESC, l_suppkey) AS rn
      FROM rev
    )
    SELECT yr, CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum((CAST(rev_u AS DOUBLE) / CAST(total_u AS DOUBLE))
                     * (CAST(rev_u AS DOUBLE) / CAST(total_u AS DOUBLE))),
                 6) AS hhi,
           round(CAST(sum(CASE WHEN rn <= 4 THEN rev_u ELSE 0 END)
                      AS DOUBLE) / CAST(max(total_u) AS DOUBLE), 6) AS cr4,
           CAST(max(CASE WHEN rn = 1 THEN l_suppkey END) AS BIGINT)
             AS top_suppkey,
           round(CAST(max(CASE WHEN rn = 1 THEN rev_u END) AS DOUBLE)
                 / CAST(max(total_u) AS DOUBLE), 6) AS top_share
    FROM ranked GROUP BY yr
    """,
    priority="P2",
)
def d48_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration metrics of supplier revenue per ship
    year: Herfindahl–Hirschman index (Σ share², the antitrust
    screen), CR4 (top-4 suppliers' combined share), and the #1
    supplier with its share. Revenue is exact integer 10⁻⁴-dollar
    units (cents × the integer discount complement — both factors
    recovered via DECIMAL(12,2) first, the d12 product rule), so
    shares are single IEEE divisions of identical bigints in both
    engines; HHI's |suppliers|-term float sum carries the d45/d27
    accumulation-noise argument under r6; CR4/top use exact-integer
    numerators. Ties rank deterministically by (rev DESC, suppkey).

    Scale shape: ONE (yr, suppkey) map-side-combined partial agg
    collapses the fact table to |years|×|suppliers| slim rows; the
    total/rank windows and the final per-year agg all run over that
    aggregate (a year's partition is |suppliers| rows — bounded).
    Integer headroom: 10⁻⁴-dollar units overflow bigint around
    10¹⁴ rows per (yr, supp) cell; past that lift the partial sums
    to decimal(38,0) (same plan, documented swap)."""
    rev_u = F.expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        " * CAST(100 - CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)"
    )
    rev = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.year("l_shipdate").cast("bigint").alias("yr"),
            "l_suppkey",
            rev_u.alias("u"),
        )
        .groupBy("yr", "l_suppkey")
        .agg(F.sum("u").cast("bigint").alias("rev_u"))
    )
    w_yr = Window.partitionBy("yr")
    w_rank = Window.partitionBy("yr").orderBy(
        F.col("rev_u").desc(), "l_suppkey"
    )
    ranked = rev.select(
        "yr",
        "l_suppkey",
        "rev_u",
        F.sum("rev_u").over(w_yr).cast("bigint").alias("total_u"),
        F.row_number().over(w_rank).alias("rn"),
    )
    share = F.col("rev_u").cast("double") / F.col("total_u").cast("double")
    return ranked.groupBy("yr").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        r6(F.sum(share * share)).alias("hhi"),
        r6(
            F.sum(F.when(F.col("rn") <= 4, F.col("rev_u")).otherwise(0))
            .cast("double")
            / F.max("total_u").cast("double")
        ).alias("cr4"),
        F.max(F.when(F.col("rn") == 1, F.col("l_suppkey")))
        .cast("bigint")
        .alias("top_suppkey"),
        r6(
            F.max(F.when(F.col("rn") == 1, F.col("rev_u"))).cast("double")
            / F.max("total_u").cast("double")
        ).alias("top_share"),
    )


def _o_d49() -> str:
    bucket = " + ".join(
        f"CASE WHEN n_chars > b{k} THEN 1 ELSE 0 END" for k in range(1, 10)
    )
    # the JS term, token-for-token the Spark expression tree
    term = (
        "0.5 * a.pr * ln(2 * a.pr / (a.pr + b.pr)) "
        "+ 0.5 * b.pr * ln(2 * b.pr / (a.pr + b.pr))"
    )
    return f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source
    ), pp AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS w
      FROM documents GROUP BY n_chars
    ), cum AS (
      SELECT v, sum(w) OVER (ORDER BY v) AS cumw,
             sum(w) OVER () AS total
      FROM pp
    ), bounds AS (
      SELECT
        {", ".join(
            f"min(CASE WHEN cumw * {_D39_BUCKETS} >= total * {k} "
            f"THEN v END) AS b{k}" for k in range(1, 10)
        )}
      FROM cum
    ), bucketed AS (
      SELECT d.source, {bucket} AS bucket
      FROM documents d CROSS JOIN bounds
    ), grid AS (
      SELECT c.source, g.g AS bucket
      FROM counts c, unnest(range(0, {_D39_BUCKETS})) AS g(g)
    ), per AS (
      SELECT g.source, g.bucket,
             CAST(count(b.bucket) AS BIGINT) AS nb
      FROM grid g LEFT JOIN bucketed b
        ON g.source = b.source AND g.bucket = b.bucket
      GROUP BY g.source, g.bucket
    ), probs AS (
      SELECT p.source, p.bucket,
             CAST(p.nb + 1 AS DOUBLE)
             / CAST(c.n + {_D39_BUCKETS} AS DOUBLE) AS pr
      FROM per p JOIN counts c ON p.source = c.source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
           CAST(round(sum({term}), 6) + 0.0 AS DOUBLE) AS jsd
    FROM probs a
    JOIN probs b ON a.bucket = b.bucket AND a.source < b.source
    JOIN counts ca ON a.source = ca.source
    JOIN counts cb ON b.source = cb.source
    GROUP BY a.source, b.source, ca.n, cb.n
    """


@register("d49_jensen_shannon", oracle=_o_d49(), priority="P2")
def d49_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence matrix of document-length
    distributions between ALL source pairs — the SYMMETRIC, bounded
    member of the drift suite (d39's PSI is anchored to one
    reference source and unbounded; JSD is symmetric in (P,Q) and
    capped at ln 2, so pair scores are comparable across the whole
    matrix — the corpus-similarity heatmap a mixing decision reads).
    Distributions share ONE global length-decile grid (the d23/d26
    lower-quantile rule over ALL documents — a common support, so a
    pair's JSD never depends on which of the two is "reference"),
    Laplace-+1 smoothed exactly like d39.

    Float rule: p and q are single divisions of exact bigints; the
    JS term 0.5·p·ln(2p/(p+q)) + 0.5·q·ln(2q/(p+q)) is one shared
    IEEE tree token-for-token in both engines; the sum spans exactly
    10 buckets (d27 order-noise argument) and is ≥ 0 up to that
    noise — r6 with the +0.0 signed-zero guard (identical-
    distribution pairs land exactly on 0.0).

    Scale shape: the decile window runs over |distinct lengths|
    (value-grid bounded, the e19 exception); bucket assignment is a
    per-row CASE chain fused onto the scan via the 1-row bounds
    broadcast (granted, d39's row); per-(source, bucket) counts
    map-side combine; the pair join runs on the |sources|×10
    PROBABILITY table — |sources|²·10 rows forever (source is a
    bounded domain), never on documents. One fact scan total."""
    d = table(spark, sf_dir, "documents").select("source", "n_chars")
    counts = d.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    pp = d.groupBy("n_chars").agg(F.count("*").cast("long").alias("w"))
    w_cum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = pp.select(
        F.col("n_chars").alias("v"),
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("total"),
    )
    bounds = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cumw") * _D39_BUCKETS >= F.col("total") * k,
                    F.col("v"),
                )
            ).alias(f"b{k}")
            for k in range(1, 10)
        ]
    )
    bucket_expr = None
    for k in range(1, 10):
        t = F.when(F.col("n_chars") > F.col(f"b{k}"), 1).otherwise(0)
        bucket_expr = t if bucket_expr is None else bucket_expr + t
    bucketed = d.crossJoin(F.broadcast(bounds)).select(
        "source", bucket_expr.alias("bucket")
    )
    grid = counts.select(
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(_D39_BUCKETS - 1))).alias(
            "bucket"
        ),
    )
    per = grid.join(
        bucketed.groupBy("source", "bucket").agg(
            F.count("*").cast("long").alias("nb0")
        ),
        ["source", "bucket"],
        "left",
    ).select(
        "source",
        "bucket",
        F.coalesce("nb0", F.lit(0)).cast("long").alias("nb"),
    )
    probs = per.join(counts, "source").select(
        "source",
        "bucket",
        (
            (F.col("nb") + 1).cast("double")
            / (F.col("n") + _D39_BUCKETS).cast("double")
        ).alias("pr"),
    )
    a = probs.select(
        F.col("source").alias("src_a"),
        "bucket",
        F.col("pr").alias("pa"),
    )
    b = probs.select(
        F.col("source").alias("src_b"),
        "bucket",
        F.col("pr").alias("pb"),
    )
    pa, pb = F.col("pa"), F.col("pb")
    term = F.lit(0.5) * pa * F.log(F.lit(2.0) * pa / (pa + pb)) + F.lit(
        0.5
    ) * pb * F.log(F.lit(2.0) * pb / (pa + pb))
    ca = counts.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    cb = counts.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(ca, "src_a")
        .join(cb, "src_b")
        .groupBy("src_a", "src_b", "n_a", "n_b")
        .agg(
            (F.round(F.sum(term), 6) + F.lit(0.0))
            .cast("double")
            .alias("jsd")
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "jsd",
        )
    )


_O_D50 = f"""
    WITH daily AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {86400 * 1_000_000} AS day_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ), s_agg AS (
      SELECT CAST(coalesce(sum(CASE WHEN b.cents > a.cents THEN 1
                                    WHEN b.cents < a.cents THEN -1
                                    ELSE 0 END), 0) AS BIGINT) AS s
      FROM daily a JOIN daily b ON a.day_id < b.day_id
    ), n_agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM daily
    ), tie_agg AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
            GROUP BY cents)
    ), stats AS (
      SELECT n, s, n * (n - 1) * (2 * n + 5) - tie_term AS var18
      FROM s_agg CROSS JOIN n_agg CROSS JOIN tie_agg
    )
    SELECT n AS n_days, s AS s_stat, var18,
           CASE WHEN var18 > 0 THEN
             CAST(round(CASE
               WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                               / sqrt(CAST(var18 AS DOUBLE) / 18.0)
               WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                               / sqrt(CAST(var18 AS DOUBLE) / 18.0)
               ELSE 0.0 END, 6) + 0.0 AS DOUBLE)
           END AS z,
           CASE WHEN s > 0 THEN 'increasing'
                WHEN s < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM stats
    """


@register("d50_mann_kendall", oracle=_O_D50, priority="P2")
def d50_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on daily total revenue —
    the significance twin of d43's Theil–Sen estimator (d43 answers
    "how steep?"; MK answers "is there a trend at all?", the pairing
    every environmental/ops trend report ships): S = Σ_{i<j}
    sign(x_j − x_i), Var(S) with the tie correction
    [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    continuity-corrected Z = (S∓1)/√Var.

    Determinism: S, n, and the variance NUMERATOR var18 are exact
    bigints (the calendar bounds n forever, so n³ never threatens
    bigint); Z is one shared IEEE tree — a single division of
    (S∓1) by the correctly-rounded sqrt of var18/18.0 — r6 with the
    +0.0 signed-zero guard; Z is NULL (not ±inf) when every day
    ties (var18 = 0). The trend label derives from exact S only.

    Scale shape: one map-side-combined day agg collapses events to
    the calendar-bounded GRID; the |days|² sign pair join is d43's
    granted bounded-domain exception (the day grid, never raw
    rows); ties and n are grid re-aggs; the three 1-row stats
    frames cross-join at O(1). Sub-day grains exit to d44's
    bin-bucketed pair shape (same documented condition as d43)."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr("unix_micros(ts) DIV 86400000000").alias("day_id"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    a = daily.select(
        F.col("day_id").alias("da"), F.col("cents").alias("ca")
    )
    b = daily.select(
        F.col("day_id").alias("db"), F.col("cents").alias("cb")
    )
    sign = (
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
    )
    s_agg = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(F.coalesce(F.sum(sign), F.lit(0)).cast("long").alias("s"))
    )
    n_agg = daily.agg(F.count("*").cast("long").alias("n"))
    t = F.col("t")
    tie_agg = (
        daily.groupBy("cents")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("long")
            .alias("tie_term")
        )
    )
    stats = (
        s_agg.crossJoin(F.broadcast(n_agg))
        .crossJoin(F.broadcast(tie_agg))
        .select(
            "n",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).alias("var18"),
        )
    )
    denom = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z_raw = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / denom)
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / denom)
        .otherwise(F.lit(0.0))
    )
    return stats.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        "var18",
        F.when(
            F.col("var18") > 0,
            (F.round(z_raw, 6) + F.lit(0.0)).cast("double"),
        ).alias("z"),
        F.when(F.col("s") > 0, F.lit("increasing"))
        .when(F.col("s") < 0, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


#: d51 — Ljung–Box lag horizon (the weekly-seasonality screen needs
#: at least 7; every lag adds one grid self-join arm).
_D51_H = 7

_O_D51 = f"""
    WITH daily AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {86400 * 1_000_000} AS day_id,
             CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ), idx AS (
      SELECT day_id, cents,
             CAST(row_number() OVER (ORDER BY day_id) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(cents) OVER () AS BIGINT) AS s
      FROM daily
    ), dev AS (
      SELECT rn, n,
             CAST(n AS HUGEINT) * cents - s AS d
      FROM idx
    ), den AS (
      SELECT CAST(sum(d * d) AS HUGEINT) AS den, max(n) AS n FROM dev
    ), lags AS (
      SELECT unnest(range(1, {_D51_H + 1})) AS lag
    ), nums AS (
      SELECT l.lag, CAST(sum(a.d * b.d) AS HUGEINT) AS num,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.rn = a.rn + l.lag
      GROUP BY l.lag
    ), rhos AS (
      SELECT m.lag, m.n_pairs, d.n,
             CASE WHEN d.den > 0 THEN
               CAST(m.num AS DOUBLE) / CAST(d.den AS DOUBLE)
             END AS rho_raw
      FROM nums m CROSS JOIN den d
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           CAST(round(rho_raw, 6) + 0.0 AS DOUBLE) AS rho,
           CAST(round(CAST(n * (n + 2) AS DOUBLE)
                      * sum(rho_raw * rho_raw
                            / CAST(n - lag AS DOUBLE))
                        OVER (ORDER BY lag), 6) + 0.0
                AS DOUBLE) AS q_cum
    FROM rhos
    """


@register("d51_ljung_box", oracle=_O_D51, priority="P2")
def d51_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on daily revenue — the white-noise
    screen (is there ANY autocorrelation structure up to lag h?)
    that decides whether e39/e43/e44's structure-hunting ops have
    anything to find: sample ACF ρ_k for k = 1..{_D51_H} over the
    observed-day series, and the cumulative statistic
    Q(h) = n(n+2) Σ_{{k≤h}} ρ_k²/(n−k), emitted per lag so the
    whole Q trajectory (and each dof = lag) is visible.

    Determinism: the ACF is formed from exact integers only — the
    mean never becomes a float because every deviation is
    cross-multiplied by n (d_t = n·x_t − S exact decimal/HUGEINT;
    the n² factors cancel in ρ = Σd_a·d_b / Σd²); ρ is ONE
    division of two decimal→double casts (±1-ulp cast noise ≪ the
    r6 half-grid, the d33 argument); Q's running sum accumulates in
    lag order in BOTH engines (the d38 identical-add-sequence
    argument) over ≤{_D51_H} terms; r6 + 0.0 guards on both floats;
    ρ and Q are NULL (never div-zero) on a zero-variance series.

    Scale shape: one map-side-combined day agg → calendar-bounded
    GRID; rn/n/S windows over the grid (e19 exception); the lag
    alignment is the e39 shape — grid × {_D51_H}-row broadcast lag
    list, then a grid-bounded equi-join on rn+lag; the denominator
    is a 1-row broadcast; every per-lag stat is one slim row."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"unix_micros(ts) DIV {86400 * 1_000_000}").alias(
                "day_id"
            ),
            F.expr(
                "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            ).alias("c"),
        )
        .groupBy("day_id")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w_ord = Window.orderBy("day_id")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    DEC = "decimal(38,0)"
    dev = daily.select(
        F.row_number().over(w_ord).cast("long").alias("rn"),
        F.count("*").over(w_all).cast("long").alias("n"),
        (
            F.count("*").over(w_all).cast(DEC) * F.col("cents")
            - F.sum("cents").over(w_all)
        ).alias("d"),
    )
    den = dev.agg(
        F.sum(F.col("d") * F.col("d")).alias("den"),
        F.max("n").alias("n"),
    )
    lags = spark.createDataFrame(
        [(lag,) for lag in range(1, _D51_H + 1)], "lag long"
    )
    a = dev.select(F.col("rn").alias("rn_a"), F.col("d").alias("da"))
    b = dev.select(F.col("rn").alias("rn_b"), F.col("d").alias("db"))
    nums = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rn_b") == F.col("rn_a") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("da") * F.col("db")).alias("num"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    rhos = nums.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        "n",
        F.when(
            F.col("den") > 0,
            F.col("num").cast("double") / F.col("den").cast("double"),
        ).alias("rho_raw"),
    )
    w_lag = Window.orderBy("lag").rowsBetween(
        Window.unboundedPreceding, 0
    )
    q = (
        (F.col("n") * (F.col("n") + 2)).cast("double")
        * F.sum(
            F.col("rho_raw")
            * F.col("rho_raw")
            / (F.col("n") - F.col("lag")).cast("double")
        ).over(w_lag)
    )
    return rhos.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        (F.round(F.col("rho_raw"), 6) + F.lit(0.0))
        .cast("double")
        .alias("rho"),
        (F.round(q, 6) + F.lit(0.0)).cast("double").alias("q_cum"),
    )
