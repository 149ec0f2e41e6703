"""§2.C — joins.

Reference analog: Hadoop reduce-side join (shuffle both inputs on
the key = Spark sort-merge/shuffled-hash join) and map-side join
(small table in the DistributedCache = Spark broadcast-hash join).
Scale posture: only bounded dims (region=5, nation=25) are broadcast
unconditionally; fact-fact joins shuffle on their keys and rely on
AQE for skew splitting and runtime join-strategy switches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.contracts import dsum, net_price, osum
from hadoop_release_spark.functions.materialize import temp_view
from hadoop_release_spark.plans.registry import register


@register(
    "c01_join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    priority="P0",
)
def c01_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (Hadoop reduce-side join analog): both sides
    shuffle on the key at scale; AQE may switch to broadcast when the
    build side is small."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "c13_join_star",
    oracle=f"""
    SELECT n_name,
           {osum("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n_lineitems
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    """,
    priority="P1",
)
def c13_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (TPC-H Q5 shape): revenue per nation for one
    order year.

    Scale plan: lineitem⋈orders⋈customer are key-shuffled fact joins
    (AQE-managed); nation and region are bounded dims and explicitly
    broadcast (Hadoop distributed-cache idiom). The date filter is
    pushed to the orders scan, shrinking the first shuffle.
    """
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    lineitem = table(spark, sf_dir, "lineitem")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(net_price()).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "c02_join_broadcast",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name, p_retailprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size < 20
    """,
)
def c02_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash join — the Hadoop map-side (DistributedCache)
    join: the filtered dim ships to every task, no shuffle of the
    fact side. Plan-invariant vs the oracle's plain join."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_size") < 20)
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_name", "p_retailprice"
    )


@register(
    "c03_join_sortmerge",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    priority="P2",
)
def c03_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-merge join forced via hint — the Hadoop reduce-side join
    literally (shuffle both sides on key, merge sorted runs). The
    strategy choice is plan-only; results are oracle-identical."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"))
    )


@register(
    "c04_join_left",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def c04_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join; customers without orders keep a null side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "c05_join_right",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
    """,
    priority="P2",
)
def c05_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of c04)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "c06_join_full",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM (SELECT * FROM customer WHERE c_custkey > 50) c
    FULL JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    priority="P2",
)
def c06_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with BOTH null sides populated (customers
    without orders + orders of the filtered-out customers)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") > 50)
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "c07_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def c07_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): output left columns only, no row
    duplication however many orders match."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "c08_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
    """,
)
def c08_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no large orders
    (the filter keeps the result non-empty at every SF, so the anti
    path is genuinely exercised)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "c09_join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    priority="P2",
)
def c09_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross product of two bounded dims (5 × 25). Safe ONLY because
    both sides are bounded; never cross-join facts at scale."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "c10_join_theta",
    oracle="""
    SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    """,
    priority="P2",
)
def c10_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi-key (hashable, drives the join strategy) plus
    an inequality residual evaluated post-match."""
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    return s.join(
        c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal)
    ).select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")


@register(
    "c11_join_range",
    oracle="""
    SELECT l_returnflag, count(*) AS n_matched
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag
    """,
    priority="P2",
)
def c11_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: equi-key plus an interval window residual — the
    equi key keeps it a hash/merge join, not a nested loop."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.expr("o_orderdate + INTERVAL 90 DAYS"))
    )
    return li.join(o, cond).groupBy("l_returnflag").agg(F.count("*").alias("n_matched"))


@register(
    "c12_join_asof",
    oracle="""
    WITH ord AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS matched_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT event_id, user_id,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS order_date_us,
           matched_orderkey
    FROM events ASOF JOIN ord
      ON events.user_id = ord.o_custkey
     AND CAST(events.ts AS TIMESTAMP) >= ord.o_orderdate
    """,
    priority="P2",
)
def c12_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the most recent order of the
    same user at-or-before the event time (union-tag + running-last
    window — see operators/asof.py for the scale analysis)."""
    from hadoop_release_spark.functions.contracts import ts_us
    from hadoop_release_spark.operators.asof import asof_join_backward

    ev = table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), F.col("ts").alias("t")
    )
    # Deduplicate the right side per (key, time) so the match is
    # well-defined on both engines.
    ord_ = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").cast("timestamp").alias("t"),
        )
        .agg(F.max("o_orderkey").alias("matched_orderkey"))
    )
    joined = asof_join_backward(ev, ord_, key="k", time="t", payload=["matched_orderkey"])
    # Recover the matched order date: it is the as-of time of the
    # match — join back on the unique (k, matched_orderkey) pair.
    dates = ord_.select("matched_orderkey", F.col("t").alias("order_date"))
    return (
        joined.join(dates, "matched_orderkey")
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            ts_us("order_date").alias("order_date_us"),
            "matched_orderkey",
        )
    )


@register(
    "c14_join_self",
    oracle="""
    SELECT a.l_orderkey, count(*) AS n_pairs
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    GROUP BY a.l_orderkey
    """,
    priority="P2",
)
def c14_join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: ordered pairs of lineitems within each order."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"))
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "c15_join_bucketed",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    priority="P2",
)
def c15_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: both tables written bucketed+sorted
    on the join key, so the join needs NO shuffle at read time —
    Spark's equivalent of Hadoop's pre-partitioned map-side merge
    join, and the way a 100 TB fact table joins repeatedly without
    re-shuffling. tests/test_plans.py asserts the plan is
    Exchange-free. Results are plan-invariant (oracle: plain join).
    """
    from hadoop_release_spark.sources.roundtrip import scratch_dir

    n_buckets = 8
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    base = scratch_dir("c15bucketed")
    (
        orders.write.bucketBy(n_buckets, "o_custkey")
        .sortBy("o_custkey")
        .option("path", f"{base}/orders")
        .mode("overwrite")
        .saveAsTable("bucketed_orders")
    )
    (
        customer.write.bucketBy(n_buckets, "c_custkey")
        .sortBy("c_custkey")
        .option("path", f"{base}/customer")
        .mode("overwrite")
        .saveAsTable("bucketed_customer")
    )
    bo = spark.table("bucketed_orders")
    bc = spark.table("bucketed_customer")
    # merge hint: without it the planner prefers broadcasting the
    # small side (also shuffle-free, but doesn't exercise bucketing);
    # with matching bucket counts the sort-merge join reads buckets
    # pairwise with NO shuffle exchange on either side.
    return bo.hint("merge").join(bc, bo.o_custkey == bc.c_custkey).select(
        "o_orderkey", "o_custkey", "c_name"
    )


@register(
    "c16_correlated_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal, c_nationkey
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
    priority="P2",
)
def c16_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers above their nation's
    average balance. Catalyst decorrelates this into an aggregate +
    join (RewriteCorrelatedScalarSubquery) — the plan a user would
    otherwise hand-write; predicate comparison on raw doubles is
    exact since both engines average per-nation in one pass.

    Note: avg here is the engines' native double avg — safe in a
    FILTER (both sides would only disagree within ~1e-12, and no
    fixture value sits that close to its nation's mean), unlike in a
    hashed OUTPUT where davg/oavg is mandatory.
    """
    temp_view(spark, "customer_c16", table(spark, sf_dir, "customer"))
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal, c_nationkey
        FROM customer_c16 c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_c16 c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@register(
    "c17_exists_chains",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    """,
    priority="P2",
)
def c17_exists_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS +
    correlated NOT EXISTS chained on the same fact table. Catalyst
    decorrelates both into left-semi and left-anti joins on
    l_orderkey — the hand-written alternative at 100 TB would be two
    self-joins of lineitem; expressed declaratively the optimizer
    picks the join order and pushes o_orderstatus/date predicates
    into the scans. 'Late' is shipped >90 days after the order date
    (the slimmed fixture has no receipt/commit dates)."""
    for name in ("supplier", "lineitem", "orders"):
        temp_view(spark, f"{name}_c17", table(spark, sf_dir, name))
    return spark.sql(
        """
        SELECT s.s_name, count(*) AS numwait
        FROM supplier_c17 s
        JOIN lineitem_c17 l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders_c17 o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          AND EXISTS (SELECT 1 FROM lineitem_c17 l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem_c17 l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        GROUP BY s.s_name
        """
    )


@register(
    "c18_recursive_cte",
    oracle="""
    WITH RECURSIVE tree AS (
      SELECT n_nationkey AS node,
             CASE WHEN n_nationkey = 0 THEN NULL
                  ELSE (n_nationkey - 1) // 2 END AS parent
      FROM nation
    ), walk AS (
      SELECT node, 0 AS depth FROM tree WHERE parent IS NULL
      UNION ALL
      SELECT t.node, w.depth + 1
      FROM tree t JOIN walk w ON t.parent = w.node
    )
    SELECT node, CAST(depth AS BIGINT) AS depth FROM walk
    """,
    priority="P2",
)
def c18_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4): walk a
    derived binary-tree hierarchy (parent = (key-1) div 2) from the
    root down, computing each node's depth — the iterative-query
    surface (org charts, BOM explosion, graph reachability) that
    previously required a driver-side loop like operators/dedup.py's
    connected components. Each recursion step is one distributed
    join; the engine handles fixpoint detection."""
    temp_view(spark, "nation_c18", table(spark, sf_dir, "nation"))
    return spark.sql(
        """
        WITH RECURSIVE tree AS (
          SELECT n_nationkey AS node,
                 CASE WHEN n_nationkey = 0 THEN NULL
                      ELSE (n_nationkey - 1) DIV 2 END AS parent
          FROM nation_c18
        ), walk AS (
          SELECT node, 0 AS depth FROM tree WHERE parent IS NULL
          UNION ALL
          SELECT t.node, w.depth + 1
          FROM tree t JOIN walk w ON t.parent = w.node
        )
        SELECT node, CAST(depth AS BIGINT) AS depth FROM walk
        """
    )


@register(
    "c19_join_skew_salted",
    oracle=f"""
    SELECT o_orderpriority,
           {osum("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    priority="P2",
)
def c19_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-and-replicate join — the MANUAL remedy for pathological
    key skew (one customer/orderkey owning a measurable fraction of
    the fact table, which AQE's skew splitting mitigates but a known
    hot key list can beat). Construction: the fact side gets a
    deterministic salt in [0, S); the dim side is replicated S× via
    explode(sequence); the join key becomes (key, salt), spreading
    one hot key's rows over S reducers. The result is provably
    identical to the plain join (every fact row still meets its dim
    row exactly once) — the oracle IS the plain join. At production
    scale, replicate only toward the known-hot keys (split the dim:
    hot subset replicated, cold subset joined plain) so the
    replication cost tracks the skew, not the dim size. S here = 8;
    size it to the hot key's row share vs per-reducer capacity."""
    n_salts = 8
    li = table(spark, sf_dir, "lineitem").withColumn(
        "__salt", F.pmod(F.col("l_linenumber"), F.lit(n_salts)).cast("int")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
    )
    return (
        li.join(
            orders,
            (li["l_orderkey"] == orders["o_orderkey"])
            & (li["__salt"] == orders["__salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            dsum(net_price()).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


#: c20 interval-overlap join constants: synthetic-but-deterministic
#: interval ends (quantity-derived shipping windows, 14-day audit
#: windows on a sparse order subset) and the bin width — set to the
#: max interval length so every interval covers ≤ 2 bins.
IVL_DAY_US = 24 * 3600 * 1_000_000
IVL_BIN_DAYS = 14


@register(
    "c20_join_interval_bins",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             epoch_us(CAST(l_shipdate AS TIMESTAMP)) // {IVL_DAY_US} AS s,
             epoch_us(CAST(l_shipdate AS TIMESTAMP)) // {IVL_DAY_US}
               + CAST(l_quantity AS BIGINT) % 14 AS e
      FROM lineitem
    ), w AS (
      SELECT o_orderkey,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) // {IVL_DAY_US} AS ws,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) // {IVL_DAY_US} + 13 AS we
      FROM orders WHERE o_orderkey % 300 = 0
    )
    SELECT l_returnflag, count(*) AS n_pairs
    FROM li JOIN w ON s <= we AND ws <= e
    GROUP BY l_returnflag
    """,
    priority="P2",
)
def c20_join_interval_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with NO equi key — the case c11's
    equi+residual shape can't cover — made hash-joinable by BIN
    BUCKETING: every interval explodes to the fixed-width time bins
    it touches, the join runs as an EQUI-join on the bin, the true
    overlap predicate filters the candidates, and the FIRST-BIN rule
    (count a pair only in the bin containing max(start_a, start_b))
    makes each pair count exactly once without any dedup shuffle. Intervals
    here are quantity-derived shipping windows × 14-day audit
    windows over a sparse order subset — deterministic, so the
    oracle is the plain overlap join.

    Scale shape: the naive plan is a cartesian nested loop (O(N·M));
    binning makes it O(pairs sharing a bin) through ONE shuffle on
    the bin key. Bin width is the tuning knob: ≈ max interval length
    ⇒ ≤ 2 bins per interval (bounded row expansion, verified in the
    pytest) while keeping bins selective; long-tailed interval
    lengths get capped by splitting giants into multiple bins —
    which this plan already handles, since sequence() emits every
    covered bin. This is the standard distributed interval-join
    strategy; the plan-hygiene gate proves no CartesianProduct
    sneaks in."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    # ntz→utc cast per the ts_us contract rule (session pinned to UTC)
    day = lambda c: (  # noqa: E731
        F.unix_micros(F.col(c).cast("timestamp")) / F.lit(IVL_DAY_US)
    ).cast("bigint")
    left = li.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        day("l_shipdate").alias("s"),
        (day("l_shipdate") + F.col("l_quantity").cast("bigint") % 14).alias("e"),
    )
    win = o.filter(F.col("o_orderkey") % 300 == 0).select(
        "o_orderkey",
        day("o_orderdate").alias("ws"),
        (day("o_orderdate") + 13).alias("we"),
    )
    lb = left.withColumn(
        "bin",
        F.explode(
            F.sequence(
                (F.col("s") / IVL_BIN_DAYS).cast("bigint"),
                (F.col("e") / IVL_BIN_DAYS).cast("bigint"),
            )
        ),
    )
    wb = win.withColumn(
        "bin",
        F.explode(
            F.sequence(
                (F.col("ws") / IVL_BIN_DAYS).cast("bigint"),
                (F.col("we") / IVL_BIN_DAYS).cast("bigint"),
            )
        ),
    )
    pairs = lb.join(wb, "bin").filter(
        (F.col("s") <= F.col("we"))
        & (F.col("ws") <= F.col("e"))
        # first-bin rule: a pair sharing 2 bins matches twice on the
        # equi-join; count it ONLY in the bin holding the overlap
        # start. Exactly-once without a distinct (no second shuffle,
        # and no reliance on row identity — the fixture's lineitem
        # key is not unique).
        & (F.col("bin") == (F.greatest("s", "ws") / IVL_BIN_DAYS).cast("bigint"))
    )
    return pairs.groupBy("l_returnflag").agg(F.count("*").alias("n_pairs"))


#: c21 fuzzy-linkage knobs, shared between Spark and oracle: probes
#: are parts whose key is divisible by PROBE_MOD, corrupted by
#: dropping the name's first character; candidate blocking is on the
#: last BLOCK_CHARS characters (invariant under the corruption); a
#: match is edit distance ≤ FUZZY_MAX_DIST. Block width 6 ≤
#: min(len(p_name)) − 1 == 6, so the suffix is corruption-invariant
#: for EVERY fixture name (shorter names would fall out of their own
#: block — the classic blocking-recall trade, here pinned away).
FUZZY_PROBE_MOD = 97
FUZZY_BLOCK_CHARS = 6
FUZZY_MAX_DIST = 2


@register(
    "c21_join_fuzzy",
    oracle=f"""
    WITH probes AS (
      SELECT p_partkey AS probe_key, substr(p_name, 2) AS probe_name
      FROM part WHERE p_partkey % {FUZZY_PROBE_MOD} = 0
    )
    SELECT pr.probe_key, p.p_partkey AS match_key,
           CAST(levenshtein(pr.probe_name, p.p_name) AS BIGINT) AS dist
    FROM probes pr
    JOIN part p
      ON right(pr.probe_name, {FUZZY_BLOCK_CHARS}) = right(p.p_name, {FUZZY_BLOCK_CHARS})
    WHERE levenshtein(pr.probe_name, p.p_name) <= {FUZZY_MAX_DIST}
    """,
    priority="P1",
)
def c21_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record-linkage join — entity resolution against dirty
    names, the classic blocking+verify shape: probe names (parts
    deterministically corrupted by dropping the first character)
    re-link to the catalog via an EQUI-join on a blocking key (the
    last 6 characters, invariant under the corruption) and an edit
    distance ≤ 2 verify inside each block. Every probe re-finds its
    source at distance 1, so the match set is non-empty and exact.

    Determinism: the corruption is substr (no randomness), blocking
    and levenshtein are identical-by-definition in both engines, and
    all outputs are integers.

    Scale shape: the quadratic levenshtein verify never runs
    all-pairs — the blocking key turns it into an equi-join, so only
    same-block pairs are compared (the same bucket-then-verify
    discipline as l02/l14). The probe side broadcasts when small; at
    100 TB × 100 TB both sides shuffle on the block key and the
    verify stays within buckets. Recall is governed by the blocking
    rule, the documented trade of every linkage system."""
    p = table(spark, sf_dir, "part")
    probes = p.filter(F.col("p_partkey") % FUZZY_PROBE_MOD == 0).select(
        F.col("p_partkey").alias("probe_key"),
        F.expr("substr(p_name, 2)").alias("probe_name"),
    )
    blocked = probes.join(
        p,
        F.expr(f"right(probe_name, {FUZZY_BLOCK_CHARS})")
        == F.expr(f"right(p_name, {FUZZY_BLOCK_CHARS})"),
    )
    return blocked.filter(
        F.levenshtein("probe_name", "p_name") <= FUZZY_MAX_DIST
    ).select(
        "probe_key",
        F.col("p_partkey").alias("match_key"),
        F.levenshtein("probe_name", "p_name").cast("long").alias("dist"),
    )


@register(
    "c22_join_temporal",
    oracle="""
    WITH touches AS (
      SELECT user_id, event_type AS attr,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us, event_id
      FROM events WHERE event_type IN ('view', 'click')
    ), changes AS (
      SELECT user_id, attr, us, event_id FROM (
        SELECT *, lag(attr) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS prev_attr
        FROM touches)
      WHERE prev_attr IS NULL OR attr <> prev_attr
    ), purchases AS (
      SELECT user_id, event_id AS purchase_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
      FROM events WHERE event_type = 'purchase'
    ), merged AS (
      SELECT user_id, us, 1 AS is_fact, purchase_id, NULL AS attr,
             purchase_id AS tie_id FROM purchases
      UNION ALL
      SELECT user_id, us, 0 AS is_fact, NULL AS purchase_id, attr,
             event_id AS tie_id FROM changes
    ), filled AS (
      SELECT *, count(attr) OVER (PARTITION BY user_id
                                  ORDER BY us, is_fact, tie_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS grp
      FROM merged
    )
    SELECT purchase_id, user_id, us AS purchase_us,
           max(attr) OVER (PARTITION BY user_id, grp) AS segment_at_purchase
    FROM filled QUALIFY is_fact = 1
    """,
    priority="P1",
)
def c22_join_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join — fact rows joined to the
    dimension version VALID AT the fact's timestamp: each purchase
    picks up the user's behavioral segment (last view/click attr
    run, the e20 SCD2 derivation) as of the purchase instant.
    Purchases before any touch get NULL — never a future version
    (the lookahead-leak every naive BETWEEN join risks).

    The scale-correct plan is NOT a range join against the validity
    intervals: it is union-and-carry-forward — dimension change rows
    and fact rows interleave on one (user, time) order and the last
    non-null attr is carried forward to each fact row (the c12 as-of
    discipline without materializing intervals). Sort key
    (us, is_fact, id) puts a same-instant change BEFORE the fact row,
    so versions apply inclusively at their boundary.

    Portability: carry-forward uses the e15 fill-group idiom
    (running count of non-nulls → per-group max) instead of
    last_value IGNORE NULLS, which the two engines frame
    differently.

    Scale shape: two user_id exchanges — the change-mark lag pass,
    then the interleaved carry-forward over the union (a union does
    not preserve its branches' partitioning, so the second exchange
    is structural); both inputs are slim projections and window
    state is one attr per group. At 100 TB this
    is the standard point-in-time feature join of feature-store
    reads, and it beats the interval-join formulation exactly
    because validity intervals never materialize."""
    ev = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    changes = (
        touches.withColumn("prev_attr", F.lag("attr").over(wo))
        .filter(F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr")))
        .select(
            "user_id",
            F.col("us"),
            F.lit(0).alias("is_fact"),
            F.lit(None).cast("long").alias("purchase_id"),
            "attr",
            F.col("event_id").alias("tie_id"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(1).alias("is_fact"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("string").alias("attr"),
        F.col("event_id").alias("tie_id"),
    )
    wf = Window.partitionBy("user_id").orderBy("us", "is_fact", "tie_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = purchases.unionByName(changes).withColumn(
        "grp", F.count("attr").over(wf)
    )
    wg = Window.partitionBy("user_id", "grp")
    return (
        filled.withColumn("segment_at_purchase", F.max("attr").over(wg))
        .filter(F.col("is_fact") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("us").alias("purchase_us"),
            "segment_at_purchase",
        )
    )


@register(
    "c23_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT c_custkey, NULLIF(c_nationkey % 7, 3) AS k FROM customer
    ), b AS (
      SELECT s_suppkey, NULLIF(s_nationkey % 7, 3) AS k FROM supplier
    )
    SELECT a.k AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT a.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT b.s_suppkey) AS BIGINT) AS n_suppliers
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
    priority="P2",
)
def c23_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM) —
    the join semantics b09 pins for filters, at the JOIN level: NULL
    keys MATCH EACH OTHER instead of silently dropping (the standard
    equi-join loses every null-keyed row on both sides — the classic
    silent-data-loss bug when keys are optional). Key buckets are
    derived with NULLIF so the fixture genuinely exercises the
    null-null path; the null bucket surfaces as its own group.

    Determinism: counts only.

    Scale shape: Spark plans ``<=>`` as a regular hash join (null
    hashes to a bucket like any value) — same ONE shuffle as c01,
    same AQE skew handling. The caveat at 100 TB: the NULL key is
    ONE hash bucket, so null-heavy sides are the textbook skew key —
    exactly what c19's salting mitigates; flagged here so the
    operator carries its own warning."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("ka")
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey") % 7, F.lit(3)).alias("kb")
    )
    return (
        c.join(s, F.col("ka").eqNullSafe(F.col("kb")))
        .groupBy(F.col("ka").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.count_distinct("c_custkey").cast("bigint").alias("n_customers"),
            F.count_distinct("s_suppkey").cast("bigint").alias("n_suppliers"),
        )
    )


#: c24 — ONE dialect-neutral LATERAL statement run verbatim by BOTH
#: engines (the s09 pattern): the oracle IS this text.
_C24_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE orders.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


@register("c24_join_lateral", oracle=_C24_SQL, priority="P2")
def c24_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (the Hive LATERAL VIEW / SQL:1999
    lateral-derived-table surface): top-2 orders per customer, the
    per-row-subquery phrasing of e10's top-k-per-group. The SAME SQL
    text runs on both engines — proving the engine's lateral SQL
    frontend, not just a hand-built plan that happens to agree.

    Scale shape: Catalyst decorrelates the lateral subquery with
    ORDER BY+LIMIT into a rank-filtered join (DomainJoin rewrite) —
    one shuffle on the correlation key, never a per-customer
    re-execution of the inner query. Customers without orders drop
    (inner lateral), so the result is |matching customers| × ≤2."""
    for name in ("customer", "orders"):
        temp_view(spark, name, table(spark, sf_dir, name))
    return spark.sql(_C24_SQL)


@register(
    "c25_join_nearest_event",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
      FROM events WHERE event_type IN ('error', 'click')
    ), nb AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'click' THEN us END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_us,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_id,
             first_value(CASE WHEN event_type = 'click' THEN us END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_us,
             first_value(CASE WHEN event_type = 'click' THEN event_id END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_id
      FROM ev
    )
    SELECT event_id, user_id,
           CASE WHEN next_us IS NULL
                     OR (prev_us IS NOT NULL
                         AND us - prev_us <= next_us - us)
                THEN prev_id ELSE next_id END AS nearest_click_id,
           CASE WHEN next_us IS NULL
                     OR (prev_us IS NOT NULL
                         AND us - prev_us <= next_us - us)
                THEN us - prev_us ELSE next_us - us END AS gap_us
    FROM nb WHERE event_type = 'error'
    """,
    priority="P2",
)
def c25_join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction temporal join: each error event pairs with
    the temporally closest click by the same user, looking BOTH ways
    (c12's as-of join is backward-only; this is pandas
    merge_asof(direction='nearest') semantics). Tie at equal gap →
    the earlier (backward) click; users with no click yield NULLs
    (left-join semantics).

    Implementation: no join at all — both sides interleave into one
    (user_id)-partitioned stream ordered by (µs, event_id), and four
    frame-bounded first/last IGNORE NULLS windows sharing that ONE
    sort produce the previous/next click per row; the nearest pick
    is a pure projection. The candidate-pair explosion a range join
    would risk (|errors|×|clicks| per user) never exists.

    Scale shape: one shuffle on user_id; all four windows reuse the
    same exchange+sort (plan-pinned for e26/e27 alike). The
    pre-filter to the two relevant event types pushes to the scan."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "click")
    )
    sel = ev.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wn = w.rowsBetween(1, Window.unboundedFollowing)
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    nb = sel.select(
        "*",
        F.last(click_us, ignorenulls=True).over(wp).alias("prev_us"),
        F.last(click_id, ignorenulls=True).over(wp).alias("prev_id"),
        F.first(click_us, ignorenulls=True).over(wn).alias("next_us"),
        F.first(click_id, ignorenulls=True).over(wn).alias("next_id"),
    )
    pick_prev = F.col("next_us").isNull() | (
        F.col("prev_us").isNotNull()
        & (F.col("us") - F.col("prev_us") <= F.col("next_us") - F.col("us"))
    )
    return nb.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.when(pick_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("nearest_click_id"),
        F.when(pick_prev, F.col("us") - F.col("prev_us"))
        .otherwise(F.col("next_us") - F.col("us"))
        .alias("gap_us"),
    )


@register(
    "c26_join_dpp",
    oracle="""
    WITH dim AS (
      SELECT event_type
      FROM events GROUP BY event_type
      HAVING sum(CAST(value AS DECIMAL(25,8))) > 50 * count(*)
    )
    SELECT e.event_type, count(*) AS n_events
    FROM events e JOIN dim USING (event_type)
    GROUP BY e.event_type
    """,
    priority="P2",
)
def c26_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — THE 100 TB star-join scan killer:
    the fact table is laid out partitioned by the join key, the dim
    filter is on a NON-key attribute (here: mean event value > 50,
    via the exact-decimal form sum > 50·count so both engines cut
    the same groups), so the set of surviving partitions is known
    only at RUNTIME. Catalyst plants a dynamicpruning subquery in
    the fact scan's PartitionFilters (plan-pinned): the dim side
    evaluates first and unselected partition DIRECTORIES are never
    read — at a 1000-partition fact table with 2 qualifying keys,
    998 directories of I/O vanish. Static pushdown (a06's re-read
    filter) cannot do this; c02's broadcast prunes ROWS, this
    prunes FILES.

    Scale shape: the partitioned scratch layout stands in for the
    production table layout; dim agg is partial+final; the join is
    planner-chosen broadcast at this dim size."""
    from hadoop_release_spark.sources.roundtrip import fixed_scratch_dir

    ev = table(spark, sf_dir, "events").drop("ts_ns")
    # Stable per-sf_dir path: static overwrite truncates it, so
    # repeated grading/bench runs reuse ONE copy instead of leaking a
    # full partitioned events clone per invocation (advisor find).
    path = fixed_scratch_dir("c26dpp", key=sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(25,8)")).alias("sv"),
            F.count("*").alias("cnt"),
        )
        .filter(F.col("sv") > F.col("cnt") * 50)
    )
    return (
        fact.join(dim.select("event_type"), "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
