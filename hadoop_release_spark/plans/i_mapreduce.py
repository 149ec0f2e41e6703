"""§2.I — the MapReduce canonical programs.

These are the reference's own flagship computations: every Apache
Hadoop release ships them in ``hadoop-mapreduce-examples`` (public
surface implied by /root/reference/README.md:4 — the repo itself has
no code, SURVEY.md §0). Re-expressed as DataFrame plans, each one's
hand-built MapReduce machinery maps to a Catalyst physical feature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.contracts import dsum, net_price, osum
from hadoop_release_spark.functions.materialize import persist
from hadoop_release_spark.plans.registry import register


@register(
    "i01_mr_wordcount",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
    priority="P0",
)
def i01_mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wordcount — THE canonical MapReduce program.

    map = explode(split), combine+reduce = partial/final
    HashAggregate. The map-side partial agg is exactly Hadoop's
    combiner: the shuffle carries one row per (task, token), not one
    per word occurrence — the difference between shuffling ~vocab-size
    and shuffling the whole corpus at 100 TB.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "i02_mr_grep",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, 'th[a-z]+'))) AS BIGINT) AS n_matches
    FROM documents
    WHERE regexp_matches(text, 'th[a-z]+')
    GROUP BY lang
    """,
)
def i02_mr_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grep — the Hadoop example: count regex matches per group.
    map = regexp filter+count, reduce = sum."""
    docs = table(spark, sf_dir, "documents")
    pat = "th[a-z]+"
    return (
        docs.filter(F.col("text").rlike(pat))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.regexp_count(F.col("text"), F.lit(pat))).cast("long").alias("n_matches"),
        )
    )


@register(
    "i03_mr_secondary_sort",
    oracle="""
    SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events
    """,
)
def i03_mr_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary sort — values time-ordered within each reduce group.

    The raw MapReduce idiom is repartition(user_id) +
    sortWithinPartitions(user_id, ts): one shuffle, values arrive
    ordered per key. The contract output uses the equivalent window
    (same shuffle + sort in the physical plan) so the sequence is a
    hashable column.
    """
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", "user_id", F.row_number().over(w).alias("seq"))


@register(
    "i04_mr_partitioner",
    oracle="SELECT c_custkey, c_nationkey FROM customer",
    priority="P2",
)
def i04_mr_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom partitioner: hash-repartition by nation key, then an
    identity projection — partitioning must never change the row
    multiset (Hadoop's Partitioner contract)."""
    c = table(spark, sf_dir, "customer")
    return c.repartition(8, "c_nationkey").select("c_custkey", "c_nationkey")


@register(
    "i05_mr_combiner",
    oracle=f"""
    SELECT l_suppkey, count(*) AS n, {osum("l_quantity")} AS sum_qty
    FROM lineitem GROUP BY l_suppkey
    """,
)
def i05_mr_combiner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combiner equivalence: Spark always plans partial (map-side)
    + final (reduce-side) HashAggregate — Hadoop's combiner, but
    automatic. tests/test_plans.py asserts the two-phase shape on
    the physical plan."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "i06_mr_distcache_join",
    oracle=f"""
    SELECT r_name, count(*) AS n_items,
           {osum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def i06_mr_distcache_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-cache join: every dim (supplier/nation/region) is
    bounded, so all three broadcast — zero shuffles on the fact table
    until the final aggregation."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_items"),
            dsum(net_price()).alias("revenue"),
        )
    )


@register(
    "i07_mr_counters",
    oracle="""
    SELECT count(*) AS n_total,
           count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
           count(CASE WHEN l_quantity > 40 THEN 1 END) AS n_bulk,
           count(CASE WHEN l_discount > 0.08 THEN 1 END) AS n_deep_discount
    FROM lineitem
    """,
    priority="P2",
)
def i07_mr_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job counters: per-condition record counts emitted as one row.
    (SparkContext accumulators exist for side-channel counting, but
    conditional aggregation is the dataflow-native form.)"""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.count(F.when(F.col("l_quantity") > 40, 1)).alias("n_bulk"),
        F.count(F.when(F.col("l_discount") > 0.08, 1)).alias("n_deep_discount"),
    )


@register(
    "i08_mr_distcp",
    oracle="SELECT * FROM region",
    priority="P2",
)
def i08_mr_distcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistCp — fault-tolerant bulk copy: copy the region dataset
    tree, re-read the copy, verify the identical multiset. Locally a
    filesystem copy; on a cluster the same operation is a
    distributed per-file copy job over file listings."""
    import shutil

    from hadoop_release_spark.sources.roundtrip import scratch_dir

    dest = scratch_dir("i08distcp") + "/region.parquet"
    shutil.copy(f"{sf_dir}/region.parquet", dest)
    return spark.read.parquet(dest)


@register(
    "i09_mr_inverted_index",
    oracle="""
    SELECT token AS term,
           count(DISTINCT doc_id) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
    priority="P1",
)
def i09_mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index — the second-canonical MapReduce program (after
    wordcount): term → sorted posting list of containing docs + df.

    map = explode(split), reduce = per-term distinct + sort. The
    shuffle ships (term, doc_id) pairs once; map-side partial
    aggregation dedups within-task repeats first. Postings ride as a
    comma-joined string (the d15 rule: strings hash portably, raw
    arrays may not). At 100 TB the hazard is stopword terms whose
    posting lists exceed one task's memory — production layout
    shards those by (term, doc_id_bucket) and stores the index
    partitioned by term prefix; the fixture keeps full lists."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias("postings"),
        )
    )


#: i10 PageRank constants — all-integer arithmetic so five chained
#: iterations stay bit-identical across engines (scaled ranks;
#: damping 0.85 applied as (85·x) DIV 100).
PR_BASE = 1_000_000_000
PR_TELEPORT = 150_000_000  # 0.15 × PR_BASE
PR_ITERS = 5


def _pagerank_oracle() -> str:
    cte = f"""
    WITH edges AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey != c.c_nationkey
    ), deg AS (
      SELECT src, count(*) AS outdeg FROM edges GROUP BY src
    ), ed AS (
      SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src
    ), r0 AS (
      SELECT n_nationkey AS node, CAST({PR_BASE} AS BIGINT) AS pr FROM nation
    )"""
    for k in range(1, PR_ITERS + 1):
        cte += f""", r{k} AS (
      SELECT n.node,
             CAST({PR_TELEPORT} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
      FROM r0 n LEFT JOIN (
        SELECT ed.dst, CAST(SUM(r.pr // ed.outdeg) AS BIGINT) AS s
        FROM ed JOIN r{k - 1} r ON ed.src = r.node GROUP BY ed.dst) c
      ON n.node = c.dst
    )"""
    return cte + f"\n    SELECT node AS n_nationkey, pr AS pagerank_scaled FROM r{PR_ITERS}"


@register("i10_mr_pagerank", oracle=_pagerank_oracle(), priority="P1")
def i10_mr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank — THE canonical iterative MapReduce/Pregel workload,
    over the supplier-nation → customer-nation trade graph (who
    supplies whom). Each iteration: contrib = pr/outdeg shipped along
    edges, new pr = teleport + damping · Σ contribs at the dst.

    Determinism design: ranks are SCALED BIGINTs and every step is
    integer arithmetic (DIV truncation, 85·x DIV 100 damping), so
    five chained iterations are bit-identical across engines — this
    is how an *iterative* algorithm gets a full hash oracle where
    float accumulation (l21 kmeans) cannot. Dangling-node mass is
    dropped (standard simplification), teleport keeps ranks alive.

    Scale shape: one lazy plan, no driver round-trip and no job per
    iteration. The edge list is derived once (4-way join, the c13
    star shape) and joined to out-degree; one aggregate then gathers
    the whole graph into ONE row — every edge ``e`` (src, dst,
    outdeg) and every node ``v`` — and the PR_ITERS iterations run
    inside that row as higher-order functions: an ``aggregate`` over
    ``sequence(1, PR_ITERS)`` whose accumulator is the rank array,
    each step summing ``pr[src] DIV outdeg`` over the edges into
    each node. A node with no in-edges sums nothing and gets exactly
    the teleport rank; an edge whose src or dst is not a nation adds
    nothing, as in the oracle's joins. The row is bounded: nodes are
    nations (a ``catalog.BROADCAST_DIMS`` table), so it holds at most
    |nation|² edges whatever the fact tables' size, and only the
    4-way join scales with the data. Measured against this at sf0.01
    and rejected: the co-partitioned loop (edges hash-partitioned by
    dst and persisted, ranks broadcast each iteration), whose 21 jobs
    took twice as long — an adaptive cached plan reports its
    partitioning only once materialized, so each iteration still
    shuffled its partial sums. At web scale (nodes ≫ one row) that
    loop is the exit: edges partitioned by ``src`` with ranks
    co-partitioned by node, one map-side-combined contrib shuffle
    per iteration."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    graph = (
        edges.join(deg, "src")
        .select(F.struct("src", "dst", "outdeg").alias("e"))
        .unionByName(n.select(F.col("n_nationkey").alias("v")), allowMissingColumns=True)
        .agg(F.collect_list("e").alias("e"), F.collect_list("v").alias("v"))
    )
    step = f"""transform(v, x -> CAST({PR_TELEPORT} + (85 * aggregate(
        filter(e, y -> y.dst = x), 0L,
        (s, y) -> s + coalesce(map_from_arrays(v, pr)[y.src] DIV y.outdeg, 0L))) DIV 100
      AS BIGINT))"""
    ranks = F.expr(
        f"aggregate(sequence(1, {PR_ITERS}), transform(v, x -> CAST({PR_BASE} AS BIGINT)),"
        f" (pr, k) -> {step})"
    )
    return graph.select(
        F.inline(F.arrays_zip(F.col("v").alias("n_nationkey"), ranks.alias("pagerank_scaled")))
    )


@register(
    "i11_mr_triangles",
    oracle="""
    WITH und AS (
      SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS u,
             greatest(s.s_nationkey, c.c_nationkey) AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey != c.c_nationkey
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
      JOIN und e2 ON e1.v = e2.u
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    ), corners AS (
      SELECT a AS node FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    )
    SELECT n.n_nationkey, CAST(COALESCE(t.cnt, 0) AS BIGINT) AS n_triangles
    FROM nation n LEFT JOIN
      (SELECT node, count(*) AS cnt FROM corners GROUP BY node) t
    ON n.n_nationkey = t.node
    """,
    priority="P1",
)
def i11_mr_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting — the canonical graph-MapReduce
    benchmark (community detection / clustering-coefficient input),
    over the same supplier-nation → customer-nation trade graph as
    i10, taken undirected.

    Algorithm: canonicalize each edge to u < v (kills duplicates and
    direction), then the oriented two-join: wedges (u→v→w with
    u < v < w via the canonical order) closed by an edge-existence
    join on (u, w). Orientation means each triangle is produced
    EXACTLY once — the classic trick that also bounds the wedge
    join, since every wedge center fans out only to higher-numbered
    neighbors. Per-node counts come from exploding each triangle to
    its three corners.

    Scale shape: derive-edges is the c13 star join producing a slim
    distinct (u, v) list; the wedge join and closure join are hash
    joins on node ids. At web scale the wedge step is the known
    hot spot (high-degree hubs) — the standard mitigation this plan
    inherits by construction is degree-orientation (orient edges
    low-degree → high-degree instead of by id), which caps fan-out
    at O(sqrt(edges)) per node; the fixture's 25-node graph needs no
    such refinement. No cartesian anywhere — closure is an equi-join
    on (u, v) pairs."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    # persist: the wedge/closure joins reference the edge list
    # THREE times — without caching, each alias re-executes the
    # whole 4-way star join (measured: 9 lineitem scans). The
    # edge list is node-bounded (≤ nodes², tiny), the same
    # bounded-state argument as i10's rank table.
    und = persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("u"),
            F.greatest("s_nationkey", "c_nationkey").alias("v"),
        )
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    counts = corners.groupBy("node").agg(F.count("*").alias("cnt"))
    return (
        n.join(counts, n.n_nationkey == counts.node, "left")
        .select(
            "n_nationkey",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("n_triangles"),
        )
    )


#: i12 — BFS unroll depth (levels beyond the seed).
BFS_LEVELS = 3
BFS_SEED = 0


@register(
    "i12_mr_bfs",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey != c.c_nationkey
    ), l0 AS (
      SELECT {BFS_SEED} AS node
    ), l1 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON e.src = l0.node
    ), l2 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON e.src = l1.node
    ), l3 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l2 ON e.src = l2.node
    ), lv AS (
      SELECT node, 0 AS dist FROM l0
      UNION ALL SELECT node, 1 FROM l1
      UNION ALL SELECT node, 2 FROM l2
      UNION ALL SELECT node, 3 FROM l3
    )
    SELECT n.n_nationkey,
           CAST(COALESCE(d.dist, -1) AS BIGINT) AS hops
    FROM nation n LEFT JOIN
      (SELECT node, min(dist) AS dist FROM lv GROUP BY node) d
    ON n.n_nationkey = d.node
    """,
    priority="P1",
)
def i12_mr_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search — the third canonical iterative
    MapReduce/Pregel program next to i10 PageRank and i11 triangles:
    minimum hop count from a seed nation over the directed trade
    graph, BFS_LEVELS expansion rounds, unreached nodes −1.

    All-integer (hop counts and min), so the iterative chain is
    bit-identical cross-engine and the oracle is the same expansion
    UNROLLED into CTE levels — the i10 trick for hash-checking an
    iterative algorithm.

    Scale shape: the frontier is node-bounded (≤ |nodes| rows), so
    each round is a broadcast-able join against the edge list
    followed by a distinct — the Pregel message step. Visited-set
    pruning (joining out already-seen nodes) keeps frontiers
    shrinking; at billion-edge scale the same loop runs with edges
    hash-partitioned by src and the frontier co-partitioned instead
    of broadcast (identical plan shape, bigger exchange), which is
    exactly Pregel-on-shuffle."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    edges = persist(  # referenced once per level; node²-bounded
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .distinct()
    )
    # Seed from the node table (not a literal row): a scan-derived
    # frontier keeps every level a real broadcast HASH join — a
    # constant-folded literal degrades the first level to a
    # nested-loop plan.
    frontier = n.filter(F.col("n_nationkey") == BFS_SEED).select(
        F.col("n_nationkey").alias("node")
    )
    levels = frontier.select("node", F.lit(0).alias("dist"))
    for k in range(1, BFS_LEVELS + 1):
        # Eager materialization per level:
        # without it level k's broadcast re-executes the whole
        # k−1-deep join lineage and the loop goes quadratic in
        # depth. State is node-bounded.
        frontier = persist(
            edges.join(
                F.broadcast(frontier.withColumnRenamed("node", "src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier.count()
        levels = levels.unionAll(frontier.select("node", F.lit(k).alias("dist")))
    dist = levels.groupBy("node").agg(F.min("dist").alias("dist"))
    return n.join(dist, n.n_nationkey == dist.node, "left").select(
        "n_nationkey",
        F.coalesce(F.col("dist"), F.lit(-1)).cast("bigint").alias("hops"),
    )


#: i13 — label-propagation rounds (graph diameter bound for the
#: 25-node trade graph; a convergence loop with a raise — the l22
#: discipline — replaces the fixed unroll on unbounded graphs).
CC_ROUNDS = 3


@register(
    "i13_mr_components",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS u,
             greatest(s.s_nationkey, c.c_nationkey) AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey != c.c_nationkey
    ), sym AS (
      SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und
    ), l0 AS (
      SELECT n_nationkey AS node, n_nationkey AS lbl FROM nation
    ), l1 AS (
      SELECT l.node, least(l.lbl, COALESCE(min(nl.lbl), l.lbl)) AS lbl
      FROM l0 l LEFT JOIN sym e ON e.a = l.node
                LEFT JOIN l0 nl ON nl.node = e.b
      GROUP BY l.node, l.lbl
    ), l2 AS (
      SELECT l.node, least(l.lbl, COALESCE(min(nl.lbl), l.lbl)) AS lbl
      FROM l1 l LEFT JOIN sym e ON e.a = l.node
                LEFT JOIN l1 nl ON nl.node = e.b
      GROUP BY l.node, l.lbl
    ), l3 AS (
      SELECT l.node, least(l.lbl, COALESCE(min(nl.lbl), l.lbl)) AS lbl
      FROM l2 l LEFT JOIN sym e ON e.a = l.node
                LEFT JOIN l2 nl ON nl.node = e.b
      GROUP BY l.node, l.lbl
    )
    SELECT node AS n_nationkey, CAST(lbl AS BIGINT) AS component
    FROM l3
    """,
    priority="P1",
)
def i13_mr_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components — the fourth graph-MR canon (with i10
    PageRank, i11 triangles, i12 BFS): min-label propagation over
    the undirected trade graph, CC_ROUNDS rounds unrolled. Each
    round every node takes the min of its own label and its
    neighbors' — after diameter rounds, labels are the component
    minima.

    All-integer min propagation ⇒ rounds are bit-identical
    cross-engine, and the oracle unrolls the same rounds as CTEs
    (the i10/i12 trick). The fixed unroll is the fixture's diameter
    bound; the unbounded-graph variant is l22's convergence loop
    (operators/dedup.py), which RAISES if labels haven't stabilized
    — same per-round plan, checked termination.

    Scale shape: per round, one join of labels against the
    symmetrized edge list + a min agg — labels are node-bounded
    (broadcast-able here; co-partitioned by node id at billion-node
    scale, where each round's shuffle carries one label per edge,
    combiner-compressed per (task, node))."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    und = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("u"),
            F.greatest("s_nationkey", "c_nationkey").alias("v"),
        )
        .distinct()
    )
    sym = persist(  # referenced once per round; edge-bounded
        und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
            und.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
    )

    labels = n.select(
        F.col("n_nationkey").alias("node"), F.col("n_nationkey").alias("lbl")
    )
    prev = None
    for _ in range(CC_ROUNDS):
        neighbor_min = (
            sym.join(
                F.broadcast(labels.withColumnRenamed("node", "b").withColumnRenamed("lbl", "nl")),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("nl").alias("nmin"))
        )
        # Eager materialization per round:
        # round k's two broadcasts would otherwise re-execute the
        # whole k−1-deep lineage. One row per node.
        labels = persist(
            labels.join(F.broadcast(neighbor_min), "node", "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))).alias("lbl"),
            )
        )
        labels.count()
        if prev is not None:
            prev.unpersist()
        prev = labels
    return labels.select(
        F.col("node").alias("n_nationkey"), F.col("lbl").cast("bigint").alias("component")
    )


#: i14 — peel threshold and the BOUNDED round budget. The contract is
#: the iterated k-peel itself (R degree-filter passes), NOT the full
#: k-core fixpoint: on the current sf0.01 graph the k=6 peel runs 7
#: rounds to an empty core while k<=5 peels nothing, so a truncated
#: peel is the only non-trivial deterministic contract this graph
#: admits — and the bounded pass is exactly what a production graph-
#: cleaning pipeline runs per batch, with R as the iteration budget
#: (run to convergence by looping the same operator; the l22
#: convergence-raise discipline applies there). The deterministic
#: (u*11+v*17)%10<3 thinning sparsifies the near-complete nation
#: graph so the peel removes something — pure integer arithmetic,
#: portable to any engine.
KCORE_K = 6
KCORE_ROUNDS = 3
_KCORE_THIN = "(u * 11 + v * 17) % 10 < 3"


def _kcore_level_sql() -> str:
    """Unrolled peel rounds as CTEs (the i10/i12/i13 trick that gives
    an iterative algorithm a full hash oracle): s{i} = nodes of
    s{i-1} whose degree WITHIN s{i-1} is >= k."""
    parts = []
    prev = "s0"
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""deg{i} AS (
      SELECT node, count(*) AS d FROM (
        SELECT e.u AS node FROM thin e
        JOIN {prev} a ON e.u = a.node JOIN {prev} b ON e.v = b.node
        UNION ALL
        SELECT e.v FROM thin e
        JOIN {prev} a ON e.u = a.node JOIN {prev} b ON e.v = b.node
      ) GROUP BY node
    ), s{i} AS (
      SELECT node FROM deg{i} WHERE d >= {KCORE_K}
    )"""
        )
        prev = f"s{i}"
    return ", ".join(parts)


@register(
    "i14_mr_kcore",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS u,
             greatest(s.s_nationkey, c.c_nationkey) AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey != c.c_nationkey
    ), thin AS MATERIALIZED (
      SELECT u, v FROM und WHERE {_KCORE_THIN}
    ), s0 AS (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM thin UNION ALL SELECT v FROM thin)
    ), {{levels}}, core_deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT e.u AS node FROM thin e
        JOIN s{KCORE_ROUNDS} a ON e.u = a.node
        JOIN s{KCORE_ROUNDS} b ON e.v = b.node
        UNION ALL
        SELECT e.v FROM thin e
        JOIN s{KCORE_ROUNDS} a ON e.u = a.node
        JOIN s{KCORE_ROUNDS} b ON e.v = b.node
      ) GROUP BY node
    )
    SELECT n.n_nationkey,
           CAST(CASE WHEN cd.node IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS survives_peel,
           CAST(COALESCE(cd.d, 0) AS BIGINT) AS peel_degree
    FROM nation n LEFT JOIN core_deg cd ON n.n_nationkey = cd.node
    """.replace("{levels}", _kcore_level_sql()),
    priority="P2",
)
def i14_mr_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated k-peel — the k-core ALGORITHM under a bounded round
    budget (the fourth canonical iterative graph program next to i10
    PageRank, i12 BFS, i13 components): each round drops nodes whose
    degree within the surviving subgraph falls below k. Run to
    convergence this yields the k-core; the CONTRACT here is the
    KCORE_ROUNDS-round bounded peel (see the constant's comment —
    the current fixture graph admits no non-trivial fixpoint, and a
    per-batch iteration budget is how production pipelines run the
    peel anyway). Output: per nation, whether it survives the
    bounded peel and its degree in the surviving subgraph.
    All-integer state (degrees, node ids), so the peel is
    bit-identical cross-engine and the oracle is the same rounds
    UNROLLED into CTEs.

    Scale shape: each round is two semi-joins of the edge list
    against the node-bounded survivor set (broadcast at this size;
    co-partitioned by endpoint at billion-edge scale) + one degree
    agg with map-side partials. The edge list derives once and
    persists; the fixed small unroll compiles into one declarative
    plan (see below)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    und = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("u"),
            F.greatest("s_nationkey", "c_nationkey").alias("v"),
        )
        .distinct()
    )
    edges = persist(und.filter(F.expr(_KCORE_THIN)))
    # Eager: the unrolled peel references the edge list 8 times; one
    # materialization up front keeps the 4-way derivation single-run.
    edges.count()

    def degrees(nodes):
        """Degree of every node over edges whose BOTH endpoints
        survive in ``nodes``. No broadcast hints: the survivor set is
        node-bounded and AQE already picks broadcast joins — a FORCED
        BroadcastExchange per membership check measured 2-5x slower
        here (eager exchange builds serialize on this VM's job
        overhead), and on a real cluster the planner should stay free
        to co-partition instead once survivors outgrow the broadcast
        threshold."""
        kept = edges.join(nodes.withColumnRenamed("node", "u"), "u").join(
            nodes.withColumnRenamed("node", "v"), "v"
        )
        ends = kept.select(F.explode(F.array("u", "v")).alias("node"))
        return ends.groupBy("node").agg(F.count("*").alias("d"))

    # Fixed small unroll -> ONE declarative plan (mirroring the
    # oracle's unrolled CTEs): with KCORE_ROUNDS bounded and the edge
    # list cached, letting Catalyst see the whole 3-round join tree
    # costs one plan compile and one job (measured 4 s vs 10 s with
    # per-round persist+count on this VM's job overhead). The
    # per-round eager-materialization discipline (i12/i13) remains
    # the right shape when the round count is UNBOUNDED.
    survivors = edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    for _ in range(KCORE_ROUNDS):
        survivors = degrees(survivors).filter(F.col("d") >= KCORE_K).select("node")

    core_deg = degrees(survivors)
    return n.join(core_deg, n.n_nationkey == core_deg.node, "left").select(
        "n_nationkey",
        F.when(F.col("node").isNull(), 0)
        .otherwise(1)
        .cast("bigint")
        .alias("survives_peel"),
        F.coalesce(F.col("d"), F.lit(0)).cast("bigint").alias("peel_degree"),
    )


@register(
    "i15_mr_matmul",
    oracle="""
    WITH a AS (
      SELECT CAST(l_partkey % 40 AS BIGINT) AS i,
             CAST(l_suppkey % 30 AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS av
      FROM lineitem GROUP BY 1, 2
    ), b AS (
      SELECT CAST(o_custkey % 30 AS BIGINT) AS k,
             CAST(o_orderkey % 20 AS BIGINT) AS j,
             CAST(count(*) AS BIGINT) AS bv
      FROM orders GROUP BY 1, 2
    )
    SELECT a.i, b.j, CAST(sum(a.av * b.bv) AS BIGINT) AS c
    FROM a JOIN b ON a.k = b.k
    GROUP BY a.i, b.j
    """,
    priority="P2",
)
def i15_mr_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse matrix multiply — the last canonical MapReduce program
    missing from the i-family (wordcount, grep, sorts, joins, graph
    ops, inverted index … and matmul): C(i,j) = Σ_k A(i,k)·B(k,j)
    as the classic two-job shape — map emits by shared inner
    dimension k, reduce joins and partially aggregates (i,j). The
    40×30 / 30×20 integer matrices derive deterministically from the
    fixture keys (cell = occurrence count), so C is exact bigint and
    full-hash.

    Scale shape: build each sparse matrix with ONE partial+final agg
    over its fact table, join on k (planner-chosen; both sides
    collapsed to matrix cells, not fact rows), then ONE (i,j) agg
    with map-side combine — Spark fuses MapReduce's two jobs into a
    single shuffle DAG, no intermediate HDFS materialization. For
    dense blocks at cluster scale the same plan runs over
    block-partitioned cells ((i-block, k-block) keys) so no single
    k-stripe exceeds a task; cell values wider than bigint move to
    decimal(38,0) unchanged."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    a = (
        li.groupBy(
            (F.col("l_partkey") % 40).cast("long").alias("i"),
            (F.col("l_suppkey") % 30).cast("long").alias("k"),
        )
        .agg(F.count("*").cast("long").alias("av"))
    )
    b = (
        o.groupBy(
            (F.col("o_custkey") % 30).cast("long").alias("k"),
            (F.col("o_orderkey") % 20).cast("long").alias("j"),
        )
        .agg(F.count("*").cast("long").alias("bv"))
    )
    return (
        a.join(b, "k")
        .groupBy("i", "j")
        .agg(F.sum(F.col("av") * F.col("bv")).cast("long").alias("c"))
    )


@register(
    "i16_mr_cooccurrence",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
      FROM ud GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ud a JOIN ud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, sa.n_users AS n_a, sb.n_users AS n_b,
           p.n_both,
           CAST(p.n_both AS DOUBLE)
             / CAST(sa.n_users + sb.n_users - p.n_both AS DOUBLE)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.type_a = sa.event_type
    JOIN sizes sb ON p.type_b = sb.event_type
    """,
    priority="P2",
)
def i16_mr_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence 'pairs' — the canonical MapReduce design
    pattern (Lin & Dyer ch.3) the i-family was missing: emit
    (item_a, item_b) per shared context, aggregate counts, derive
    the association measure — here event types co-engaged by the
    same user, scored by Jaccard of their user sets (the
    link-prediction / market-basket primitive). Exact integers, one
    IEEE division.

    Scale shape: ONE distinct (type, user) compression first (the
    'stripes-lite' trick — raw events never self-join); the pair
    self-join fans out ≤ |types per user|² per user, bounded by the
    type vocabulary, never by event volume; sizes are a tiny re-agg
    broadcast back. At 100 TB with a large item vocabulary the same
    plan holds with a frequency cutoff on the compression output."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("event_type", "user_id").distinct()
    sizes = ud.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )
    a = ud.select(F.col("event_type").alias("type_a"), "user_id")
    b = ud.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
    )
