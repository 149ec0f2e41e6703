"""Stretch operators (SURVEY.md §2 stretch list): approximate
aggregates and sampling — the 100 TB workhorses where exactness is
traded for one-pass/bounded-memory execution. Inherently
nondeterministic vs another engine's sketches → rows-only contract;
accuracy bounds pinned in tests/test_stretch.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.materialize import temp_view
from hadoop_release_spark.plans.registry import register

#: s01 — configured HLL++ relative standard deviation; the published
#: accuracy contract is err ~ N(0, rsd), so tests assert the ±3σ
#: envelope of THIS constant (tests/test_stretch.py).
S01_RSD = 0.02

#: s02 — percentile_approx accuracy parameter; published guarantee:
#: returned value's rank is within ±n/accuracy of the target rank.
S02_ACCURACY = 10000

#: s06 — Apache DataSketches HLL at Spark's default lgConfigK=12:
#: relative standard error = 1.04 / sqrt(2^12).
S06_HLL_RSE = 1.04 / (2 ** 12) ** 0.5


@register("s01_approx_count_distinct", oracle=None, priority="P2")
def s01_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts (rsd=2%): fixed-size sketch per
    group vs the exact variant's full key set — the only viable
    distinct-count at 100 TB cardinalities."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=S01_RSD).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=S01_RSD).alias("approx_orders"),
    )


@register("s02_percentile_approx", oracle=None, priority="P2")
def s02_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna style sketch,
    accuracy=10000): single-pass bounded-memory quantiles."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, S02_ACCURACY).alias("approx_median"),
        F.percentile_approx("o_totalprice", 0.95, S02_ACCURACY).alias("approx_p95"),
    )


@register("s03_sample_seeded", oracle=None, priority="P2")
def s03_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling (df.sample): reproducible within
    Spark for a fixed seed+partitioning, not across engines → rows
    -only. Systematic sampling (key % N = 0) is the cross-engine
    deterministic alternative used inside contract queries."""
    li = table(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")


@register(
    "s04_sequencefile_roundtrip",
    oracle="SELECT n_nationkey, n_name FROM nation",
    priority="P2",
)
def s04_sequencefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SequenceFile (K,V) round-trip — Hadoop's native record
    container, via the RDD API (the ONLY deliberate RDD use in this
    engine; every other operator is a DataFrame plan). The Writable
    FORMAT has no DuckDB analog but the round-trip must be lossless,
    so the oracle is simply the source table — the hash gate proves
    losslessness."""
    from hadoop_release_spark.sources.roundtrip import scratch_dir

    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    path = scratch_dir("s04seq") + "/data"
    nation.rdd.map(lambda r: (int(r.n_nationkey), r.n_name)).saveAsSequenceFile(path)
    back = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(back, "n_nationkey long, n_name string")


@register(
    "s05_pipe_external",
    oracle="SELECT doc_id, upper(lang) AS lang_upper FROM documents",
    priority="P2",
)
def s05_pipe_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadoop Streaming — the literal analog: stream records through
    an external process via rdd.pipe (here `tr a-z A-Z` as the
    stand-in streaming mapper). k06's mapInPandas is the performant
    modern form; this exists for API-surface parity with the
    reference's hadoop-streaming jar. The external mapper is
    deterministic, so the oracle states its effect (`upper(lang)`)
    and the hash gate checks the pipe round-trip."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    piped = docs.rdd.map(lambda r: f"{r.doc_id}\t{r.lang}").pipe("tr a-z A-Z")
    parsed = piped.map(lambda line: line.split("\t")).map(lambda p: (int(p[0]), p[1]))
    return spark.createDataFrame(parsed, "doc_id long, lang_upper string")


@register("s06_hll_sketch_union", oracle=None, priority="P2")
def s06_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via
    hll_sketch_agg): per-group sketches PLUS a global estimate
    computed by UNIONING the group sketches — never rescanning the
    data. Mergeability is the scale property: at 100 TB, per-
    partition/per-day sketches are stored once and any rollup
    (region, month, total) is a cheap sketch union. Rows-only
    (sketch estimates are library-specific); accuracy vs exact is
    pinned in tests/test_stretch.py."""
    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    flag_rows = per_flag.select(
        "l_returnflag", F.hll_sketch_estimate("sk").alias("est_orders")
    )
    total_row = per_flag.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("l_returnflag"),
        F.hll_sketch_estimate("sk").alias("est_orders"),
    )
    return flag_rows.unionByName(total_row)


@register(
    "s07_python_datasource",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
    priority="P2",
)
def s07_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (PySpark 4 DataSource API) — the
    modern "write your own InputFormat" extension point: metadata-
    only split planning (partitions()) + per-split Arrow-batch
    record reading (read()); see sources/pydatasource.py. The
    re-read content must equal the table, proving both hooks."""
    from hadoop_release_spark.sources import pydatasource

    pydatasource.register(spark)
    return (
        spark.read.format("docsrc")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("numPartitions", "4")
        .load()
    )


#: s08 bloom geometry: m bits / k hashes for the dim-key filter.
#: m=8192, |keys|≈40 ⇒ theoretical fp ≈ (1-e^(-3·40/8192))^3 ≈ 3e-6.
BLOOM_BITS = 8192
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_HASHES = 3


@register(
    "s08_bloom_prune",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
    GROUP BY l_returnflag
    """,
    priority="P2",
)
def s08_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning — the runtime-filter pattern built
    from first principles as a DataFrame composition: (1) BUILD — the
    selective dim keyset (parts with p_size=1) explodes to k=3
    xxhash64 bit positions, bit_or-aggregated into a 128-word bitmask
    and collapsed to ONE array row; (2) PROBE — the mask broadcasts
    to every fact task, where a pure bitwise expression (shiftleft /
    & inside whole-stage codegen) drops non-matching rows BEFORE any
    shuffle; (3) VERIFY — an exact broadcast semi-join on the
    survivors removes the ~3e-6 false positives, keeping the result
    EXACT (hence the plain-SQL oracle: the bloom is an optimization,
    invisible in the semantics).

    Scale shape: this is what Spark's InjectRuntimeFilter does for
    qualifying plans (thresholds don't trigger at fixture scale, so
    the composition shows the mechanics explicitly). At 100 TB the
    payoff is the probe: a few-KB mask prunes the fact scan's
    shuffle volume by the dim selectivity with zero extra shuffles —
    the build agg ships #tasks × 128 words, the verify side is the
    already-selective dim keyset, broadcast. The same composition is
    how a distributed bloom build works on any engine; here every
    step is a Catalyst-visible declarative op."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    keys = p.filter(F.col("p_size") == 1).select("p_partkey")

    def positions(key_col):
        return [
            F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(BLOOM_BITS))
            for i in range(BLOOM_HASHES)
        ]

    bits = keys.select(
        F.explode(F.array(*positions(F.col("p_partkey")))).alias("pos")
    )
    words = bits.select(
        (F.col("pos") / 64).cast("int").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
    ).groupBy("w").agg(F.bit_or("bit").alias("word"))
    mask = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(BLOOM_WORDS - 1)),
            # map lookup by KEY w=i (element_at on a map is key-based;
            # the resulting ARRAY is then 1-indexed on the probe side)
            lambda i: F.coalesce(F.element_at(F.col("wm"), i.cast("int")), F.lit(0).cast("long")),
        ).alias("mask")
    )

    probed = li.crossJoin(F.broadcast(mask))
    for i, pos in enumerate(positions(F.col("l_partkey"))):
        probed = probed.withColumn(f"_pos{i}", pos).filter(
            F.expr(
                f"(element_at(mask, CAST(_pos{i} / 64 AS INT) + 1)"
                f" & shiftleft(CAST(1 AS BIGINT), CAST(_pos{i} % 64 AS INT))) != 0"
            )
        )
    exact = probed.join(F.broadcast(keys), probed.l_partkey == keys.p_partkey, "left_semi")
    return exact.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
    )


#: s09 — the SQL text run through BOTH engines. Spark-side quoting of
#: temp views matches the DuckDB views, so the statement is shared
#: verbatim (one dialect-neutral ANSI string; the osum wrapper is the
#: only generated fragment).
_S09_SQL = """
WITH revenue AS (
  SELECT o.o_custkey AS custkey,
         CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(25,8))), 4) AS DOUBLE) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey
), ranked AS (
  SELECT c.c_mktsegment AS segment, r.custkey, r.rev,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY r.rev DESC, r.custkey) AS rnk
  FROM revenue r JOIN customer c ON r.custkey = c.c_custkey
)
SELECT segment, custkey, rev, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
"""


@register("s09_sql_frontend", oracle=_S09_SQL, priority="P1")
def s09_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry path — the surface a Hive/SQL user of the
    reference actually migrates to: fixture tables registered as
    temp views, one dialect-neutral ANSI statement (CTEs, fact-fact
    join, decimal-exact agg, ranked window, top-N filter) executed
    via ``spark.sql``. The ORACLE IS THE SAME SQL TEXT run by DuckDB
    — proving the engine's SQL frontend computes what ANSI says, not
    just that two hand-built plans agree.

    Catalyst compiles this to the identical physical plan the
    DataFrame composition would produce (same pushdown, partial agg,
    window exchange) — pinned by the plan-hygiene sweep, which sees
    this query like any other.

    Scale shape: rev agg shuffles on custkey; the segment rank
    window shuffles the per-customer rollup (|customers| rows, not
    |lineitem|); top-5 filter fuses into the window stage. Views over
    100 TB paths behave identically — temp views are metadata only."""
    for name in ("lineitem", "orders", "customer"):
        temp_view(spark, name, table(spark, sf_dir, name))
    return spark.sql(_S09_SQL)


@register(
    "s10_python_datasource_stream",
    oracle="SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY doc_id, lang",
    priority="P2",
)
def s10_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python Data Source (PySpark 4
    DataSourceStreamReader) — the partition-planned streaming
    variant of s07's "write your own InputFormat": offsets are row
    positions, each micro-batch's [start, end) range is planned into
    row-range splits from parquet METADATA on the driver and read on
    EXECUTORS as Arrow batches (sources/pydatasource.py;
    SimpleDataSourceStreamReader is deliberately NOT used — it
    prefetches on the driver and is for low-throughput sources
    only). The bounded fixture drains under availableNow; the same
    code tails a growing file by re-reading the footer per trigger.
    Grouped per (doc_id, lang) so the oracle also certifies
    exactly-once delivery: any split read twice or dropped changes
    a count."""
    from hadoop_release_spark.sources import pydatasource
    from hadoop_release_spark.streaming.runner import materialize

    pydatasource.register(spark)
    stream = (
        spark.readStream.format("docsrc")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("numPartitions", "4")
        .load()
    )
    agg = stream.groupBy("doc_id", "lang").agg(F.count("*").alias("n"))
    return materialize(agg, output_mode="complete")


#: s11 CMS geometry: d=4 hash rows × w=256 buckets; row-i hash =
#: md5(key || ':' || i) first 8 hex as int mod w (rule-6 portable).
CMS_DEPTH = 4
CMS_WIDTH = 256
#: Query keys: the bounded evaluation set whose estimates we check.
CMS_QUERY_BOUND = 100


@register(
    "s11_countmin_sketch",
    oracle=f"""
    WITH keys AS (
      SELECT l_partkey FROM lineitem
    ), hashed AS (
      SELECT l_partkey, i.i,
             CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 8))::BIGINT
                  % {CMS_WIDTH} AS BIGINT) AS bucket
      FROM keys CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS i) i
    ), sketch AS (
      SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
      FROM hashed GROUP BY i, bucket
    ), qk AS (
      SELECT DISTINCT l_partkey FROM lineitem
      WHERE l_partkey < {CMS_QUERY_BOUND}
    ), qh AS (
      SELECT qk.l_partkey, i.i,
             CAST(('0x' || substring(md5(CAST(qk.l_partkey AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 8))::BIGINT
                  % {CMS_WIDTH} AS BIGINT) AS bucket
      FROM qk CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS i) i
    ), est AS (
      SELECT q.l_partkey, min(s.c) AS cms_estimate
      FROM qh q JOIN sketch s USING (i, bucket)
      GROUP BY q.l_partkey
    ), truth AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS true_count
      FROM lineitem WHERE l_partkey < {CMS_QUERY_BOUND}
      GROUP BY l_partkey
    )
    SELECT t.l_partkey, t.true_count, e.cms_estimate
    FROM truth t JOIN est e USING (l_partkey)
    """,
    priority="P2",
)
def s11_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan): fixed d×w counter
    grid estimating ANY key's frequency with one-sided error
    (estimate ≥ truth, over-count ≤ εN w.h.p.) — the mergeable
    frequency sketch for streams and shards, complementing s01/s06's
    cardinality sketches and d21's exact heavy hitters. UNLIKE the
    HLL ops this one is FULLY hash-oracled: the row hashes are
    md5-derived (rule 6), so the sketch contents — and therefore
    every estimate — are bit-identical in any engine. The one-sided
    error bound is additionally pytest-pinned.

    Scale shape: the build is ONE partial+final agg over keys×d
    slim (i, bucket) rows — map-side combine collapses to ≤ d·w
    counters per task, the definition of a mergeable sketch (shard
    sketches SUM cell-wise); estimates probe d cells per query key
    via a join on the d·w-row sketch (broadcast-sized at any scale,
    since d·w is a constant)."""
    li = table(spark, sf_dir, "lineitem")
    ii = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("i")

    def bucket(key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", key_col.cast("string"), F.col("i"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % CMS_WIDTH
        )

    hashed = li.select(F.col("l_partkey"), ii).select(
        "l_partkey", "i", bucket(F.col("l_partkey")).alias("bucket")
    )
    sketch = hashed.groupBy("i", "bucket").agg(
        F.count("*").cast("long").alias("c")
    )
    qk = (
        li.filter(F.col("l_partkey") < CMS_QUERY_BOUND)
        .select("l_partkey")
        .distinct()
    )
    qh = qk.select(F.col("l_partkey"), ii).select(
        "l_partkey", "i", bucket(F.col("l_partkey")).alias("bucket")
    )
    est = (
        qh.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("l_partkey")
        .agg(F.min("c").alias("cms_estimate"))
    )
    truth = (
        li.filter(F.col("l_partkey") < CMS_QUERY_BOUND)
        .groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("true_count"))
    )
    return truth.join(est, "l_partkey").select(
        "l_partkey", "true_count", "cms_estimate"
    )
